package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus + analytics operators, r9 wave 20 (SURVEY.md §2.M):
  * blocked interval-overlap self-join, chi-squared independence gate,
  * PSI distribution drift, the zone-map prune-ratio layout audit,
  * item-item cosine recommendations, and conversion-latency cohort
  * quantiles.
  *
  * Determinism contract (CorpusOps5-12): exact int64 arithmetic
  * (DECIMAL(38,0)/HUGEINT where products exceed int64) up to at most
  * one final IEEE division; every integer division has non-negative
  * operands so Spark `div` and DuckDB `//` agree.
  */
object CorpusOps13 {

  /** Micro-bit log (the qMixKl discipline): both engines compute
    * log2 of the SAME integer and round to micro units. */
  private def lg(c: Column): Column = round(log2(c) * lit(1e6)).cast("long")

  /** Interval-overlap self-join, blocked by customer: pairs of orders
    * from the SAME customer whose active intervals
    * [o_orderdate, max l_shipdate] overlap — the double-booking /
    * concurrent-exposure detector. The non-equi overlap predicate
    * rides a customer equi-key, so the join is co-partitioned blocks,
    * NEVER a cartesian range join (the q_join_range_bucketed rule);
    * output is the per-customer overlap profile, not the pair list.
    *
    * Exactness: overlap_days = datediff(least(end), greatest(start))
    * + 1 — pure date integer arithmetic.
    *
    * Scale: per-order intervals partial-aggregate on the co-keyed
    * join; the self-join fan-out is bounded by per-customer order
    * counts squared (the blocking assumption every ER system makes);
    * the profile rollup partial-aggregates. */
  val qJoinIntervalOverlap: Q = (s, dir) => {
    val iv = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy(col("o_custkey"), col("o_orderkey"))
      .agg(to_date(min(col("o_orderdate"))).as("start_d"),
        // clamped like q_ts_concurrency: synthetic shipdates are
        // independent of the order date, an unclamped end inverts
        greatest(to_date(coalesce(max(col("l_shipdate")),
          min(col("o_orderdate")))),
          to_date(min(col("o_orderdate")))).as("end_d"))
    val a = iv.select(col("o_custkey").as("ck"), col("o_orderkey").as("ka"),
      col("start_d").as("sa"), col("end_d").as("ea"))
    val b = iv.select(col("o_custkey").as("ck"), col("o_orderkey").as("kb"),
      col("start_d").as("sb"), col("end_d").as("eb"))
    a.join(b, Seq("ck"))
      .filter(col("ka") < col("kb") &&
        col("sa") <= col("eb") && col("sb") <= col("ea"))
      .select(col("ck"),
        (datediff(least(col("ea"), col("eb")),
          greatest(col("sa"), col("sb"))) + 1).cast("long")
          .as("overlap_days"))
      .groupBy(col("ck"))
      .agg(count(lit(1)).as("n_overlapping_pairs"),
        max(col("overlap_days")).as("max_overlap_days"),
        sum(col("overlap_days")).as("total_overlap_days"))
      .orderBy(col("ck"))
  }

  /** Chi-squared independence test between document source and
    * language (Pearson 1900) — the categorical-drift twin of q_mix_kl:
    * χ² = Σ_cells (o·N − n_s·n_l)² / (N·n_s·n_l), emitted per cell in
    * exact micro units plus the (order-invariant integer) total. The
    * squared numerator exceeds int64, so it rides DECIMAL(38,0) /
    * HUGEINT; each cell's micro value is one integral division of
    * non-negative exact terms.
    *
    * Scale: one |sources|×|langs| partial-aggregated shuffle; the
    * margin cross product (dimension-bounded) restores the ZERO cells
    * — χ² must charge (0−e)²/e for unobserved combinations or it
    * understates dependence; the total is a window sum over the
    * grid-bounded cell table. */
  val qDqChi2: Q = (s, dir) => {
    val cell = Tables(s, dir, "documents")
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
    val perS = cell.groupBy(col("source")).agg(sum(col("o")).as("n_s"))
    val perL = cell.groupBy(col("lang")).agg(sum(col("o")).as("n_l"))
    val tot = cell.agg(sum(col("o")).as("n_total"))
    perS.crossJoin(perL)
      .join(cell, Seq("source", "lang"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("e_micro",
        expr("""CAST(CAST(n_s AS DECIMAL(38, 0)) * n_l * 1000000
                div n_total AS BIGINT)"""))
      .withColumn("cell_chi2_micro",
        expr("""CAST(CAST(o * n_total - n_s * n_l AS DECIMAL(38, 0)) *
                  (o * n_total - n_s * n_l) * 1000000
                div (CAST(n_total AS DECIMAL(38, 0)) * n_s * n_l)
                AS BIGINT)"""))
      .withColumn("chi2_total_micro", sum(col("cell_chi2_micro"))
        .over(Window.rowsBetween(Long.MinValue, Long.MaxValue)))
      .select(col("source"), col("lang"), col("o"), col("e_micro"),
        col("cell_chi2_micro"), col("chi2_total_micro"))
      .orderBy(col("source"), col("lang"))
  }

  /** Population Stability Index between the first and second half of
    * the event-time range (the model-monitoring drift number credit
    * scoring standardized): PSI = Σ_bins (p−q)·log(p/q) over
    * value bins, Laplace-smoothed (+1 per observed bin) so empty
    * cells stay finite. Same exact decomposition as q_mix_kl: the
    * integer cross terms (c1·n2 − c2·n1)·(lg(c1·n2) − lg(c2·n1))
    * sum exactly (DECIMAL(38,0) — the product tops int64 at corpus
    * scale), and ONE IEEE division by n1·n2 lands psi_microbits.
    *
    * Scale: the split day is a broadcast 1-row scalar; per-(bin,half)
    * counts fold in one partial-aggregated shuffle over the bounded
    * bin axis; everything after is bin-table-sized. */
  val qMixPsi: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select(to_date(col("ts")).as("day"),
        floor(col("value") / 50).cast("long").as("bin"))
    val mid = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(date_add(col("d0"),
        expr("datediff(d1, d0) div 2").cast("int")).as("mid"))
    val counts = ev.crossJoin(broadcast(mid))
      .groupBy(col("bin"))
      .agg(sum(when(col("day") <= col("mid"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("day") > col("mid"), 1L).otherwise(0L)).as("c2"))
      .select(col("bin"), (col("c1") + 1).as("c1s"), (col("c2") + 1).as("c2s"))
    val wAll = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    counts
      .withColumn("n1s", sum(col("c1s")).over(wAll))
      .withColumn("n2s", sum(col("c2s")).over(wAll))
      // the count-difference factor is promoted to DECIMAL(38,0) BEFORE
      // the multiply — mirroring the oracle's HUGEINT cast placement —
      // so the product cannot wrap int64 at corpus-scale counts
      // (ADVICE r9: casting only the finished product left a silent
      // long overflow inside it)
      .withColumn("term",
        (col("c1s") * col("n2s") - col("c2s") * col("n1s"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
        (lg(col("c1s") * col("n2s")) - lg(col("c2s") * col("n1s"))))
      .agg(count(lit(1)).as("n_bins"),
        max(col("n1s")).as("n1s"), max(col("n2s")).as("n2s"),
        sum(col("term")).as("term_sum"))
      .select(col("n_bins"), col("n1s"), col("n2s"),
        (col("term_sum").cast("double") /
          (col("n1s") * col("n2s")).cast("double")).as("psi_microbits"))
  }

  /** Zone-map prune-ratio audit across three physical layouts —
    * natural (arrival) order, single-key sort, and Z-order — the
    * data-layout decision every 100 TB table owner makes, quantified:
    * rows carry 6-bit keys a = l_partkey % 64, b = l_suppkey % 64;
    * each layout is cut into 64 equal row buckets (the stand-ins for
    * parquet files); a bucket is prunable for a predicate iff its
    * min/max zone excludes the range — exactly how file-footer
    * statistics drive scan pruning. Z-order prunes on BOTH dimensions;
    * the single-key sort on one; natural order on none (pinned in the
    * spec).
    *
    * Scale note: the three global row_number sorts exist only to
    * SIMULATE layouts on one file — a real table is already laid out,
    * and the zones come free from footer min/max. The audit output is
    * 3 rows regardless of input size; bench-skipped by design. */
  val qLayoutZonemapAudit: Q = (s, dir) => {
    val t = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        (col("l_partkey") % 64).as("a"), (col("l_suppkey") % 64).as("b"))
      .withColumn("zv", call_function("zorder64", col("a"), col("b")))
    val n = t.agg(count(lit(1)).as("n"))
    val withRn = t.crossJoin(broadcast(n))
      .withColumn("rn_nat", row_number().over(
        Window.orderBy(col("ok"), col("ln"))))
      .withColumn("rn_pk", row_number().over(
        Window.orderBy(col("a"), col("ok"), col("ln"))))
      .withColumn("rn_z", row_number().over(
        Window.orderBy(col("zv"), col("ok"), col("ln"))))
    val buckets = withRn.select(col("a"), col("b"), col("n"), explode(array(
        struct(lit("1_natural").as("layout"), col("rn_nat").as("rn")),
        struct(lit("2_partkey_sort").as("layout"), col("rn_pk").as("rn")),
        struct(lit("3_zorder").as("layout"), col("rn_z").as("rn")))).as("l"))
      .select(col("a"), col("b"), col("l.layout").as("layout"),
        expr("CAST((l.rn - 1) * 64 div n AS BIGINT)").as("bucket"))
      .groupBy(col("layout"), col("bucket"))
      .agg(min(col("a")).as("min_a"), max(col("a")).as("max_a"),
        min(col("b")).as("min_b"), max(col("b")).as("max_b"))
    // predicate under audit: a IN [10,13] AND b IN [20,23]
    buckets
      .withColumn("prune_a", col("max_a") < 10 || col("min_a") > 13)
      .withColumn("prune_b", col("max_b") < 20 || col("min_b") > 23)
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(col("prune_a"), 1L).otherwise(0L)).as("pruned_a"),
        sum(when(col("prune_b"), 1L).otherwise(0L)).as("pruned_b"),
        sum(when(col("prune_a") || col("prune_b"), 1L).otherwise(0L))
          .as("pruned_conjunctive"))
      .orderBy(col("layout"))
  }

  /** Item-item cosine collaborative filtering (Sarwar et al., WWW
    * 2001): items as binary order-membership vectors, cosine(i,j) =
    * c_ij / √(c_i·c_j) from co-occurrence counts, top-5 neighbors per
    * item. The q_basket_pairs machinery (distinct-projected blocked
    * self-join, support ≥ 2 prune, partial aggregation before the
    * prune) reused for the recommender read path.
    *
    * Exactness: counts are exact ints; the cosine is one IEEE divide
    * of exact operands (identical bits both engines); ranking
    * tie-breaks on partner id.
    *
    * Scale: pair fan-out is blocked per order (basket-bounded); item
    * counts broadcast back; per-item top-k is a rank window over the
    * support-pruned pair table, lowered to WindowGroupLimit. */
  val qRecItemCos: Q = (s, dir) => {
    // persisted like q_basket_pairs' liP (optimization r17): the
    // distinct basket stream feeds the item-count agg and both pair
    // fan-out sides — unpersisted, the scan + distinct shuffle ran per
    // consumer (exchange reuse only covered the self-join's two sides)
    val oi = graft.CacheScope.track(Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ci = oi.groupBy(col("pk")).agg(count(lit(1)).as("c"))
    val pairs = oi.join(oi.select(col("ok"), col("pk").as("pk2")), Seq("ok"))
      .filter(col("pk") < col("pk2"))
      .groupBy(col("pk"), col("pk2")).agg(count(lit(1)).as("cij"))
      .filter(col("cij") >= 2)
    val sym = pairs.select(explode(array(
        struct(col("pk").as("item"), col("pk2").as("partner"), col("cij")),
        struct(col("pk2").as("item"), col("pk").as("partner"), col("cij"))))
        .as("p"))
      .select(col("p.item").as("item"), col("p.partner").as("partner"),
        col("p.cij").as("cij"))
    val scored = sym
      .join(ci.select(col("pk").as("item"), col("c").as("ci")), Seq("item"))
      .join(ci.select(col("pk").as("partner"), col("c").as("cj")),
        Seq("partner"))
      .select(col("item"), col("partner"), col("cij"),
        (col("cij").cast("double") /
          sqrt((col("ci") * col("cj")).cast("double"))).as("cos"))
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("item"))
        .orderBy(col("cos").desc, col("partner"))))
      .filter(col("rnk") <= 5)
      .select(col("item"), col("rnk"), col("partner"), col("cij"), col("cos"))
      .orderBy(col("item"), col("rnk"))
  }

  /** Signup→first-purchase conversion latency by signup-month cohort:
    * per user the earliest signup and the first purchase AT OR AFTER
    * it; per cohort the conversion count and the exact discrete
    * latency quantiles (p50/p90) in whole seconds — the activation
    * funnel's time dimension (q_funnel counts stages; this times
    * them).
    *
    * Exactness: latency = integer microsecond difference div 1e6
    * (non-negative by the join predicate); percentile_disc picks an
    * ACTUAL value, so no interpolation arithmetic crosses engines.
    *
    * Scale: both event slices partial-aggregate per user before the
    * user-keyed join (co-partitioned); the cohort rollup is
    * calendar-bounded. */
  val qTsLatency: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu_user"), col("ts").as("buy_ts"))
    // the at-or-after condition lives IN the left join so a user whose
    // purchases all precede signup still appears (unconverted)
    val firstBuy = su.join(pu,
        col("user_id") === col("pu_user") &&
          col("buy_ts") >= col("signup_ts"), "left")
      .groupBy(col("user_id"), col("signup_ts"))
      .agg(min(col("buy_ts")).as("first_buy"))
    firstBuy
      .select(date_format(col("signup_ts"), "yyyy-MM").as("cohort"),
        expr("(unix_micros(first_buy) - unix_micros(signup_ts)) " +
          "div 1000000").as("latency_s"))
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_signups"),
        count(col("latency_s")).as("n_converted"),
        // Spark's percentile_disc yields DOUBLE; the picked value is an
        // actual long (< 2^53, exact round trip), so cast back to match
        // DuckDB's BIGINT quantile_disc
        expr("CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY latency_s) AS BIGINT)")
          .as("p50_latency_s"),
        expr("CAST(percentile_disc(0.90) WITHIN GROUP (ORDER BY latency_s) AS BIGINT)")
          .as("p90_latency_s"))
      .orderBy(col("cohort"))
  }

  val queries: Map[String, Q] = Map(
    "q_join_interval_overlap" -> qJoinIntervalOverlap,
    "q_dq_chi2" -> qDqChi2,
    "q_mix_psi" -> qMixPsi,
    "q_layout_zonemap_audit" -> qLayoutZonemapAudit,
    "q_rec_itemcos" -> qRecItemCos,
    "q_ts_latency" -> qTsLatency)

  val oracle: Map[String, String] = Map(
    "q_join_interval_overlap" -> """
      WITH iv AS (SELECT o_custkey AS ck, o_orderkey,
                    CAST(min(o_orderdate) AS DATE) AS start_d,
                    greatest(CAST(coalesce(max(l_shipdate),
                        min(o_orderdate)) AS DATE),
                      CAST(min(o_orderdate) AS DATE)) AS end_d
                  FROM orders LEFT JOIN lineitem
                    ON o_orderkey = l_orderkey
                  GROUP BY 1, 2),
      pairs AS (SELECT a.ck,
                  CAST(date_diff('day',
                    greatest(a.start_d, b.start_d),
                    least(a.end_d, b.end_d)) + 1 AS BIGINT)
                    AS overlap_days
                FROM iv a JOIN iv b ON a.ck = b.ck
                  AND a.o_orderkey < b.o_orderkey
                  AND a.start_d <= b.end_d AND b.start_d <= a.end_d)
      SELECT ck, count(*) AS n_overlapping_pairs,
        max(overlap_days) AS max_overlap_days,
        CAST(sum(overlap_days) AS BIGINT) AS total_overlap_days
      FROM pairs GROUP BY ck ORDER BY ck""",
    "q_dq_chi2" -> """
      WITH cell AS (SELECT source, lang, count(*) AS o
                    FROM documents GROUP BY 1, 2),
      ps AS (SELECT source, CAST(sum(o) AS BIGINT) AS n_s
             FROM cell GROUP BY 1),
      pl AS (SELECT lang, CAST(sum(o) AS BIGINT) AS n_l
             FROM cell GROUP BY 1),
      tot AS (SELECT CAST(sum(o) AS BIGINT) AS n_total FROM cell),
      grid AS (SELECT source, lang, n_s, n_l,
                 coalesce(o, 0) AS o
               FROM ps CROSS JOIN pl
                 LEFT JOIN cell USING (source, lang)),
      x AS (SELECT source, lang, o, n_s, n_l, n_total,
              CAST(CAST(n_s AS HUGEINT) * n_l * 1000000 // n_total
                AS BIGINT) AS e_micro,
              CAST(CAST(o * n_total - n_s * n_l AS HUGEINT) *
                  (o * n_total - n_s * n_l) * 1000000
                // (CAST(n_total AS HUGEINT) * n_s * n_l)
                AS BIGINT) AS cell_chi2_micro
            FROM grid CROSS JOIN tot)
      SELECT source, lang, o, e_micro, cell_chi2_micro,
        CAST(sum(cell_chi2_micro) OVER () AS BIGINT)
          AS chi2_total_micro
      FROM x ORDER BY source, lang""",
    "q_mix_psi" -> """
      WITH ev AS (SELECT CAST(ts AS DATE) AS day,
                    CAST(floor(value / 50) AS BIGINT) AS bin
                  FROM events),
      mid AS (SELECT min(day) + CAST(date_diff('day', min(day),
                  max(day)) // 2 AS INT) AS mid
              FROM ev),
      counts AS (SELECT bin,
                   CAST(sum(CASE WHEN day <= mid THEN 1 ELSE 0 END) + 1
                     AS BIGINT) AS c1s,
                   CAST(sum(CASE WHEN day > mid THEN 1 ELSE 0 END) + 1
                     AS BIGINT) AS c2s
                 FROM ev CROSS JOIN mid GROUP BY 1),
      t AS (SELECT bin, c1s, c2s,
              CAST(sum(c1s) OVER () AS BIGINT) AS n1s,
              CAST(sum(c2s) OVER () AS BIGINT) AS n2s
            FROM counts),
      terms AS (SELECT count(*) AS n_bins,
                  max(n1s) AS n1s, max(n2s) AS n2s,
                  CAST(sum(CAST((c1s * n2s - c2s * n1s) AS HUGEINT) *
                    (CAST(round(log2(c1s * n2s) * 1000000) AS BIGINT) -
                     CAST(round(log2(c2s * n1s) * 1000000) AS BIGINT)))
                    AS HUGEINT) AS term_sum
                FROM t)
      SELECT n_bins, n1s, n2s,
        CAST(term_sum AS DOUBLE) /
          (CAST(n1s AS DOUBLE) * CAST(n2s AS DOUBLE)) AS psi_microbits
      FROM terms""",
    "q_layout_zonemap_audit" -> """
      WITH t AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
                   CAST(l_partkey % 64 AS BIGINT) AS a,
                   CAST(l_suppkey % 64 AS BIGINT) AS b
                 FROM lineitem),
      z AS (SELECT ok, ln, a, b,
              (((a >> 0) & 1) * 1 + ((b >> 0) & 1) * 2 +
               ((a >> 1) & 1) * 4 + ((b >> 1) & 1) * 8 +
               ((a >> 2) & 1) * 16 + ((b >> 2) & 1) * 32 +
               ((a >> 3) & 1) * 64 + ((b >> 3) & 1) * 128 +
               ((a >> 4) & 1) * 256 + ((b >> 4) & 1) * 512 +
               ((a >> 5) & 1) * 1024 + ((b >> 5) & 1) * 2048) AS zv,
              count(*) OVER () AS n
            FROM t),
      rn AS (SELECT a, b, n,
               row_number() OVER (ORDER BY ok, ln) AS rn_nat,
               row_number() OVER (ORDER BY a, ok, ln) AS rn_pk,
               row_number() OVER (ORDER BY zv, ok, ln) AS rn_z
             FROM z),
      lay AS (
        SELECT a, b, '1_natural' AS layout,
          CAST((rn_nat - 1) * 64 // n AS BIGINT) AS bucket FROM rn
        UNION ALL
        SELECT a, b, '2_partkey_sort',
          CAST((rn_pk - 1) * 64 // n AS BIGINT) FROM rn
        UNION ALL
        SELECT a, b, '3_zorder',
          CAST((rn_z - 1) * 64 // n AS BIGINT) FROM rn),
      bk AS (SELECT layout, bucket,
               min(a) AS min_a, max(a) AS max_a,
               min(b) AS min_b, max(b) AS max_b
             FROM lay GROUP BY 1, 2),
      fl AS (SELECT layout,
               (max_a < 10 OR min_a > 13) AS prune_a,
               (max_b < 20 OR min_b > 23) AS prune_b
             FROM bk)
      SELECT layout, count(*) AS n_buckets,
        CAST(sum(CASE WHEN prune_a THEN 1 ELSE 0 END) AS BIGINT)
          AS pruned_a,
        CAST(sum(CASE WHEN prune_b THEN 1 ELSE 0 END) AS BIGINT)
          AS pruned_b,
        CAST(sum(CASE WHEN prune_a OR prune_b THEN 1 ELSE 0 END)
          AS BIGINT) AS pruned_conjunctive
      FROM fl GROUP BY layout ORDER BY layout""",
    "q_rec_itemcos" -> """
      WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem),
      ci AS (SELECT pk, count(*) AS c FROM oi GROUP BY 1),
      pairs AS (SELECT a.pk, b.pk AS pk2, count(*) AS cij
                FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2 HAVING count(*) >= 2),
      sym AS (SELECT pk AS item, pk2 AS partner, cij FROM pairs
              UNION ALL
              SELECT pk2, pk, cij FROM pairs),
      scored AS (SELECT item, partner, cij,
                   CAST(cij AS DOUBLE) /
                     sqrt(CAST(ca.c * cb.c AS DOUBLE)) AS cos
                 FROM sym
                   JOIN ci ca ON ca.pk = item
                   JOIN ci cb ON cb.pk = partner)
      SELECT item, CAST(row_number() OVER (PARTITION BY item
          ORDER BY cos DESC, partner) AS INT) AS rnk,
        partner, CAST(cij AS BIGINT) AS cij, cos
      FROM scored QUALIFY rnk <= 5 ORDER BY item, rnk""",
    "q_ts_latency" -> """
      WITH su AS (SELECT user_id, min(ts) AS signup_ts
                  FROM events WHERE event_type = 'signup' GROUP BY 1),
      fb AS (SELECT su.user_id, su.signup_ts,
               min(e.ts) AS first_buy
             FROM su LEFT JOIN events e ON e.user_id = su.user_id
               AND e.event_type = 'purchase' AND e.ts >= su.signup_ts
             GROUP BY 1, 2),
      lat AS (SELECT strftime(signup_ts, '%Y-%m') AS cohort,
                CAST(date_diff('microsecond', signup_ts, first_buy)
                  // 1000000 AS BIGINT) AS latency_s
              FROM fb)
      SELECT cohort, count(*) AS n_signups,
        count(latency_s) AS n_converted,
        quantile_disc(latency_s, 0.50) AS p50_latency_s,
        quantile_disc(latency_s, 0.90) AS p90_latency_s
      FROM lat GROUP BY cohort ORDER BY cohort""")
}
