package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus + analytics operators, r9 wave 19 (SURVEY.md §2.M): CUSUM
  * changepoint detection, interval-sweep concurrency, a binned
  * two-sample Kolmogorov-Smirnov drift gate, Gini revenue
  * concentration, MATCH_RECOGNIZE-style event-pattern counting, and
  * the Damerau-Levenshtein vocabulary join (the custom-Expression
  * showcase — `functions/DamerauLevenshtein.scala`).
  *
  * Determinism contract (CorpusOps5-11): exact int64 arithmetic up to
  * at most one final IEEE division; every integer division has
  * non-negative operands so Spark `div` and DuckDB `//` agree.
  */
object CorpusOps12 {

  /** CUSUM changepoint detection on daily event volume (Page,
    * "Continuous inspection schemes", Biometrika 1954): the cumulative
    * sum of deviations from the global mean peaks at the most likely
    * level-shift point. Kept EXACT by scaling out the mean: with N days
    * and total S, cusum_scaled(i) = N·Σ_{j<=i} y_j − i·S  ==
    * N·Σ(y_j − S/N) — all int64, no division anywhere. The changepoint
    * is the day maximizing |cusum_scaled| (ties → earliest day), and
    * by construction the statistic returns to exactly 0 at the last
    * day (pinned in AnalyticsOps3Spec).
    *
    * Scale: the daily rollup is one partial-aggregated shuffle; the
    * cumulative window orders DAYS (calendar-bounded — thousands of
    * rows at any corpus size), not events; N and S broadcast as a
    * 1-row scalar. */
  val qTsChangepoint: Q = (s, dir) => {
    val daily = Tables(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    val tot = daily.agg(count(lit(1)).as("n_days"), sum(col("y")).as("s"))
    val wCum = Window.orderBy(col("day")).rowsBetween(Long.MinValue, 0)
    val scored = daily.crossJoin(broadcast(tot))
      .withColumn("i", row_number().over(Window.orderBy(col("day"))))
      .withColumn("cusum_scaled",
        col("n_days") * sum(col("y")).over(wCum) - col("i") * col("s"))
    val wAll = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    scored
      .withColumn("peak", max(abs(col("cusum_scaled"))).over(wAll))
      .withColumn("cp_day", min(when(
        abs(col("cusum_scaled")) === col("peak"), col("day"))).over(wAll))
      .select(col("day").cast("string").as("day"), col("y"),
        col("cusum_scaled"),
        (col("day") === col("cp_day")).as("is_changepoint"))
      .orderBy(col("day"))
  }

  /** Concurrent-interval sweep: how many orders are OPEN (placed but
    * not yet fully shipped) on each change day — the classic +1/−1
    * boundary-event sweep that turns interval overlap counting into a
    * linear scan + prefix sum (no interval self-join, ever). An
    * order's active interval is [o_orderdate, max l_shipdate]; the
    * sweep emits +1 at the start day, −1 the day AFTER the end, and
    * the running sum at each boundary day is the exact concurrency.
    *
    * Scale: per-order interval = one partial-aggregated shuffle on
    * the already-co-keyed join; boundary deltas partial-aggregate to
    * one row per distinct day; the prefix-sum window orders the
    * calendar-bounded day axis. The interval join alternative is
    * O(orders × days); this is O(orders + days). */
  val qTsConcurrency: Q = (s, dir) => {
    // LEFT join: an order with no lineitems is a zero-length interval
    // (opens and closes on its order date), so the sweep conserves ALL
    // orders — Σopens == Σcloses == |orders| (pinned in the spec).
    val iv = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy(col("o_orderkey"))
      .agg(to_date(min(col("o_orderdate"))).as("start_d"),
        // clamp: the synthetic shipdates are independent of the order
        // date (≈half precede it), so an unclamped end would invert
        // the interval and break the sweep algebra
        greatest(to_date(coalesce(max(col("l_shipdate")),
          min(col("o_orderdate")))),
          to_date(min(col("o_orderdate")))).as("end_d"))
    // both boundary rows come from ONE pass over iv (a union of two
    // selects would duplicate the whole orders⋈lineitem subtree in the
    // plan — a double fact scan at scale); explode is map-side
    val deltas = iv.select(explode(array(
        struct(col("start_d").as("day"), lit(1L).as("delta")),
        struct(date_add(col("end_d"), 1).as("day"),
          lit(-1L).as("delta")))).as("b"))
      .select(col("b.day").as("day"), col("b.delta").as("delta"))
      .groupBy(col("day"))
      .agg(sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("opens"),
        sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("closes"))
    deltas
      .withColumn("concurrent", sum(col("opens") - col("closes")).over(
        Window.orderBy(col("day")).rowsBetween(Long.MinValue, 0)))
      .select(col("day").cast("string").as("day"), col("opens"),
        col("closes"), col("concurrent"))
      .orderBy(col("day"))
  }

  /** Two-sample Kolmogorov-Smirnov drift gate between the URGENT and
    * LOW order-priority price distributions, on a binned CDF (bin =
    * floor(price/100) — the standard practice for KS at scale, where
    * the exact statistic needs a global sort of VALUES but the binned
    * one only sorts the bounded bin axis). Exact integers throughout:
    * D_num = max |cum1·n2 − cum2·n1| over bins and ks_micro =
    * D_num·1e6 div (n1·n2) — the one division is integer.
    *
    * Scale: per-bin counts partial-aggregate (conditional sums in ONE
    * aggregate, no dual scan); the CDF window orders bins (price
    * range / 100 — bounded); totals ride the same cumulative window
    * to its last row, so no second scan or broadcast is needed. */
  val qDqKs: Q = (s, dir) => {
    val binned = Tables(s, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .groupBy(floor(col("o_totalprice") / 100).cast("long").as("bin"))
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L))
          .as("c1"),
        sum(when(col("o_orderpriority") === "5-LOW", 1L).otherwise(0L))
          .as("c2"))
    val wCum = Window.orderBy(col("bin")).rowsBetween(Long.MinValue, 0)
    val wAll = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    binned
      .withColumn("cum1", sum(col("c1")).over(wCum))
      .withColumn("cum2", sum(col("c2")).over(wCum))
      .withColumn("n1", sum(col("c1")).over(wAll))
      .withColumn("n2", sum(col("c2")).over(wAll))
      .withColumn("d_num", abs(col("cum1") * col("n2") -
        col("cum2") * col("n1")))
      .withColumn("d_max", max(col("d_num")).over(wAll))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        count(lit(1)).as("n_bins"),
        min(when(col("d_num") === col("d_max"), col("bin")))
          .as("bin_at_max"),
        max(col("d_num")).as("d_num"))
      .select(col("n1"), col("n2"), col("n_bins"), col("bin_at_max"),
        col("d_num"), expr("d_num * 1000000 div (n1 * n2)").as("ks_micro"))
  }

  /** Gini coefficient of customer revenue concentration per nation
    * (Gini 1912, via the rank-covariance identity): with per-customer
    * revenue x sorted ascending and i = 1..n the rank,
    * G = (2·Σ i·x_i − (n+1)·Σ x) / (n·Σ x). Exact integer cents with
    * a deterministic (cents, custkey) tie-break; emitted in micro
    * units by integral division (numerator is non-negative for sorted
    * ascending x). Σ i·x and the micro-scaled numerator exceed int64
    * at sf0.1 already (~1e20), so the wide terms ride DECIMAL(38,0) —
    * exact to 1e38, HUGEINT on the DuckDB side — and only the ≤1e6
    * quotient returns to int64. The inequality dial every marketplace
    * / corpus-source-concentration report ships.
    *
    * Scale: the per-customer rollup partial-aggregates on the fact;
    * ranking windows are PER NATION (dimension-bounded partitions);
    * the nation dim broadcasts. */
  val qIneqGini: Q = (s, dir) => {
    val rev = Tables(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .join(Tables(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("o_custkey"), col("cents"))
    rev
      .withColumn("i", row_number().over(Window.partitionBy(col("n_name"))
        .orderBy(col("cents"), col("o_custkey"))))
      .groupBy(col("n_name"))
      // rank is promoted to DECIMAL(38,0) BEFORE the multiply (ADVICE
      // r9): i·cents wraps int64 once a nation holds ~1e6 customers at
      // ~1e8 lifetime cents; the oracle promotes the same operand
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("total_cents"),
        sum(col("i").cast(org.apache.spark.sql.types.DecimalType(38, 0))
          * col("cents")).as("sixy"))
      .select(col("n_name"), col("n_customers"), col("total_cents"),
        expr("""CAST((2 * sixy - (n_customers + 1) *
                  CAST(total_cents AS DECIMAL(38, 0))) * 1000000
                div (CAST(n_customers AS DECIMAL(38, 0)) * total_cents)
                AS BIGINT)""").as("gini_micro"))
      .orderBy(col("n_name"))
  }

  /** MATCH_RECOGNIZE-style event-pattern counting (the SQL:2016 row
    * pattern surface, scoped to per-key sequences the way Flink CEP /
    * Hive matchpath run it): each user's event history becomes the
    * ordered string of event-type initials, and the funnel pattern
    * view→(no purchase)*→purchase is counted as non-overlapping regex
    * matches `v[^p]*p` — leftmost-greedy semantics, identical in Java
    * regex and RE2, so the DuckDB oracle replays it exactly.
    * Complements q_funnel (stage counts) and q_matchpath (islands):
    * this is the arbitrary-regex-over-sequence primitive.
    *
    * Scale: ONE shuffle (the per-user collect); the sequence string is
    * per-user-bounded (the sessionization assumption every CEP engine
    * makes); the regex runs map-side per user, codegen'd. */
  val qEventPattern: Q = (s, dir) => {
    Tables(s, dir, "events")
      .select(col("user_id"),
        struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("c")).as("e"))
      .groupBy(col("user_id"))
      .agg(array_join(expr("transform(array_sort(collect_list(e)), x -> x.c)"),
        "").as("seq"))
      .select(col("user_id"),
        length(col("seq")).cast("long").as("n_events"),
        (length(col("seq")) - length(regexp_replace(col("seq"), "p", "")))
          .cast("long").as("n_purchases"),
        regexp_count(col("seq"), lit("v[^p]*p")).as("n_conversions"))
      .withColumn("converted", col("n_conversions") > 0)
      .orderBy(col("user_id"))
  }

  /** Damerau-Levenshtein near-match vocabulary join over part-name
    * tokens — the record-linkage primitive, powered by the custom
    * codegen Expression `edit_dl` (functions/DamerauLevenshtein.scala;
    * semantics = DuckDB's damerau_levenshtein, which the oracle
    * cross-checks value-for-value). Complements q_join_fuzzy (which
    * blocks on deletion neighborhoods at distance ≤1): this surfaces
    * the distance itself, at radius 2, over the DICTIONARY.
    *
    * Scale: the join is vocabulary × vocabulary — dimension-bounded,
    * never fact-sized (the corpus collapses to distinct tokens first,
    * the q_bpe discipline) — length-blocked (|len diff| ≤ 2 prunes
    * before any DP runs) and broadcast. */
  val qFnEditDl: Q = (s, dir) => {
    val vocab = Tables(s, dir, "part")
      .select(explode(split(col("p_name"), " ")).as("w"))
      .distinct()
    val a = vocab.select(col("w").as("w1"), length(col("w")).as("l1"))
    val b = vocab.select(col("w").as("w2"), length(col("w")).as("l2"))
    a.join(broadcast(b), col("w1") < col("w2") &&
        abs(col("l1") - col("l2")) <= 2)
      .withColumn("dl", call_function("edit_dl", col("w1"), col("w2")))
      .filter(col("dl") <= 2)
      .select(col("w1"), col("w2"), col("dl"))
      .orderBy(col("w1"), col("w2"))
  }

  val queries: Map[String, Q] = Map(
    "q_ts_changepoint" -> qTsChangepoint,
    "q_ts_concurrency" -> qTsConcurrency,
    "q_dq_ks" -> qDqKs,
    "q_ineq_gini" -> qIneqGini,
    "q_event_pattern" -> qEventPattern,
    "q_fn_edit_dl" -> qFnEditDl)

  val oracle: Map[String, String] = Map(
    "q_ts_changepoint" -> """
      WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                     FROM events GROUP BY 1),
      tot AS (SELECT count(*) AS n_days, CAST(sum(y) AS BIGINT) AS s
              FROM daily),
      sc AS (SELECT day, y,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
               CAST(sum(y) OVER (ORDER BY day) AS BIGINT) AS cum,
               n_days, s
             FROM daily CROSS JOIN tot),
      cu AS (SELECT day, y, n_days * cum - i * s AS cusum_scaled FROM sc),
      pk AS (SELECT max(abs(cusum_scaled)) AS peak FROM cu),
      cp AS (SELECT min(day) AS cp_day FROM cu, pk
             WHERE abs(cusum_scaled) = peak)
      SELECT CAST(day AS VARCHAR) AS day, y, cusum_scaled,
        day = cp_day AS is_changepoint
      FROM cu, pk, cp ORDER BY day""",
    "q_ts_concurrency" -> """
      WITH iv AS (SELECT o_orderkey,
                    CAST(min(o_orderdate) AS DATE) AS start_d,
                    greatest(CAST(coalesce(max(l_shipdate),
                        min(o_orderdate)) AS DATE),
                      CAST(min(o_orderdate) AS DATE)) AS end_d
                  FROM orders LEFT JOIN lineitem
                    ON o_orderkey = l_orderkey
                  GROUP BY 1),
      deltas AS (
        SELECT start_d AS day, CAST(1 AS BIGINT) AS delta FROM iv
        UNION ALL
        SELECT end_d + 1 AS day, CAST(-1 AS BIGINT) AS delta FROM iv),
      byday AS (SELECT day,
                  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS opens,
                  CAST(sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS closes
                FROM deltas GROUP BY 1)
      SELECT CAST(day AS VARCHAR) AS day, opens, closes,
        CAST(sum(opens - closes) OVER (ORDER BY day) AS BIGINT)
          AS concurrent
      FROM byday ORDER BY day""",
    "q_dq_ks" -> """
      WITH binned AS (SELECT
          CAST(floor(o_totalprice / 100) AS BIGINT) AS bin,
          CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
            END) AS BIGINT) AS c1,
          CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0
            END) AS BIGINT) AS c2
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        GROUP BY 1),
      cdf AS (SELECT bin,
                CAST(sum(c1) OVER (ORDER BY bin) AS BIGINT) AS cum1,
                CAST(sum(c2) OVER (ORDER BY bin) AS BIGINT) AS cum2,
                CAST(sum(c1) OVER () AS BIGINT) AS n1,
                CAST(sum(c2) OVER () AS BIGINT) AS n2
              FROM binned),
      d AS (SELECT bin, n1, n2,
              abs(cum1 * n2 - cum2 * n1) AS d_num
            FROM cdf),
      mx AS (SELECT max(d_num) AS d_max FROM d)
      SELECT max(n1) AS n1, max(n2) AS n2, count(*) AS n_bins,
        min(CASE WHEN d_num = d_max THEN bin END) AS bin_at_max,
        max(d_num) AS d_num,
        max(d_num) * 1000000 // (max(n1) * max(n2)) AS ks_micro
      FROM d, mx""",
    "q_ineq_gini" -> """
      WITH rev AS (SELECT o_custkey,
                     CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS BIGINT) AS cents
                   FROM orders GROUP BY 1),
      ranked AS (SELECT n_name, cents,
                   CAST(row_number() OVER (PARTITION BY n_name
                     ORDER BY cents, o_custkey) AS BIGINT) AS i
                 FROM rev
                   JOIN customer ON o_custkey = c_custkey
                   JOIN nation ON c_nationkey = n_nationkey)
      SELECT n_name, count(*) AS n_customers,
        CAST(sum(cents) AS BIGINT) AS total_cents,
        CAST((2 * sum(CAST(i AS HUGEINT) * cents)
          - (count(*) + 1) * CAST(sum(cents) AS HUGEINT)) * 1000000
          // (CAST(count(*) AS HUGEINT) * CAST(sum(cents) AS HUGEINT))
          AS BIGINT) AS gini_micro
      FROM ranked GROUP BY 1 ORDER BY n_name""",
    "q_event_pattern" -> """
      WITH seqs AS (SELECT user_id,
          string_agg(substr(event_type, 1, 1), ''
            ORDER BY ts, event_id) AS seq
        FROM events GROUP BY 1)
      SELECT user_id, length(seq) AS n_events,
        length(seq) - length(replace(seq, 'p', '')) AS n_purchases,
        CAST(len(regexp_extract_all(seq, 'v[^p]*p')) AS INT)
          AS n_conversions,
        len(regexp_extract_all(seq, 'v[^p]*p')) > 0 AS converted
      FROM seqs ORDER BY user_id""",
    "q_fn_edit_dl" -> """
      WITH vocab AS (SELECT DISTINCT unnest(string_split(p_name, ' '))
                       AS w FROM part)
      SELECT a.w AS w1, b.w AS w2,
        CAST(damerau_levenshtein(a.w, b.w) AS INT) AS dl
      FROM vocab a JOIN vocab b
        ON a.w < b.w AND abs(length(a.w) - length(b.w)) <= 2
      WHERE damerau_levenshtein(a.w, b.w) <= 2
      ORDER BY w1, w2""")
}
