package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus + analytics operators, r10 wave 12 (SURVEY.md §2.C/§2.M):
  * Matryoshka dimension-truncation recall, the tolerance-bounded
  * as-of join, and the time-weighted average.
  *
  * Determinism contract as the other r10 waves.
  */
object CorpusOps29 {

  private def topkAt(emb: org.apache.spark.sql.DataFrame, dims: Int,
      out: String): org.apache.spark.sql.DataFrame = {
    val sliced =
      if (dims >= 64) emb.select(col("vec_id"), col("q"))
      else emb.select(col("vec_id"), slice(col("q"), 1, dims).as("q"))
    val withN = sliced.withColumn("n2", EmbQuant.dotq(col("q"), col("q")))
    val queries = withN.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qv"),
        col("n2").as("qn2"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("neighbor"))
    withN.join(broadcast(queries), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("neighbor"),
        (EmbQuant.dotq(col("qv"), col("q")).cast("double") /
          (sqrt(col("qn2").cast("double")) * sqrt(col("n2").cast("double"))))
          .as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("neighbor").as(out))
  }

  /** Matryoshka truncation recall (Kusupati et al., "Matryoshka
    * representation learning", NeurIPS 2022 — serve the first d dims
    * of a trained embedding as a cheaper index): per query, how many
    * of the exact full-64d cosine top-5 survive when the index only
    * keeps the first 16 or first 32 dimensions. The measured curve
    * that decides whether a 4x/2x smaller vector store is free or
    * costs recall on THIS corpus (these fixtures are not
    * Matryoshka-trained, so the audit shows the untrained baseline the
    * technique improves on).
    *
    * Scale: three broadcast-query brute-force passes (the q_sim_topk
    * shape — query side broadcast, candidates stream, top-5 lowers to
    * WindowGroupLimit), then two 50-row membership joins. */
  val qEmbMatryoshka: Q = (s, dir) => {
    val emb = EmbQuant.quantized(s, dir)
    val full = graft.CacheScope.track(topkAt(emb, 64, "nb").persist())
    val t16 = topkAt(emb, 16, "nb16")
    val t32 = topkAt(emb, 32, "nb32")
    val h16 = full.join(t16,
        full("qid") === t16("qid") && col("nb") === col("nb16"))
      .groupBy(full("qid").as("q16")).agg(count(lit(1)).as("hits16"))
    val h32 = full.join(t32,
        full("qid") === t32("qid") && col("nb") === col("nb32"))
      .groupBy(full("qid").as("q32")).agg(count(lit(1)).as("hits32"))
    full.select(col("qid")).distinct()
      .join(h16, col("qid") === col("q16"), "left")
      .join(h32, col("qid") === col("q32"), "left")
      .select(col("qid"), coalesce(col("hits16"), lit(0L)).as("hits16"),
        coalesce(col("hits32"), lit(0L)).as("hits32"))
      .orderBy(col("qid"))
  }

  /** Tolerance-bounded AS-OF join (kdb+ window-join `wj` semantics:
    * a match older than the tolerance is NO match): q_join_asof's
    * tagged-union single-window spelling, extended to carry the
    * matched purchase's timestamp through the same IGNORE-NULLS frame
    * so a 1-hour staleness gate can null the match — and report the
    * exact wait — without any extra join or shuffle.
    *
    * Scale: identical to q_join_asof — ONE shuffle on user_id, both
    * running picks ride the same window sort. */
  val qJoinAsofTol: Q = (s, dir) => {
    val tolUs = 3600000000L // 1 hour
    val ev = Tables(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("pid", lit(null).cast("long"))
      .withColumn("is_r", lit(0))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("pid"))
      .withColumn("event_id", lit(null).cast("long"))
      .withColumn("is_r", lit(1))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_r").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(buys)
      .withColumn("asof_pid", last(col("pid"), ignoreNulls = true).over(w))
      .withColumn("asof_pts", last(when(col("is_r") === 1,
        expr("unix_micros(ts)")), ignoreNulls = true).over(w))
      .filter(col("is_r") === 0)
      .withColumn("wait_us", expr("unix_micros(ts)") - col("asof_pts"))
      .select(col("user_id"), col("event_id").as("click_id"),
        when(col("wait_us") <= tolUs, col("asof_pid")).as("pid_tol"),
        when(col("wait_us") <= tolUs, col("wait_us")).as("wait_us"))
      .orderBy(col("user_id"), col("click_id"))
  }

  /** Time-weighted average value per user (the TWAP/TWA metric:
    * each observation weighs by how long it REMAINED the latest one,
    * so a burst of cheap events cannot drown a long-lived level):
    * Σ value·Δt / Σ Δt over lead()-derived holding intervals, with
    * the micro-value × micro-duration products promoted to
    * DECIMAL(38,0) BEFORE the sum (value_micro ~ 2e7 times span_us
    * ~ 5e12 overflows int64 — the ADVICE r9 promotion-order
    * discipline).
    *
    * Scale: one shuffle on user_id; the interval derivation is a
    * single lead() on the per-user sort and the ratio runs on the
    * per-user aggregate row. */
  val qTsTwap: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 1e6).cast("long").as("vm"))
      .withColumn("next_us", lead(expr("unix_micros(ts)"), 1).over(w))
      .withColumn("dt_us", col("next_us") - expr("unix_micros(ts)"))
      .filter(col("dt_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dt_us")).as("span_us"),
        sum(expr("CAST(vm AS DECIMAL(38, 0)) * dt_us")).as("vdt"))
      .select(col("user_id"), col("n_intervals"), col("span_us"),
        expr("CAST(vdt div span_us AS BIGINT)").as("twap_micro"))
      .orderBy(col("user_id"))
  }

  val queries: Map[String, Q] = Map(
    "q_emb_matryoshka" -> qEmbMatryoshka,
    "q_join_asof_tol" -> qJoinAsofTol,
    "q_ts_twap" -> qTsTwap)

  private def topSqlAt(dims: Int, out: String): String = s"""
      (SELECT qid, neighbor AS $out FROM (
        SELECT d.qid, d.neighbor,
          row_number() OVER (PARTITION BY d.qid
            ORDER BY CAST(d.dot AS DOUBLE) /
              (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE)))
              DESC, d.neighbor) AS rnk
        FROM (SELECT a.vec_id AS qid, b.vec_id AS neighbor,
                CAST(sum(a.v * b.v) AS BIGINT) AS dot
              FROM e a JOIN e b ON a.i = b.i AND a.vec_id < 10
                AND b.vec_id <> a.vec_id
              WHERE a.i <= $dims GROUP BY 1, 2) d
        JOIN (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS n2 FROM e
              WHERE i <= $dims GROUP BY 1) nq ON d.qid = nq.vec_id
        JOIN (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS n2 FROM e
              WHERE i <= $dims GROUP BY 1) nn ON d.neighbor = nn.vec_id)
       WHERE rnk <= 5)"""

  val oracle: Map[String, String] = Map(
    "q_emb_matryoshka" -> s"""
      WITH e AS (${Similarity.quantSql}),
      full5 AS ${topSqlAt(64, "nb")},
      t16 AS ${topSqlAt(16, "nb16")},
      t32 AS ${topSqlAt(32, "nb32")},
      h16 AS (SELECT full5.qid, CAST(count(*) AS BIGINT) AS hits16
              FROM full5 JOIN t16 ON full5.qid = t16.qid
                AND full5.nb = t16.nb16 GROUP BY 1),
      h32 AS (SELECT full5.qid, CAST(count(*) AS BIGINT) AS hits32
              FROM full5 JOIN t32 ON full5.qid = t32.qid
                AND full5.nb = t32.nb32 GROUP BY 1)
      SELECT q.qid, coalesce(h16.hits16, 0) AS hits16,
        coalesce(h32.hits32, 0) AS hits32
      FROM (SELECT DISTINCT qid FROM full5) q
      LEFT JOIN h16 USING (qid) LEFT JOIN h32 USING (qid)
      ORDER BY q.qid""",
    "q_join_asof_tol" -> """
      SELECT c.user_id, c.event_id AS click_id,
        CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= 3600000000
             THEN p.event_id END AS pid_tol,
        CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= 3600000000
             THEN CAST(epoch_us(c.ts) - epoch_us(p.ts) AS BIGINT)
             END AS wait_us
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      ASOF LEFT JOIN (SELECT * FROM events
                      WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND p.ts <= c.ts
      ORDER BY c.user_id, click_id""",
    "q_ts_twap" -> """
      WITH iv AS (SELECT user_id, event_id,
              CAST(round(value * 1000000) AS BIGINT) AS vm,
              lead(epoch_us(ts)) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) - epoch_us(ts) AS dt_us
            FROM events)
      SELECT user_id,
        CAST(count(*) AS BIGINT) AS n_intervals,
        CAST(sum(dt_us) AS BIGINT) AS span_us,
        CAST(sum(CAST(vm AS HUGEINT) * dt_us) // sum(dt_us) AS BIGINT)
          AS twap_micro
      FROM iv WHERE dt_us IS NOT NULL
      GROUP BY user_id ORDER BY user_id""")
}
