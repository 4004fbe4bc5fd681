package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus + analytics operators, r10 wave 14 (SURVEY.md §2.M):
  * token burstiness, embedding hubness, and Tukey-fence outlier
  * profiling.
  *
  * Determinism contract as the other r10 waves.
  */
object CorpusOps31 {

  /** Token burstiness via the variance-to-mean ratio of per-document
    * counts (Church & Gale 1995's deviation-from-Poisson test: a
    * Poisson word has VMR = 1; a CONTENT word arrives in bursts and
    * scores far above it): over all N docs (zeros included — the
    * closed form (N·Q − S²)/(N·S) needs only the df-bounded nonzero
    * counts), the top-20 burstiest tokens at df ≥ 5, milli units,
    * exact integers.
    *
    * Scale: one token-count scan partial-aggregates to the
    * vocabulary-bounded (token, S, Q, df) table; N is a 1-row
    * broadcast; top-20 lowers to TakeOrdered. */
  val qTextBurstiness: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents")
    val nRow = docs.agg(count(lit(1)).as("n_docs"))
    val perDoc = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    perDoc.groupBy(col("w"))
      .agg(sum(col("c")).as("s"), sum(col("c") * col("c")).as("q"),
        count(lit(1)).as("df"))
      .filter(col("df") >= 5)
      .crossJoin(broadcast(nRow))
      .select(col("w").as("token"), col("df"), col("s").as("tf"),
        expr("(n_docs * q - s * s) * 1000 div (n_docs * s)")
          .as("vmr_milli"))
      .orderBy(col("vmr_milli").desc, col("token"))
      .limit(20)
      .orderBy(col("token"))
  }

  /** Embedding hubness audit (Radovanović, Nanopoulos & Ivanović,
    * "Hubs in space", JMLR 2010): the k-occurrence distribution — how
    * many times each vector appears in other vectors' cosine top-5 —
    * whose right tail (hub vectors retrieved by everyone) degrades
    * ANN quality and whose mass at zero (anti-hubs) is unreachable
    * data. Queries are the deterministic vec_id % 10 == 0 sample;
    * emits the occurrence histogram plus the never-retrieved count.
    *
    * Scale: the sampled query side (n/10 rows) broadcasts against the
    * streaming candidate set — the q_sim_topk shape, cost n²/10 with
    * a fixed sampling rate that keeps the estimate unbiased at any
    * corpus size; the histogram is occurrence-bounded. */
  val qEmbHubness: Q = (s, dir) => {
    val emb = EmbQuant.quantized(s, dir)
      .withColumn("n2", EmbQuant.dotq(col("q"), col("q")))
    val queries = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("qid"), col("q").as("qv"),
        col("n2").as("qn2"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("neighbor"))
    val top5 = emb.join(broadcast(queries), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("neighbor"),
        (EmbQuant.dotq(col("qv"), col("q")).cast("double") /
          (sqrt(col("qn2").cast("double")) * sqrt(col("n2").cast("double"))))
          .as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
    val occ = top5.groupBy(col("neighbor")).agg(count(lit(1)).as("occ"))
    val withZero = emb.select(col("vec_id").as("neighbor"))
      .join(occ, Seq("neighbor"), "left")
      .select(coalesce(col("occ"), lit(0L)).as("occ"))
    withZero.groupBy(col("occ"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("occ"))
  }

  /** Tukey-fence outlier profile (Tukey, Exploratory Data Analysis
    * 1977): per return flag, the exact interpolated quartiles of
    * extended price, the 1.5·IQR fences, and how much mass sits
    * outside them — the box-plot numbers a DQ dashboard publishes.
    * Quartile interpolation and fence arithmetic are the same IEEE
    * expression tree in both engines (the q_agg_percentile bridge).
    *
    * Scale: quartiles per group via the sort-based exact percentile
    * (3 groups), then one broadcast fence join back onto the fact
    * scan — two passes, no per-row windows. */
  val qDqIqrOutliers: Q = (s, dir) => {
    val li = graft.CacheScope.track(
      Tables(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice")).persist())
    val fences = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.25)").as("q1"),
        expr("percentile(l_extendedprice, 0.75)").as("q3"))
      .select(col("l_returnflag"), col("q1"), col("q3"),
        (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
        (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
    li.join(broadcast(fences), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L))
          .as("n_below"),
        sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L))
          .as("n_above"),
        round(first(col("q1")), 4).as("q1"),
        round(first(col("q3")), 4).as("q3"),
        round(first(col("lo")), 4).as("fence_lo"),
        round(first(col("hi")), 4).as("fence_hi"))
      .orderBy(col("l_returnflag"))
  }

  val queries: Map[String, Q] = Map(
    "q_text_burstiness" -> qTextBurstiness,
    "q_emb_hubness" -> qEmbHubness,
    "q_dq_iqr_outliers" -> qDqIqrOutliers)

  val oracle: Map[String, String] = Map(
    "q_text_burstiness" -> """
      WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
                 FROM documents),
      per AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM documents)
              GROUP BY 1, 2),
      v AS (SELECT w, CAST(sum(c) AS BIGINT) AS s,
              CAST(sum(c * c) AS BIGINT) AS q,
              CAST(count(*) AS BIGINT) AS df
            FROM per GROUP BY 1 HAVING count(*) >= 5),
      t AS (SELECT w AS token, df, s AS tf,
              (n.n_docs * q - s * s) * 1000 // (n.n_docs * s)
                AS vmr_milli
            FROM v CROSS JOIN n
            ORDER BY vmr_milli DESC, token LIMIT 20)
      SELECT token, df, tf, vmr_milli FROM t ORDER BY token""",
    "q_emb_hubness" -> s"""
      WITH e AS (${Similarity.quantSql}),
      n AS (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS n2
            FROM e GROUP BY vec_id),
      d AS (SELECT a.vec_id AS qid, b.vec_id AS neighbor,
              CAST(sum(a.v * b.v) AS BIGINT) AS dot
            FROM e a JOIN e b ON a.i = b.i AND a.vec_id % 10 = 0
              AND b.vec_id <> a.vec_id
            GROUP BY 1, 2),
      top5 AS (SELECT qid, neighbor FROM (
            SELECT qid, neighbor,
              row_number() OVER (PARTITION BY qid
                ORDER BY CAST(dot AS DOUBLE) /
                  (sqrt(CAST(nq.n2 AS DOUBLE)) *
                   sqrt(CAST(nn.n2 AS DOUBLE))) DESC, neighbor) AS rnk
            FROM d JOIN n nq ON qid = nq.vec_id
                   JOIN n nn ON neighbor = nn.vec_id)
          WHERE rnk <= 5),
      occ AS (SELECT neighbor, CAST(count(*) AS BIGINT) AS occ
              FROM top5 GROUP BY 1),
      z AS (SELECT coalesce(occ.occ, 0) AS occ
            FROM (SELECT DISTINCT vec_id AS neighbor FROM e) v
            LEFT JOIN occ USING (neighbor))
      SELECT occ, CAST(count(*) AS BIGINT) AS n_vectors
      FROM z GROUP BY occ ORDER BY occ""",
    "q_dq_iqr_outliers" -> """
      WITH f AS (SELECT l_returnflag,
              quantile_cont(l_extendedprice, 0.25) AS q1,
              quantile_cont(l_extendedprice, 0.75) AS q3
            FROM lineitem GROUP BY 1),
      g AS (SELECT l_returnflag, q1, q3,
              q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi
            FROM f)
      SELECT li.l_returnflag,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN l_extendedprice < g.lo THEN 1 ELSE 0 END)
          AS BIGINT) AS n_below,
        CAST(sum(CASE WHEN l_extendedprice > g.hi THEN 1 ELSE 0 END)
          AS BIGINT) AS n_above,
        round(any_value(g.q1), 4) AS q1,
        round(any_value(g.q3), 4) AS q3,
        round(any_value(g.lo), 4) AS fence_lo,
        round(any_value(g.hi), 4) AS fence_hi
      FROM lineitem li JOIN g USING (l_returnflag)
      GROUP BY li.l_returnflag ORDER BY li.l_returnflag""")
}
