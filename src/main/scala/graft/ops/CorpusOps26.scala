package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** Corpus + analytics operators, r10 wave 9b (SURVEY.md §2.M):
  * label-propagation communities over the co-purchase graph, Brown's
  * double exponential smoothing on the daily event series, the
  * MIPS-vs-cosine retrieval audit, and the exact pairwise correlation
  * matrix over the lineitem measures.
  *
  * Determinism contract as the other r10 waves.
  */
object CorpusOps26 {

  /** Community detection by synchronized label propagation (Raghavan,
    * Albert & Kumara, "Near linear time algorithm to detect community
    * structures in large-scale networks", Phys. Rev. E 2007) over the
    * support-pruned co-purchase graph: every node starts as its own
    * label; each of 3 synchronized rounds relabels every node to the
    * most frequent label among its neighbors (ties to the SMALLEST
    * label — async LPA's random tie-breaks and update order are
    * exactly what this deterministic variant removes). Emits the 25
    * largest communities.
    *
    * Scale: each round is ONE equi-join of the (reused, persisted)
    * undirected edge list against the label table on the neighbor key
    * plus two partial-aggregable hash aggregates ((node, label) counts,
    * then a max(struct) arg-max per node) — no windows, no driver-side
    * state; the fixed round count keeps lineage depth constant. */
  /** The shared 3-round synchronized LPA pass: persisted directed
    * edges (u < v), persisted undirected edges, and the final label
    * table — reused by q_graph_labelprop, q_graph_modularity and
    * q_graph_conductance so the loop exists ONCE. */
  private[ops] def lpa3(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    val e0 = graft.CacheScope.track(
      GraphOps.copurchaseEdges(s, dir).persist(StorageLevel.MEMORY_AND_DISK))
    val und = graft.CacheScope.track(
      e0.union(e0.select(col("v").as("u"), col("u").as("v")))
        .persist(StorageLevel.MEMORY_AND_DISK))
    var labels = und.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to 3) {
      val nbr = und.join(labels.select(col("node").as("v"), col("label")),
        Seq("v"))
      labels = nbr.groupBy(col("u"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("u"))
        .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("mx"))
        .select(col("u").as("node"), (-col("mx.neg")).as("label"))
    }
    (e0, und, labels)
  }

  val qGraphLabelprop: Q = (s, dir) => {
    val (_, _, labels) = lpa3(s, dir)
    labels.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(25)
      .orderBy(col("community"))
  }

  /** Brown's double exponential smoothing (Brown 1956; the
    * constant-alpha Holt special case) over the daily event-count
    * series: S1 = the 5-lag power-of-two EWMA of y (the q_ts_ewma
    * truncation, alpha = 1/2, milli-units), S2 = the same smoother
    * applied to S1, then level = 2*S1 - S2, trend = S1 - S2 and the
    * one-step forecast = level + trend = 3*S1 - 2*S2 — all exact
    * integer arithmetic, so the trend-aware forecast is bit-stable
    * cross-engine where a float recurrence could never hash-match.
    *
    * Scale: the day axis is calendar-bounded; both smoothing passes
    * are lag windows over ONE day-ordered sort of the tiny day table
    * (the events→days shuffle is the only corpus-sized stage). */
  val qTsHolt: Q = (s, dir) => {
    val daily = Tables(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    val s1 = daily
      .withColumn("s1_milli", expr(
        """(16*y + 8*coalesce(lag(y, 1) OVER (ORDER BY day), 0)
                 + 4*coalesce(lag(y, 2) OVER (ORDER BY day), 0)
                 + 2*coalesce(lag(y, 3) OVER (ORDER BY day), 0)
                 + 1*coalesce(lag(y, 4) OVER (ORDER BY day), 0)) * 1000
           div (16 + CASE WHEN lag(y, 1) OVER (ORDER BY day) IS NULL THEN 0 ELSE 8 END
                   + CASE WHEN lag(y, 2) OVER (ORDER BY day) IS NULL THEN 0 ELSE 4 END
                   + CASE WHEN lag(y, 3) OVER (ORDER BY day) IS NULL THEN 0 ELSE 2 END
                   + CASE WHEN lag(y, 4) OVER (ORDER BY day) IS NULL THEN 0 ELSE 1 END)"""))
    val s2 = s1.withColumn("s2_milli", expr(
        """(16*s1_milli + 8*coalesce(lag(s1_milli, 1) OVER (ORDER BY day), 0)
                 + 4*coalesce(lag(s1_milli, 2) OVER (ORDER BY day), 0)
                 + 2*coalesce(lag(s1_milli, 3) OVER (ORDER BY day), 0)
                 + 1*coalesce(lag(s1_milli, 4) OVER (ORDER BY day), 0))
           div (16 + CASE WHEN lag(s1_milli, 1) OVER (ORDER BY day) IS NULL THEN 0 ELSE 8 END
                   + CASE WHEN lag(s1_milli, 2) OVER (ORDER BY day) IS NULL THEN 0 ELSE 4 END
                   + CASE WHEN lag(s1_milli, 3) OVER (ORDER BY day) IS NULL THEN 0 ELSE 2 END
                   + CASE WHEN lag(s1_milli, 4) OVER (ORDER BY day) IS NULL THEN 0 ELSE 1 END)"""))
    s2.select(col("day").cast("string").as("day"), col("y"),
        col("s1_milli"), col("s2_milli"),
        (col("s1_milli") * 2 - col("s2_milli")).as("level_milli"),
        (col("s1_milli") - col("s2_milli")).as("trend_milli"),
        (col("s1_milli") * 3 - col("s2_milli") * 2).as("forecast_milli"))
      .orderBy(col("day"))
  }

  /** MIPS-vs-cosine retrieval audit: top-5 by raw inner product
    * (maximum-inner-product search — the recommendation-retrieval
    * objective, where a vector's norm IS part of its relevance) for
    * the first 10 query vectors, alongside each neighbor's rank under
    * cosine similarity. The rank drift quantifies the norm bias —
    * exactly the gap the MIPS→cosine reductions (Shrivastava & Li,
    * NIPS 2014) exist to close; dot products are exact int64 on the
    * micro-quantized components, so the MIPS ranking is bit-stable.
    *
    * Scale: the 10-query side broadcasts; candidates stream through
    * one pass, and both per-query top-5 row_number filters lower to
    * WindowGroupLimit (no full sort of the candidate set). */
  val qSimMips: Q = (s, dir) => {
    val emb = EmbQuant.quantized(s, dir)
      .withColumn("n2", EmbQuant.dotq(col("q"), col("q")))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qv"),
        col("n2").as("qn2"))
    val scored = emb.join(broadcast(queries), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("neighbor"),
        EmbQuant.dotq(col("qv"), col("q")).as("dot"),
        (EmbQuant.dotq(col("qv"), col("q")).cast("double") /
          (sqrt(col("qn2").cast("double")) * sqrt(col("n2").cast("double"))))
          .as("cos"))
    val wMips = Window.partitionBy(col("qid"))
      .orderBy(col("dot").desc, col("neighbor"))
    val wCos = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("neighbor"))
    scored
      .withColumn("mips_rnk", row_number().over(wMips))
      .withColumn("cos_rnk", row_number().over(wCos).cast("long"))
      .filter(col("mips_rnk") <= 5)
      .select(col("qid"), col("mips_rnk").cast("long").as("mips_rnk"),
        col("neighbor"), col("dot"), col("cos_rnk"))
      .orderBy(col("qid"), col("mips_rnk"))
  }

  /** Exact pairwise Pearson correlation matrix over four bounded
    * lineitem measures (quantity, discount and tax in integer percent,
    * extended price in 1k buckets): for each of the 6 feature pairs,
    * the sign of the covariance and r² in micro-units, computed from
    * the moment sums with the numerator and denominator promoted to
    * DECIMAL(38,0) BEFORE their squares/products (the HUGEINT-mirror
    * discipline of q_mix_psi) so nothing wraps at any row count.
    *
    * Scale: ONE partial-aggregable scan collects all 14 moment sums
    * into a single row; the 6-pair matrix is unpivoted from that row
    * by a 6-element stack — no melt join, no shuffle beyond the one
    * aggregate. */
  val qCorrMatrix: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem").select(
      col("l_quantity").cast("long").as("qty"),
      expr("CAST(round(l_discount * 100) AS BIGINT)").as("disc"),
      expr("CAST(round(l_tax * 100) AS BIGINT)").as("tax"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT) div 100000")
        .as("price_k"))
    val feats = Seq("qty", "disc", "tax", "price_k")
    val sums = feats.flatMap(f => Seq(
      sum(col(f)).as(s"s_$f"),
      sum(col(f) * col(f)).as(s"ss_$f")))
    val pairSums = for {
      i <- feats.indices; j <- feats.indices if i < j
    } yield sum(col(feats(i)) * col(feats(j)))
      .as(s"sp_${feats(i)}_${feats(j)}")
    val m = li.agg(count(lit(1)).as("n"), (sums ++ pairSums): _*)
    val branches = (for {
      i <- feats.indices; j <- feats.indices if i < j
    } yield {
      val (x, y) = (feats(i), feats(j))
      s"'$x', '$y', s_$x, s_$y, ss_$x, ss_$y, sp_${x}_$y"
    }).mkString(", ")
    m.select(expr(s"stack(6, $branches) AS " +
        "(feat_x, feat_y, sx, sy, ssx, ssy, sxy)"), col("n"))
      .select(col("feat_x"), col("feat_y"), col("n").as("n_rows"),
        expr("sign(n * sxy - sx * sy)").cast("long").as("sign"),
        expr("""CAST(CAST(n * sxy - sx * sy AS DECIMAL(38, 0))
                     * (n * sxy - sx * sy) * 1000000
                DIV (CAST(n * ssx - sx * sx AS DECIMAL(38, 0))
                     * (n * ssy - sy * sy)) AS BIGINT)""").as("r2_micro"))
      .orderBy(col("feat_x"), col("feat_y"))
  }

  val queries: Map[String, Q] = Map(
    "q_graph_labelprop" -> qGraphLabelprop,
    "q_ts_holt" -> qTsHolt,
    "q_sim_mips" -> qSimMips,
    "q_corr_matrix" -> qCorrMatrix)

  private val holtSmoothSql = (src: String) => s"""
      (16*$src + 8*coalesce(lag($src, 1) OVER (ORDER BY day), 0)
               + 4*coalesce(lag($src, 2) OVER (ORDER BY day), 0)
               + 2*coalesce(lag($src, 3) OVER (ORDER BY day), 0)
               + 1*coalesce(lag($src, 4) OVER (ORDER BY day), 0))
      // (16 + CASE WHEN lag($src, 1) OVER (ORDER BY day) IS NULL THEN 0 ELSE 8 END
            + CASE WHEN lag($src, 2) OVER (ORDER BY day) IS NULL THEN 0 ELSE 4 END
            + CASE WHEN lag($src, 3) OVER (ORDER BY day) IS NULL THEN 0 ELSE 2 END
            + CASE WHEN lag($src, 4) OVER (ORDER BY day) IS NULL THEN 0 ELSE 1 END)"""

  val oracle: Map[String, String] = Map(
    "q_graph_labelprop" -> (GraphOps.copurchaseCte + """,
      und AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      l0 AS (SELECT DISTINCT u AS node, u AS label FROM und),
      r1 AS (SELECT u AS node, label FROM (
               SELECT und.u, l.label, count(*) AS cnt,
                 row_number() OVER (PARTITION BY und.u
                   ORDER BY count(*) DESC, l.label ASC) AS rk
               FROM und JOIN l0 l ON und.v = l.node GROUP BY 1, 2)
             WHERE rk = 1),
      r2 AS (SELECT u AS node, label FROM (
               SELECT und.u, l.label, count(*) AS cnt,
                 row_number() OVER (PARTITION BY und.u
                   ORDER BY count(*) DESC, l.label ASC) AS rk
               FROM und JOIN r1 l ON und.v = l.node GROUP BY 1, 2)
             WHERE rk = 1),
      r3 AS (SELECT u AS node, label FROM (
               SELECT und.u, l.label, count(*) AS cnt,
                 row_number() OVER (PARTITION BY und.u
                   ORDER BY count(*) DESC, l.label ASC) AS rk
               FROM und JOIN r2 l ON und.v = l.node GROUP BY 1, 2)
             WHERE rk = 1),
      t AS (SELECT label AS community, count(*) AS n_nodes,
              min(node) AS min_node
            FROM r3 GROUP BY 1
            ORDER BY n_nodes DESC, community LIMIT 25)
      SELECT community, n_nodes, min_node FROM t ORDER BY community"""),
    "q_ts_holt" -> s"""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                       CAST(count(*) AS BIGINT) AS y
                     FROM events GROUP BY 1),
      s1m AS (SELECT day, y,
                CAST((16*y + 8*coalesce(lag(y, 1) OVER (ORDER BY day), 0)
                          + 4*coalesce(lag(y, 2) OVER (ORDER BY day), 0)
                          + 2*coalesce(lag(y, 3) OVER (ORDER BY day), 0)
                          + 1*coalesce(lag(y, 4) OVER (ORDER BY day), 0)) * 1000
                  // (16 + CASE WHEN lag(y, 1) OVER (ORDER BY day) IS NULL THEN 0 ELSE 8 END
                        + CASE WHEN lag(y, 2) OVER (ORDER BY day) IS NULL THEN 0 ELSE 4 END
                        + CASE WHEN lag(y, 3) OVER (ORDER BY day) IS NULL THEN 0 ELSE 2 END
                        + CASE WHEN lag(y, 4) OVER (ORDER BY day) IS NULL THEN 0 ELSE 1 END)
                  AS BIGINT) AS s1_milli
              FROM daily),
      s2m AS (SELECT day, y, s1_milli,
                CAST((${holtSmoothSql("s1_milli")}) AS BIGINT) AS s2_milli
              FROM s1m)
      SELECT CAST(day AS VARCHAR) AS day, y, s1_milli, s2_milli,
        s1_milli * 2 - s2_milli AS level_milli,
        s1_milli - s2_milli AS trend_milli,
        s1_milli * 3 - s2_milli * 2 AS forecast_milli
      FROM s2m ORDER BY day""",
    "q_sim_mips" -> s"""
      WITH e AS (${Similarity.quantSql}),
      n AS (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS n2
            FROM e GROUP BY vec_id),
      d AS (SELECT a.vec_id AS qid, b.vec_id AS neighbor,
              CAST(sum(a.v * b.v) AS BIGINT) AS dot
            FROM e a JOIN e b ON a.i = b.i AND a.vec_id < 10
              AND b.vec_id <> a.vec_id
            GROUP BY 1, 2),
      scored AS (SELECT qid, neighbor, dot,
              CAST(dot AS DOUBLE) /
                (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE)))
                AS cos
            FROM d JOIN n nq ON qid = nq.vec_id
                   JOIN n nn ON neighbor = nn.vec_id),
      rnked AS (SELECT qid, neighbor, dot,
              CAST(row_number() OVER (PARTITION BY qid
                ORDER BY dot DESC, neighbor) AS BIGINT) AS mips_rnk,
              CAST(row_number() OVER (PARTITION BY qid
                ORDER BY cos DESC, neighbor) AS BIGINT) AS cos_rnk
            FROM scored)
      SELECT qid, mips_rnk, neighbor, dot, cos_rnk
      FROM rnked WHERE mips_rnk <= 5 ORDER BY qid, mips_rnk""",
    "q_corr_matrix" -> {
      val feats = Seq("qty", "disc", "tax", "price_k")
      val branches = (for {
        i <- feats.indices; j <- feats.indices if i < j
      } yield {
        val (x, y) = (feats(i), feats(j))
        s"""SELECT '$x' AS feat_x, '$y' AS feat_y, n AS n_rows,
          CAST(CASE WHEN n * sp_${x}_$y - s_$x * s_$y > 0 THEN 1
                    WHEN n * sp_${x}_$y - s_$x * s_$y < 0 THEN -1
                    ELSE 0 END AS BIGINT) AS sign,
          CAST(CAST(n * sp_${x}_$y - s_$x * s_$y AS HUGEINT)
                 * (n * sp_${x}_$y - s_$x * s_$y) * 1000000
               // (CAST(n * ss_$x - s_$x * s_$x AS HUGEINT)
                 * (n * ss_$y - s_$y * s_$y)) AS BIGINT) AS r2_micro
        FROM m"""
      }).mkString(" UNION ALL ")
      s"""
      WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
              CAST(round(l_discount * 100) AS BIGINT) AS disc,
              CAST(round(l_tax * 100) AS BIGINT) AS tax,
              CAST(round(l_extendedprice * 100) AS BIGINT) // 100000
                AS price_k
            FROM lineitem),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
              ${feats.map(f => s"CAST(sum($f) AS BIGINT) AS s_$f, " +
                s"CAST(sum($f * $f) AS BIGINT) AS ss_$f").mkString(", ")},
              ${(for {
                i <- feats.indices; j <- feats.indices if i < j
              } yield s"CAST(sum(${feats(i)} * ${feats(j)}) AS BIGINT)" +
                s" AS sp_${feats(i)}_${feats(j)}").mkString(", ")}
            FROM li)
      SELECT * FROM ($branches) ORDER BY feat_x, feat_y"""
    })
}
