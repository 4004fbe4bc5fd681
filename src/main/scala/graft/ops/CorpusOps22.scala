package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus + analytics operators, r10 wave 4 (SURVEY.md §2.M):
  * entity-resolution transitive clusters, language-ID confusion
  * matrix, weighted HITS hub/authority scores, and a corpus snapshot
  * diff.
  *
  * Determinism contract as CorpusOps5/20/21: exact int64 arithmetic,
  * floor-divisions on non-negative operands, deterministic tie-breaks.
  */
object CorpusOps22 {

  /** Entity-resolution clusters: the transitive closure of the
    * multi-field match graph — [[Joins.qJoinFuzzy]]'s edit-distance
    * ≤ 1 name pairs FURTHER gated on nation + segment agreement (the
    * standard ER rule: a name typo alone is not a match; corroborating
    * fields must agree) — via the proven min-label components loop.
    * Match pairs alone are NOT entities: A~B and B~C must land A, B, C
    * in one cluster even when A and C differ by 2 edits. Output:
    * matched entity → cluster representative (min key) + cluster size
    * — the survivorship table a master-data pipeline publishes.
    * (Name-only edges degenerate on this fixture's sequential names
    * into ONE all-customer cluster — the classic "transitive closure
    * over a loose matcher collapses everything" ER failure, which the
    * field gate exists to prevent.)
    *
    * Scale: the edge set is the blocked fuzzy join's output (never
    * all-pairs) narrowed by two broadcast attribute joins; the closure
    * is [[Dedup.componentsOf]]: union-find on the driver while the edge
    * set is broadcast-sized, pointer-jumping shuffle rounds above. */
  val qErClusters: Q = (s, dir) => {
    val comp = Dedup.componentsOf(erPairs(s, dir))
    val sizes = comp.groupBy(col("l")).agg(count(lit(1)).as("cluster_size"))
    comp.join(broadcast(sizes), Seq("l"))
      .select(col("v").as("c_custkey"), col("l").as("cluster_rep"),
        col("cluster_size"))
      .orderBy(col("c_custkey"))
  }

  /** The match edges of [[qErClusters]]: edit≤1 name matches whose
    * nation and segment agree, as (da, db). */
  private[graft] def erPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val cust = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    Joins.qJoinFuzzy(s, dir)
      .join(cust.select(col("c_custkey").as("ida"),
        col("c_nationkey").as("na"), col("c_mktsegment").as("ma")), "ida")
      .join(cust.select(col("c_custkey").as("idb"),
        col("c_nationkey").as("nb"), col("c_mktsegment").as("mb")), "idb")
      .filter(col("na") === col("nb") && col("ma") === col("mb"))
      .select(col("ida").as("da"), col("idb").as("db"))
  }

  /** Language-ID confusion matrix: the per-doc stopword-hit language
    * guesser ([[TextAnalysis]] q_text_langid) rolled up to (true lang,
    * predicted) counts with per-truth-row recall permille — the
    * deployment-gating view of the classifier that q_text_langid's
    * per-doc rows only imply. 'und' rows show where the stopword
    * approach abstains.
    *
    * Scale: rides the map-side scorer; the matrix is langs² rows. */
  val qLangConfusion: Q = (s, dir) => {
    val perDoc = TextAnalysis.queries("q_text_langid")(s, dir)
      .select(col("lang"), col("predicted"))
    val totals = perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_true"))
    perDoc.groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .join(broadcast(totals), Seq("lang"))
      .select(col("lang"), col("predicted"), col("n_docs"), col("n_true"),
        expr("n_docs * 1000 div n_true").as("share_permille"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** Weighted HITS (Kleinberg 1999, "Authoritative sources in a
    * hyperlinked environment"), two unrolled iterations over the
    * customer→supplier purchase bipartite graph (lineitem ⨝ orders,
    * edge weight = line count): authority(s) = Σ w·hub(c), hub(c) =
    * Σ w·authority(s), each round rescaled to 1e6 micro-units by
    * floor-division against the round max — the q_graph_pagerank
    * integer discipline, so trajectories are bit-identical
    * cross-engine. The complement of PageRank's single-score walk:
    * hubs (broad buyers) and authorities (widely-bought-from
    * suppliers) are DIFFERENT axes.
    *
    * Scale: edge list partial-aggregates once; each half-iteration is
    * one endpoint-keyed shuffle; the round max is a 1-row broadcast.
    * On the small-graph path the per-round authority/hub vectors (and
    * the final degree rollup) broadcast map-side — but BOTH axes scale
    * with the corpus (suppliers and customers are data, not
    * dimensions), so the path is AUTO-gated on the aggregated edge
    * cardinality (`spark.graft.graph.broadcastEdgeLimit`): past it,
    * edges hash-partition on `sup` ONCE (persisted) and each
    * auth/hub join becomes a shuffled-hash join where only the
    * |V|-sized vector side moves — the pagerankCore discipline.
    * Integer micro-units throughout, so the two paths are
    * bit-identical (pinned in GraphSpec). */
  val qGraphHits: Q = (s, dir) => {
    // Both HITS axes are data (586k aggregated (c, sup) pairs at sf0.1
    // already), so the gate reads the aggregated edge cardinality of
    // the persisted edges. Measured (StressBench r14): at sf0.1 the
    // shuffle path wins OUTRIGHT, 3.06 s vs 4.58 s at 1× and 5.04 s vs
    // 6.79 s at 10× — the gate picks it there. On that path the sup
    // partitioning feeds auth1's aggregate, the hub1 join and the final
    // deg rollup with zero further |E| exchanges; only the c-keyed auth2
    // join re-exchanges the edge stream (once, not per-iteration).
    val edges0 = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("sup"))
      .agg(count(lit(1)).as("w"))
    val (edges, vec) = GraphOps.gatedEdges(edges0, partitionOn = Some("sup"))
    def rescale(df: org.apache.spark.sql.DataFrame, vc: String) = {
      val mx = df.agg(max(col(vc)).as("mx"))
      df.crossJoin(broadcast(mx))
        .select(df.columns.filter(_ != vc).map(col) :+
          expr(s"$vc * 1000000 div mx").as(vc): _*)
    }
    // hub0 = 1e6 for every customer (implicit in the first sum)
    val auth1 = rescale(edges.groupBy(col("sup"))
      .agg((sum(col("w")) * 1000000L).as("a")), "a")
    val hub1 = rescale(edges.join(vec(auth1), Seq("sup"))
      .groupBy(col("c")).agg(sum(col("w") * col("a")).as("h")), "h")
    val auth2 = rescale(edges.join(vec(hub1), Seq("c"))
      .groupBy(col("sup")).agg(sum(col("w") * col("h")).as("a")), "a")
    val deg = edges.groupBy(col("sup"))
      .agg(count(lit(1)).as("n_buyers"), sum(col("w")).as("n_lines"))
    auth2.join(vec(deg), Seq("sup"))
      .select(col("sup").as("s_suppkey"), col("a").as("authority_micro"),
        col("n_buyers"), col("n_lines"))
      .orderBy(col("authority_micro").desc, col("s_suppkey"))
  }

  /** Corpus snapshot diff: compare the live documents table against a
    * deterministic "next snapshot" (5% of docs removed, 10% revised,
    * 4% re-keyed additions — md5/modular rules both engines replay)
    * and report per-(source, status) doc and token movement — the
    * dataset-governance changelog a corpus release publishes (what
    * changed since v1, by how many tokens, from which sources).
    *
    * Scale: the diff is ONE doc_id-keyed full-outer join of two
    * hashed projections (md5 compare, no text re-read on match);
    * the rollup is sources×4 rows. */
  val qCorpusDiff: Q = (s, dir) => {
    val a = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), md5(col("text")).as("ha"),
        size(split(col("text"), " ")).cast("long").as("ta"))
    val base = Tables(s, dir, "documents")
    val bKept = base.filter(col("doc_id") % 20 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 10 === 7, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
    val bAdded = base.filter(col("doc_id") % 25 === 3)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("source"),
        concat(col("text"), lit(" new")).as("text"))
    val b = bKept.unionAll(bAdded)
      .select(col("doc_id"), col("source").as("source_b"),
        md5(col("text")).as("hb"),
        size(split(col("text"), " ")).cast("long").as("tb"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(coalesce(col("source"), col("source_b")).as("source"),
        when(col("ha").isNull, "added")
          .when(col("hb").isNull, "removed")
          .when(col("ha") =!= col("hb"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("ta"), lit(0L)).as("ta"),
        coalesce(col("tb"), lit(0L)).as("tb"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tb") - col("ta")).as("token_delta"))
      .orderBy(col("source"), col("status"))
  }

  val queries: Map[String, Q] = Map(
    "q_er_clusters" -> qErClusters,
    "q_lang_confusion" -> qLangConfusion,
    "q_graph_hits" -> qGraphHits,
    "q_corpus_diff" -> qCorpusDiff)

  val oracle: Map[String, String] = Map(
    "q_er_clusters" -> """
      WITH RECURSIVE pairs AS (
        SELECT a.c_custkey AS da, b.c_custkey AS db
        FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
          AND a.c_nationkey = b.c_nationkey
          AND a.c_mktsegment = b.c_mktsegment
        WHERE levenshtein(a.c_name, b.c_name) <= 1),
      edges AS (SELECT da AS src, db AS dst FROM pairs
                UNION SELECT db, da FROM pairs),
      verts AS (SELECT DISTINCT src AS v FROM edges),
      reach AS (SELECT v, v AS l FROM verts
                UNION
                SELECT e.dst, r.l FROM reach r JOIN edges e
                  ON e.src = r.v),
      comp AS (SELECT v, min(l) AS l FROM reach GROUP BY v),
      cs AS (SELECT l, count(*) AS cluster_size FROM comp GROUP BY l)
      SELECT comp.v AS c_custkey, comp.l AS cluster_rep, cs.cluster_size
      FROM comp JOIN cs USING (l) ORDER BY c_custkey""",
    "q_lang_confusion" -> {
      val perDoc = TextAnalysis.oracle("q_text_langid")
      s"""
      WITH per_doc AS ($perDoc),
      m AS (SELECT lang, predicted, count(*) AS n_docs
            FROM per_doc GROUP BY 1, 2),
      t AS (SELECT lang, count(*) AS n_true FROM per_doc GROUP BY 1)
      SELECT m.lang, m.predicted, m.n_docs, t.n_true,
        m.n_docs * 1000 // t.n_true AS share_permille
      FROM m JOIN t USING (lang)
      ORDER BY m.lang, m.predicted"""
    },
    "q_graph_hits" -> """
      WITH e AS (SELECT o_custkey AS c, l_suppkey AS sup,
                   CAST(count(*) AS BIGINT) AS w
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                 GROUP BY 1, 2),
      a1r AS (SELECT sup, CAST(sum(w) * 1000000 AS BIGINT) AS a
              FROM e GROUP BY 1),
      a1 AS (SELECT sup, a * 1000000 // (SELECT max(a) FROM a1r) AS a
             FROM a1r),
      h1r AS (SELECT c, CAST(sum(e.w * a1.a) AS BIGINT) AS h
              FROM e JOIN a1 USING (sup) GROUP BY 1),
      h1 AS (SELECT c, h * 1000000 // (SELECT max(h) FROM h1r) AS h
             FROM h1r),
      a2r AS (SELECT sup, CAST(sum(e.w * h1.h) AS BIGINT) AS a
              FROM e JOIN h1 USING (c) GROUP BY 1),
      a2 AS (SELECT sup, a * 1000000 // (SELECT max(a) FROM a2r) AS a
             FROM a2r),
      deg AS (SELECT sup, count(*) AS n_buyers,
                CAST(sum(w) AS BIGINT) AS n_lines
              FROM e GROUP BY 1)
      SELECT a2.sup AS s_suppkey, CAST(a2.a AS BIGINT) AS authority_micro,
        deg.n_buyers, deg.n_lines
      FROM a2 JOIN deg USING (sup)
      ORDER BY authority_micro DESC, s_suppkey""",
    "q_corpus_diff" -> """
      WITH a AS (SELECT doc_id, source, md5(text) AS ha,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS ta
                 FROM documents),
      bk AS (SELECT doc_id, source,
               CASE WHEN doc_id % 10 = 7 THEN text || ' rev2'
                    ELSE text END AS text
             FROM documents WHERE doc_id % 20 <> 0),
      ba AS (SELECT doc_id + 10000000 AS doc_id, source,
               text || ' new' AS text
             FROM documents WHERE doc_id % 25 = 3),
      b AS (SELECT doc_id, source AS source_b, md5(text) AS hb,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS tb
            FROM (SELECT * FROM bk UNION ALL SELECT * FROM ba)),
      j AS (SELECT coalesce(a.source, b.source_b) AS source,
              CASE WHEN a.ha IS NULL THEN 'added'
                   WHEN b.hb IS NULL THEN 'removed'
                   WHEN a.ha <> b.hb THEN 'changed'
                   ELSE 'unchanged' END AS status,
              coalesce(a.ta, 0) AS ta, coalesce(b.tb, 0) AS tb
            FROM a FULL JOIN b USING (doc_id))
      SELECT source, status, count(*) AS n_docs,
        CAST(sum(tb - ta) AS BIGINT) AS token_delta
      FROM j GROUP BY 1, 2 ORDER BY source, status""")
}
