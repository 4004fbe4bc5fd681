package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** Graph centrality depth, r10 wave 23 (SURVEY.md §2.M adjacents):
  * local clustering coefficients (Watts & Strogatz 1998), bounded
  * harmonic closeness centrality (Boldi & Vigna 2014), and weighted
  * single-source shortest paths (Bellman-Ford relaxation rounds) —
  * the three classic centrality/distance primitives missing from the
  * PageRank / HITS / k-core / BFS / link-prediction family in
  * [[GraphOps]]. All over the same support-pruned part co-purchase
  * graph, all exact-integer (permille/milli fixed point, floor
  * division only), so both engines replay bit-identical values.
  */
object GraphOps2 {

  /** Weighted co-purchase edges: same support-≥2 prune as
    * [[GraphOps.copurchaseEdges]] but KEEPING the co-order count as
    * the edge weight (stronger ties = more co-orders). */
  private def weightedEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    li.as("a")
      .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
  }

  /** Local clustering coefficient + global transitivity. Per node n:
    * C(n) = 2·tri(n) / (deg(n)·(deg(n)−1)) as exact permille floor
    * division; globally the transitivity ratio 3·triangles / wedges
    * with wedges = Σ_n deg(n)·(deg(n)−1)/2. Triangles come from the
    * same degree-ordered orientation as the census (each triangle
    * enumerated exactly once, then credited to all three corners).
    * Emits one 'global' summary row plus the top-20 deg≥2 nodes by
    * (c_permille DESC, tri DESC, node).
    *
    * Scale: identical discipline to q_graph_triangles — the one
    * |lineitem|-sized stage partial-aggregates before the support
    * prune; the broadcast↔shuffle choice is AUTO on the measured
    * pruned-edge cardinality (co-purchase edges densify
    * quadratically under a fixed part catalog — the same 335×
    * edge growth that sent the forced-broadcast triangle census 13×
    * superlinear at 10×, StressBench r14), flipping every broadcast
    * hint to a shuffled-hash equi-join co-partitioned on the shared
    * key past `spark.graft.graph.broadcastEdgeLimit` (bit-identity
    * pinned in GraphSpec, no data-scaling BroadcastExchange asserted
    * in PlanSpec); per-node credit is an explode of the triangle set
    * (|tri| rows, not |V|²). */
  val qGraphClustering: Q = (s, dir) => {
    val (e0, small) =
      GraphOps.gatedEdges(weightedEdges(s, dir).select(col("u"), col("v")))
    val und = e0.union(e0.select(col("v"), col("u")))
    val deg = graft.CacheScope.track(
      und.groupBy(col("u").as("n")).agg(count(lit(1)).as("d")).persist())
    // orient each edge low→high (degree, node): every wedge counts once
    val o = und.join(small(deg), col("u") === col("n")).drop("n")
      .withColumnRenamed("d", "du")
      .join(small(deg), col("v") === col("n")).drop("n")
      .withColumnRenamed("d", "dv")
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u"), col("v"), col("dv"))
    val tri = o.as("w1").join(small(o.as("w2")),
        col("w1.u") === col("w2.u") &&
          (col("w1.dv") < col("w2.dv") ||
            (col("w1.dv") === col("w2.dv") && col("w1.v") < col("w2.v"))))
      .select(col("w1.u").as("a"), col("w1.v").as("b"), col("w2.v").as("c"))
      .join(small(o.select(col("u"), col("v"))),
        col("b") === col("u") && col("c") === col("v"), "left_semi")
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    val nodes = deg.filter(col("d") >= 2)
      .join(perNode, col("n") === col("node"), "left")
      .na.fill(0L, Seq("tri"))
      .select(lit("node").as("kind"), col("n").as("node"), col("d"),
        col("tri"),
        expr("tri * 2000 div (d * (d - 1))").as("c_permille"))
      .orderBy(col("c_permille").desc, col("tri").desc, col("node"))
      .limit(20)
    val global = deg
      .agg(sum(expr("d * (d - 1) div 2")).as("wedges"))
      .crossJoin(broadcast(tri.agg(count(lit(1)).as("ntri"))))
      .select(lit("global").as("kind"), lit(-1L).as("node"),
        col("wedges").as("d"), col("ntri").as("tri"),
        expr("ntri * 3000 div wedges").as("c_permille"))
    global.union(nodes)
      .orderBy(col("kind"), col("c_permille").desc, col("tri").desc,
        col("node"))
  }

  /** Bounded harmonic closeness centrality (Boldi & Vigna 2014 —
    * harmonic avoids the disconnected-graph pathology of classic
    * closeness): for each seed node (part keys ≡ 0..4 mod 1000
    * present in the graph — a keyspace-proportional sample), Σ over nodes reached within 4 hops of 1000 div d(v),
    * exact milli units. Multi-source frontier BFS carrying
    * (seed, node, level) triples — the Pregel iteration shape with
    * the seed as part of the message key.
    *
    * Scale: per round the join input is the FRONTIER (last level
    * only) × edges, never all labeled triples; dedup against the
    * visited set is a left-anti on (seed, node). Work is
    * |seeds|·|4-hop ball|, linear in seeds, and the seed set is the
    * operator's sampling knob. Edges persist once. */
  val qGraphCloseness: Q = (s, dir) => {
    val e0 = weightedEdges(s, dir).select(col("u"), col("v"))
    val edges = graft.CacheScope.track(
      e0.select(col("u").as("src"), col("v").as("dst"))
        .union(e0.select(col("v").as("src"), col("u").as("dst")))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val seeds = edges.select(col("src").as("vx")).distinct()
      .filter(col("vx") % 1000 < 5)
    var visited = seeds.select(col("vx").as("seed"), col("vx"),
      lit(0L).as("d"))
    for (hop <- 1 to 4) {
      val frontier = visited.filter(col("d") === (hop - 1))
        .select(col("seed"), col("vx").as("src"))
      val next = edges.join(frontier, Seq("src"))
        .select(col("seed"), col("dst").as("vx")).distinct()
        .join(visited, Seq("seed", "vx"), "left_anti")
        .select(col("seed"), col("vx"), lit(hop.toLong).as("d"))
      visited = graft.CacheScope.track(visited.union(next)
        .persist(StorageLevel.MEMORY_AND_DISK))
    }
    visited.groupBy(col("seed"))
      .agg((count(lit(1)) - 1L).as("reach"),
        sum(when(col("d") > 0L, expr("1000 div d")).otherwise(0L))
          .as("harmonic_milli"))
      .orderBy(col("seed"))
  }

  /** Weighted single-source shortest paths, 4 Bellman-Ford relaxation
    * rounds from the super-source {parts with key ≡ 0..2 mod 1000}: edge cost =
    * 1000 div w (more co-orders = cheaper hop, so the metric follows
    * tie strength), dist(v) = min total cost over ≤4-hop paths.
    * Labeled-set formulation: each round unions the current labels
    * with every one-hop relaxation and takes the per-node min — no
    * null handling, pure UNION ALL + min, so both engines replay the
    * identical lattice.
    *
    * Scale: the per-round shuffle is the relaxation aggregate on dst
    * (map-side min partial agg); edges are computed once and
    * persisted. Frontier-only relaxation (Δ-stepping style) is the
    * refinement when label churn dies down — at 4 bounded rounds the
    * full-label relax is one hash agg per round and strictly simpler. */
  val qGraphSssp: Q = (s, dir) => {
    val e = weightedEdges(s, dir)
      .select(col("u"), col("v"), expr("1000 div w").as("cost"))
    val edges = graft.CacheScope.track(
      e.select(col("u").as("src"), col("v").as("dst"), col("cost"))
        .union(e.select(col("v").as("src"), col("u").as("dst"),
          col("cost")))
        .persist(StorageLevel.MEMORY_AND_DISK))
    var dist = edges.select(col("src").as("vx")).distinct()
      .filter(col("vx") % 1000 < 3).select(col("vx"), lit(0L).as("d"))
    for (_ <- 1 to 4) {
      val relaxed = edges
        .join(dist.select(col("vx").as("src"), col("d")), Seq("src"))
        .select(col("dst").as("vx"), (col("d") + col("cost")).as("d"))
      dist = dist.union(relaxed).groupBy(col("vx"))
        .agg(min(col("d")).as("d"))
    }
    dist.select(col("vx").as("part"), col("d").as("dist_milli"))
      .orderBy(col("dist_milli"), col("part"))
  }

  val queries: Map[String, Q] = Map(
    "q_graph_clustering" -> qGraphClustering,
    "q_graph_closeness" -> qGraphCloseness,
    "q_graph_sssp" -> qGraphSssp)

  /** Weighted twin of [[GraphOps.copurchaseCte]]. */
  private val wCte = """
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e0 AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v,
               CAST(count(*) AS BIGINT) AS w
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2),
      und AS (SELECT u, v, w FROM e0 UNION ALL SELECT v, u, w FROM e0)"""

  val oracle: Map[String, String] = Map(
    "q_graph_clustering" -> (wCte + """,
      deg AS (SELECT u AS n, CAST(count(*) AS BIGINT) AS d
              FROM und GROUP BY 1),
      o AS (SELECT und.u, und.v, dv.d AS dvd FROM und
            JOIN deg du ON du.n = und.u JOIN deg dv ON dv.n = und.v
            WHERE (du.d, und.u) < (dv.d, und.v)),
      tri AS (SELECT w1.u AS a, w1.v AS b, w2.v AS c
              FROM o w1 JOIN o w2
                ON w1.u = w2.u AND (w1.dvd, w1.v) < (w2.dvd, w2.v)
              JOIN o e ON e.u = w1.v AND e.v = w2.v),
      per_node AS (
        SELECT node, CAST(count(*) AS BIGINT) AS tri
        FROM (SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY 1),
      nodes AS (
        SELECT 'node' AS kind, deg.n AS node, deg.d,
               coalesce(per_node.tri, 0) AS tri,
               coalesce(per_node.tri, 0) * 2000
                 // (deg.d * (deg.d - 1)) AS c_permille
        FROM deg LEFT JOIN per_node ON per_node.node = deg.n
        WHERE deg.d >= 2
        ORDER BY c_permille DESC, tri DESC, node LIMIT 20),
      gsum AS (
        SELECT 'global' AS kind, CAST(-1 AS BIGINT) AS node,
               (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg)
                 AS d,
               (SELECT CAST(count(*) AS BIGINT) FROM tri) AS tri,
               (SELECT count(*) FROM tri) * 3000
                 // (SELECT sum(d * (d - 1) // 2) FROM deg) AS c_permille)
      SELECT kind, node, d, tri, CAST(c_permille AS BIGINT) AS c_permille
      FROM (SELECT * FROM gsum UNION ALL SELECT * FROM nodes)
      ORDER BY kind, c_permille DESC, tri DESC, node"""),
    "q_graph_closeness" -> (wCte + """,
      edges AS (SELECT u AS src, v AS dst FROM und),
      d0 AS (SELECT DISTINCT src AS seed, src AS vx,
                    CAST(0 AS BIGINT) AS d
             FROM edges WHERE src % 1000 < 5),
      d1 AS (SELECT DISTINCT d0.seed, e.dst AS vx, CAST(1 AS BIGINT) AS d
             FROM d0 JOIN edges e ON e.src = d0.vx
             WHERE NOT EXISTS (SELECT 1 FROM d0 p
               WHERE p.seed = d0.seed AND p.vx = e.dst)),
      c1 AS (SELECT * FROM d0 UNION ALL SELECT * FROM d1),
      d2 AS (SELECT DISTINCT d1.seed, e.dst AS vx, CAST(2 AS BIGINT) AS d
             FROM d1 JOIN edges e ON e.src = d1.vx
             WHERE NOT EXISTS (SELECT 1 FROM c1 p
               WHERE p.seed = d1.seed AND p.vx = e.dst)),
      c2 AS (SELECT * FROM c1 UNION ALL SELECT * FROM d2),
      d3 AS (SELECT DISTINCT d2.seed, e.dst AS vx, CAST(3 AS BIGINT) AS d
             FROM d2 JOIN edges e ON e.src = d2.vx
             WHERE NOT EXISTS (SELECT 1 FROM c2 p
               WHERE p.seed = d2.seed AND p.vx = e.dst)),
      c3 AS (SELECT * FROM c2 UNION ALL SELECT * FROM d3),
      d4 AS (SELECT DISTINCT d3.seed, e.dst AS vx, CAST(4 AS BIGINT) AS d
             FROM d3 JOIN edges e ON e.src = d3.vx
             WHERE NOT EXISTS (SELECT 1 FROM c3 p
               WHERE p.seed = d3.seed AND p.vx = e.dst)),
      c4 AS (SELECT * FROM c3 UNION ALL SELECT * FROM d4)
      SELECT seed, CAST(count(*) - 1 AS BIGINT) AS reach,
             CAST(sum(CASE WHEN d > 0 THEN 1000 // d ELSE 0 END)
               AS BIGINT) AS harmonic_milli
      FROM c4 GROUP BY 1 ORDER BY seed"""),
    "q_graph_sssp" -> (wCte + """,
      edges AS (SELECT u AS src, v AS dst, 1000 // w AS cost FROM und),
      r0 AS (SELECT DISTINCT src AS vx, CAST(0 AS BIGINT) AS d
             FROM edges WHERE src % 1000 < 3),
      r1 AS (SELECT vx, min(d) AS d FROM (
               SELECT vx, d FROM r0
               UNION ALL
               SELECT e.dst, r0.d + e.cost FROM r0
               JOIN edges e ON e.src = r0.vx) GROUP BY 1),
      r2 AS (SELECT vx, min(d) AS d FROM (
               SELECT vx, d FROM r1
               UNION ALL
               SELECT e.dst, r1.d + e.cost FROM r1
               JOIN edges e ON e.src = r1.vx) GROUP BY 1),
      r3 AS (SELECT vx, min(d) AS d FROM (
               SELECT vx, d FROM r2
               UNION ALL
               SELECT e.dst, r2.d + e.cost FROM r2
               JOIN edges e ON e.src = r2.vx) GROUP BY 1),
      r4 AS (SELECT vx, min(d) AS d FROM (
               SELECT vx, d FROM r3
               UNION ALL
               SELECT e.dst, r3.d + e.cost FROM r3
               JOIN edges e ON e.src = r3.vx) GROUP BY 1)
      SELECT vx AS part, CAST(d AS BIGINT) AS dist_milli
      FROM r4 ORDER BY dist_milli, part"""))
}
