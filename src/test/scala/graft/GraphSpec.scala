package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Graph-operator semantics (ops/GraphOps.scala): the degree-oriented
  * triangle census must agree with an orientation-FREE brute force —
  * the r8 review caught a ~50% undercount from ordering wedge pairs by
  * node id while edges were oriented by (degree, node); this pins the
  * invariant independently of the oracle (which shared the bug). */
class GraphSpec extends AnyFunSuite {
  import TestSpark._

  test("triangle census equals orientation-free brute force") {
    val rows = SparkEntry.queries("q_graph_triangles")(spark, sf).collect()
    val reported = rows.find(_.getString(0) == "triangles").get.getLong(2)
    // brute force on the node-id-normalized undirected edge set: a
    // triangle {a<b<c} is one row of e0xe0xe0 — no orientation involved
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val e0 = li.as("a")
      .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
      .select(col("u"), col("v"))
    val brute = e0.as("x")
      .join(e0.as("y"), col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .join(e0.as("z"),
        col("z.u") === col("x.v") && col("z.v") === col("y.v"))
      .count()
    assert(reported == brute, s"census $reported != brute force $brute")
    assert(reported > 0)
  }

  /** The nine public graph queries behind the one edge-limit gate. */
  private val gated = Seq("q_graph_pagerank", "q_graph_ppr",
    "q_graph_ppr_topic", "q_graph_katz", "q_graph_kcore",
    "q_graph_triangles", "q_graph_clustering", "q_graph_hits",
    "q_graph_linkpred")

  /** `frame` collected on the broadcast path (limit `Long.MaxValue`)
    * and on the shuffle path (limit 0), persists released after each. */
  private def bothPaths(frame: => org.apache.spark.sql.DataFrame)
      : (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
    def run(limit: Long) = withEdgeLimit(limit) {
      try frame.collect().toSeq finally CacheScope.release()
    }
    (run(Long.MaxValue), run(0L))
  }

  test("pagerank broadcast and shuffle-join paths are bit-identical") {
    // Ranks are integer micro-units (floor-div + integer sums only), so
    // the co-partitioned shuffle path must reproduce the broadcast
    // trajectory EXACTLY over all nodes — at sf0.01, where the graph is
    // big enough for a real multi-partition shuffle.
    val dir = "/root/testdata/sf0.01"
    val (b, sh) = bothPaths(
      ops.GraphOps.pagerankRanks(spark, dir).orderBy(col("node")))
    assert(b.nonEmpty && b == sh,
      s"broadcast/shuffle diverge: ${b.take(3)} vs ${sh.take(3)}")
    // and the gate actually routes the public query
    withEdgeLimit(0L) {
      try {
        val viaGate = SparkEntry.queries("q_graph_pagerank")(spark, dir)
          .collect().toSeq
        val top = b.sortBy(r => (-r.getLong(1), r.getString(0))).take(20)
        assert(viaGate == top)
      } finally CacheScope.release()
    }
  }

  test("ppr broadcast and shuffle-join paths are bit-identical") {
    // Same discipline as PageRank (same core): integer micro-unit
    // ranks, so the co-partitioned shuffle path must reproduce the
    // broadcast trajectory EXACTLY over all nodes.
    val dir = "/root/testdata/sf0.01"
    val (b, sh) = bothPaths(
      ops.GraphOps.pprRanks(spark, dir).orderBy(col("node")))
    assert(b.nonEmpty && b == sh,
      s"broadcast/shuffle PPR diverge: ${b.take(3)} vs ${sh.take(3)}")
    // and the gate actually routes the public query
    withEdgeLimit(0L) {
      try {
        val viaGate = SparkEntry.queries("q_graph_ppr")(spark, dir)
          .collect().toSeq
        val top = b.filter(_.getLong(1) > 0)
          .sortBy(r => (-r.getLong(1), r.getString(0))).take(20)
        assert(viaGate == top)
      } finally CacheScope.release()
    }
  }

  test("katz: w1 is exact indegree, fixed point is pure integer algebra") {
    val rows = try SparkEntry.queries("q_graph_katz")(spark, sf).collect()
      finally CacheScope.release()
    assert(rows.length == 20)
    // independent indegree recomputation for the reported nodes
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("S"), col("l_suppkey")).as("a"),
        concat(lit("C"), col("o_custkey")).as("b"))
      .distinct()
    val indeg = pairs.select(col("b").as("node"))
      .union(pairs.select(col("a").as("node")))
      .groupBy(col("node")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("w1") == indeg(r.getAs[String]("node")), r)
      assert(r.getAs[Long]("katz_x512") == r.getAs[Long]("w1") * 64 +
        r.getAs[Long]("w2") * 8 + r.getAs[Long]("w3"), r)
    }
    val ks = rows.map(_.getAs[Long]("katz_x512")).toSeq
    assert(ks == ks.sorted.reverse, "top-20 must be katz-descending")
  }

  test("katz broadcast and shuffle-join paths are bit-identical") {
    val dir = "/root/testdata/sf0.01"
    val (b, sh) = bothPaths(SparkEntry.queries("q_graph_katz")(spark, dir))
    assert(b.nonEmpty && b == sh,
      s"broadcast/shuffle Katz diverge: ${b.take(3)} vs ${sh.take(3)}")
  }

  test("triangles broadcast and shuffle-join paths are bit-identical") {
    // Exact integer census — the gated shuffled-hash path must
    // reproduce every row (summary AND top list) of the broadcast path.
    val dir = "/root/testdata/sf0.01"
    val (b, sh) =
      bothPaths(SparkEntry.queries("q_graph_triangles")(spark, dir))
    assert(b.nonEmpty && b == sh,
      s"broadcast/shuffle triangles diverge: ${b.take(3)} vs ${sh.take(3)}")
    // and the default limit routes the public query like the broadcast
    // path at this scale
    val viaDefault = try SparkEntry.queries("q_graph_triangles")(spark, dir)
        .collect().toSeq
      finally CacheScope.release()
    assert(viaDefault == b)
  }

  test("clustering broadcast and shuffle-join paths are bit-identical") {
    val dir = "/root/testdata/sf0.01"
    val (b, sh) =
      bothPaths(SparkEntry.queries("q_graph_clustering")(spark, dir))
    assert(b.nonEmpty && b == sh,
      s"broadcast/shuffle clustering diverge: ${b.take(3)} vs ${sh.take(3)}")
    val viaDefault = try SparkEntry.queries("q_graph_clustering")(spark, dir)
        .collect().toSeq
      finally CacheScope.release()
    assert(viaDefault == b)
  }

  test("hits broadcast and shuffle-join paths are bit-identical") {
    // Integer micro-unit authority scores: the co-partitioned path
    // (edges hash-partitioned on sup once, auth/hub vectors
    // shuffled-hash-joined) must replay the broadcast trajectory.
    val dir = "/root/testdata/sf0.01"
    val (b, sh) = bothPaths(SparkEntry.queries("q_graph_hits")(spark, dir))
    assert(b.nonEmpty && b == sh,
      s"broadcast/shuffle HITS diverge: ${b.take(3)} vs ${sh.take(3)}")
    val viaDefault = try SparkEntry.queries("q_graph_hits")(spark, dir)
        .collect().toSeq
      finally CacheScope.release()
    assert(viaDefault == b)
  }

  test("linkpred broadcast and shuffle-join paths are bit-identical") {
    // Exact int64 Adamic-Adar sums and common-neighbor counts: the gated
    // wedge join, existing-edge anti probe and degree join must give
    // the same top-20 on both paths.
    val dir = sf.replace("sf0.001", "sf0.01")
    val (b, sh) =
      bothPaths(SparkEntry.queries("q_graph_linkpred")(spark, dir))
    assert(b.nonEmpty && b == sh,
      s"broadcast/shuffle linkpred diverge: ${b.take(3)} vs ${sh.take(3)}")
  }

  test("auto gate: edge cardinality flips the graph family to shuffle") {
    // Every public graph query reads its measured size against the one
    // limit. At 0 each must plan shuffled-hash joins; at Long.MaxValue
    // none may (no data-scaling join side leaves the broadcast path).
    def plan(name: String) = try SparkEntry.queries(name)(spark, sf)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      finally CacheScope.release()
    for (name <- gated) {
      val sh = withEdgeLimit(0L)(plan(name))
      assert(sh.contains("ShuffledHashJoin"),
        s"$name ignored the gate at limit 0:\n$sh")
      val b = withEdgeLimit(Long.MaxValue)(plan(name))
      assert(!b.contains("ShuffledHashJoin"),
        s"$name planned a shuffled-hash join at limit Long.MaxValue:\n$b")
    }
  }

  test("graph queries never ask to cache already-cached data") {
    // A builder that persists a frame it (or a helper) already persisted
    // makes Spark's CacheManager warn and CacheScope track it twice;
    // on the shuffle path a raw and a repartitioned |E| would both stay
    // cached. Run every gated query on both paths and listen.
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    // start the session first: its startup may load Spark's default
    // log4j profile, which would drop an appender attached before it
    spark.sparkContext
    val name = "org.apache.spark.sql.execution.CacheManager"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("cache-guard", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    val level = logger.getLevel
    Configurator.setLevel(name, Level.WARN)
    logger.addAppender(appender)
    try {
      for (q <- gated; limit <- Seq(0L, Long.MaxValue)) {
        withEdgeLimit(limit) {
          try SparkEntry.queries(q)(spark, sf).collect()
          finally CacheScope.release()
        }
        val cached = seen.toArray.map(_.toString)
          .filter(_.contains("already cached"))
        assert(cached.isEmpty, s"$q at limit $limit: ${cached.toSeq}")
      }
    } finally {
      logger.removeAppender(appender)
      Configurator.setLevel(name, level)
      appender.stop()
    }
  }

  test("k-core broadcast and shuffle-semi paths are bit-identical") {
    // Pure integer set filtering — the co-partitioned shuffle path must
    // reproduce the broadcast path exactly, rounds and top list included.
    val dir = "/root/testdata/sf0.01"
    val (b, sh) = bothPaths(SparkEntry.queries("q_graph_kcore")(spark, dir))
    assert(b.nonEmpty && b == sh,
      s"broadcast/shuffle k-core diverge: ${b.take(3)} vs ${sh.take(3)}")
  }

  test("k-core peeling is monotone: survivors shrink, round3 degrees >= k") {
    val rows = SparkEntry.queries("q_graph_kcore")(spark, sf).collect()
    def round(r: Int) = rows.find(_.getString(0) == s"round$r").get
    assert((1 to 2).forall(r => round(r).getLong(1) >= round(r + 1).getLong(1)),
      "node survivors must be non-increasing")
    val degs = rows.filter(_.getString(0) == "top").map(_.getLong(2))
    assert(degs.forall(_ >= 3), s"residual degree under k: ${degs.toSeq}")
  }

  test("personalized pagerank: mass localizes at the seed, 3-hop support") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_graph_ppr")(spark, sf).collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(1) > 0))
    // the seed (top-degree node, deterministic tie) holds the restart
    // mass every iteration -> it must rank first
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("S"), col("l_suppkey")).as("a"),
        concat(lit("C"), col("o_custkey")).as("b")).distinct()
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    val seed = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("src")).limit(1)
      .collect()(0).getString(0)
    assert(rows.head.getString(0) == seed,
      s"top PPR node ${rows.head.getString(0)} != seed $seed")
    // after 3 iterations only nodes within 3 hops of the seed can
    // carry mass (walk support = BFS ball of radius 3)
    var frontier = Set(seed)
    var ball = Set(seed)
    val adj = edges.collect().groupBy(_.getString(0))
      .map { case (k, v) => k -> v.map(_.getString(1)).toSet }
    for (_ <- 1 to 3) {
      frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- ball
      ball ++= frontier
    }
    val outside = rows.map(_.getString(0)).filterNot(ball)
    assert(outside.isEmpty, s"mass outside the 3-hop ball: $outside")
  }
}
