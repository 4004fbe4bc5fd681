package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{CacheScope, Tables}

/** Relational graph analytics (SURVEY.md §2.M adjacents): fixed-point
  * PageRank over the supplier–customer interaction graph derived from
  * lineitem ⨝ orders, and an exact triangle census over the part
  * co-purchase graph. Complements the connected-components operator
  * (`q_dedup_components`, unweighted min-label propagation) with the
  * weighted iterative-aggregation shape (Page et al., 1999) and the
  * degree-ordered enumeration shape (Schank & Wagner 2005).
  *
  * Determinism: ranks live in integer micro-units; each step is
  * floor-division and integer sums only — both engines produce
  * bit-identical trajectories, no float accumulation across
  * iterations.
  */
object GraphOps {

  /** Three unrolled PageRank iterations (damping 0.85 as the exact
    * rational 85/100, base 0.15 as 150000 micro-units) over the
    * bipartite supplier/customer graph, reporting the top-20 nodes
    * with a deterministic (rank desc, node) tie-break.
    *
    * Scale: the per-node state (rank, degree) is |V| rows while the
    * edge set is |E| >> |V| — rank and degree broadcast, the edge
    * stream joins them MAP-SIDE, and the only shuffle per iteration
    * is the contribution aggregate on dst (partial-aggregated).
    * Edges are computed once and persisted (CacheScope-released).
    * When the measured node count |V| passes [[edgeLimit]] the rank
    * join flips to the co-partitioned SHUFFLE path of [[pagerankCore]]:
    * edges are hash-partitioned on src ONCE and persisted, the degree
    * join and every per-iteration rank join are shuffled-hash joins
    * that reuse that partitioning (zero |E| re-shuffles; only the
    * |V|-sized rank side moves per iteration). Ranks are integer
    * micro-units, so the two paths are bit-identical (pinned in
    * GraphSpec). */
  val qGraphPagerank: Q = (s, dir) =>
    pagerankRanks(s, dir).orderBy(col("r").desc, col("node")).limit(20)

  /** Full post-iteration rank frame of [[qGraphPagerank]].
    * Package-visible so the spec can pin broadcast/shuffle trajectory
    * equality over ALL nodes, not just the presented top-20. */
  private[graft] def pagerankRanks(s: SparkSession, dir: String): DataFrame =
    pagerankCore(supplierCustomerEdges(s, dir), iterations = 3,
      personalized = false, seed = None)

  /** The shared supplier–customer bipartite edge frame (undirected:
    * both directions emitted) of [[qGraphPagerank]] and [[qGraphPpr]]. */
  private def supplierCustomerEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("S"), col("l_suppkey")).as("a"),
        concat(lit("C"), col("o_custkey")).as("b"))
      .distinct()
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
  }

  /** Integer-micro PageRank iteration core over an arbitrary directed
    * (`src`, `dst`) edge frame — the single loop behind the uniform
    * ([[pagerankRanks]]), personalized ([[pprRanks]]) and public-API
    * (`Graft.pagerank` / `Graft.personalizedPagerank`) entry points.
    *
    * `personalized = false`: init 1 000 000 micro at every node,
    * restart mass 150 000 to every node per step. `personalized =
    * true`: all init/restart mass concentrates on a SEED SET —
    * `seed` (a function deg-frame → frame with column `seed`; 1 row
    * = classic PPR, N rows = topic-sensitive PageRank, Haveliwala
    * WWW 2002, mass split 1/|S| each by exact floor division) if
    * given, else the top-degree node (deg DESC, node),
    * deterministically. The seed set collapses to ONE broadcast row
    * (array + count), so seed membership is an array_contains against
    * O(1) state — never a |V|-keyed join.
    *
    * Scale: the per-node state (rank, degree) is |V| rows while the
    * edge set is |E| >> |V| — while the measured |V| is within
    * [[edgeLimit]], rank and degree broadcast and the edge stream
    * joins them MAP-SIDE; the only shuffle per iteration is the
    * contribution aggregate on dst (partial-aggregated). Past it, edges
    * are hash-partitioned on src ONCE (persisted) and every deg/rank
    * join becomes a shuffled-hash join riding that partitioning — zero
    * |E| re-shuffles, only the |V|-sized rank side moves per
    * iteration. All arithmetic is floor division and exact integer
    * sums, so the two paths are bit-identical (pinned in GraphSpec for
    * BOTH variants). */
  private[graft] def pagerankCore(edges0: DataFrame, iterations: Int,
      personalized: Boolean, seed: Option[DataFrame => DataFrame])
      : DataFrame = {
    val (edges, small) = gatedEdges(edges0, nodeCount, Some("src"))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edgesD = edges.join(small(deg), Seq("src"))
    val seedDf = if (!personalized) None else {
      val sd = seed.map(_(deg)).getOrElse(
        deg.orderBy(col("deg").desc, col("src")).limit(1)
          .select(col("src").as("seed"))).distinct()
      // one broadcast row: the seed array + its size (the 1/|S| mass
      // denominator) — membership is array_contains on O(1) state
      Some(sd.agg(collect_list(col("seed")).as("seeds"),
        count(lit(1)).as("ns")))
    }
    var rank = seedDf match {
      case None =>
        deg.select(col("src").as("node"), lit(1000000L).as("r"))
      case Some(sdn) => deg.crossJoin(broadcast(sdn))
        .select(col("src").as("node"),
          when(array_contains(col("seeds"), col("src")),
            expr("1000000 div ns"))
            .otherwise(0L).as("r"))
    }
    for (_ <- 1 to iterations) {
      // persist each iterate: the rank join executes rank's full
      // lineage, so an unpersisted chain recomputes iteration k-1 (and
      // everything before it) inside iteration k — 1+2+3 passes
      // instead of 3 (measured ~40% of the query's runtime)
      val contrib = edgesD.join(small(rank), col("src") === col("node"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst"))
      rank = CacheScope.track((seedDf match {
        case None => contrib
          .agg(expr("cast(150000 + (sum(c) * 85) div 100 as bigint)")
            .as("r"))
          .select(col("dst").as("node"), col("r"))
        case Some(sdn) => contrib
          .agg(expr("cast((sum(c) * 85) div 100 as bigint)").as("walk"))
          .crossJoin(broadcast(sdn))
          .select(col("dst").as("node"),
            (when(array_contains(col("seeds"), col("dst")),
              expr("150000 div ns")).otherwise(0L)
              + col("walk")).as("r"))
      }).persist(StorageLevel.MEMORY_AND_DISK))
    }
    rank
  }

  /** Full post-iteration personalized-PageRank frame of [[qGraphPpr]]
    * (same core, same gate, same bit-identity guarantee as
    * [[pagerankRanks]]). */
  private[graft] def pprRanks(s: SparkSession, dir: String): DataFrame =
    pagerankCore(supplierCustomerEdges(s, dir), iterations = 3,
      personalized = true, seed = None)

  /** Support-pruned part co-purchase edges (u < v, co-ordered >= 2
    * times): the shared graph of the triangle census and k-core
    * peeling. The lineitem self-join partial-aggregates on (u, v)
    * BEFORE the support filter — the market-basket prune that bounds
    * edge density at any corpus size. */
  private[graft] def copurchaseEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    // distinct first: a part listed twice in one order must not count
    // as two co-orders (same edge definition as qBasketPairs)
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    li.as("a")
      .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select(col("u"), col("v"))
  }

  /** Exact triangle census over the part co-purchase graph (parts that
    * ship in the same order, kept only at support >= 2 co-orders), via
    * the degree-ordered node-iterator algorithm (Schank & Wagner 2005;
    * the same orientation trick Hive users run as multi-stage MR SQL).
    * Emits an `edges`/`wedges`/`triangles` summary plus the top-10
    * parts by triangle participation, `(kind, cnt DESC, node)` ordered.
    *
    * Scale: the raw pair fan-out is the only |lineitem|-sized stage and
    * it partial-aggregates on (u, v) before the support filter — the
    * classic market-basket prune that cuts 1.2M candidate edges to
    * ~4k at sf0.1 and bounds density at any corpus size (the threshold
    * rises with volume). Orienting each edge low→high (degree, node)
    * makes every wedge count once and caps out-degree at ~sqrt(2|E|),
    * so the wedge join is O(|E|^1.5) worst case, not O(|V|·d_max²).
    * The broadcast↔shuffle choice is AUTO by default: the pruned edge
    * count does NOT stay proportional to corpus size once the part
    * catalog is fixed (co-purchase pairs densify quadratically — the
    * 10× stress corpus measured 335× the edges and sent the forced-
    * broadcast census superlinear, 13×), so the operator reads the
    * cardinality of its own persisted edge cache and flips every
    * broadcast hint to a shuffled-hash equi-join co-partitioned on
    * the shared key (wedges on u, closing probe on (u, v)) past
    * [[edgeLimit]]. Counts are exact integers, so the two paths are
    * bit-identical (pinned in GraphSpec; PlanSpec asserts no
    * data-scaling BroadcastExchange on the scale path). */
  val qGraphTriangles: Q = (s, dir) => {
    // e0 is the only |lineitem|-sized stage and feeds und (twice), deg,
    // the oriented join and the summary count — persist or the
    // self-join re-runs ~5x (the q_graph_pagerank lesson). Its count
    // picks the path; on the scale path the |V|-sized degree table and
    // the pruned |E'| oriented edge list never collect at the driver,
    // only hash-exchange on their key.
    val (e0, small) = gatedEdges(copurchaseEdges(s, dir))
    val und = e0.union(e0.select(col("v"), col("u")))
    val deg = und.groupBy(col("u").as("n")).agg(count(lit(1)).as("d"))
    // the oriented edge keeps the DESTINATION's (degree, node) key: the
    // wedge pair below must be ordered by the SAME key the orientation
    // uses, or closing edges whose degree order disagrees with node-id
    // order are never probed (undercounts ~50%, caught in r8 review)
    val o = CacheScope.track(und
      .join(small(deg.as("du")), col("u") === col("du.n"))
      .join(small(deg.as("dv")), col("v") === col("dv.n"))
      .filter(struct(col("du.d"), col("u")) < struct(col("dv.d"), col("v")))
      .select(col("u"), col("v"), col("dv.d").as("dv"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val tri = o.as("w1")
      .join(small(o.as("w2")),
        col("w1.u") === col("w2.u") &&
          (struct(col("w1.dv"), col("w1.v")) <
            struct(col("w2.dv"), col("w2.v"))))
      .join(small(o.as("e")),
        col("e.u") === col("w1.v") && col("e.v") === col("w2.v"))
      .select(col("w1.u").as("a"), col("w1.v").as("b"), col("w2.v").as("c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("node")).limit(10)
      .select(lit("top").as("kind"), col("node"), col("cnt"))
    val wedges = o.groupBy(col("u")).agg(count(lit(1)).as("od"))
      .agg(coalesce(sum(expr("od * (od - 1) div 2")), lit(0L)).as("cnt"))
      .select(lit("wedges").as("kind"), lit(-1L).as("node"), col("cnt"))
    val summary = e0.agg(count(lit(1)).as("cnt"))
      .select(lit("edges").as("kind"), lit(-1L).as("node"), col("cnt"))
      .union(wedges)
      .union(tri.agg(count(lit(1)).as("cnt"))
        .select(lit("triangles").as("kind"), lit(-1L).as("node"),
          col("cnt")))
    summary.union(perNode)
      .orderBy(col("kind"), col("cnt").desc, col("node"))
  }

  /** The graph family's one broadcast↔shuffle limit
    * (`spark.graft.graph.broadcastEdgeLimit`): an operator whose
    * measured size is above it takes the co-partitioned shuffled-hash
    * path; 0 forces that path for every graph operator, `Long.MaxValue`
    * forces broadcast. The default sits between the sf0.1 fixture
    * (3.5k pruned co-purchase edges, broadcast wins 0.85 s vs 2.28 s)
    * and the 10× stress corpus (1.2M edges, shuffle wins 5.2 s vs
    * 11.1 s — StressBench r14). */
  private def edgeLimit(s: SparkSession): Long =
    AutoBroadcast.limit(s, "spark.graft.graph.broadcastEdgeLimit", 100000L)

  /** Persists `edges0` (CacheScope-tracked) and measures the cached copy
    * with `measure`, which must bound the largest side the operator
    * broadcasts. Returns the edges and the hint for each such side —
    * [[AutoBroadcast.gate]] against [[edgeLimit]]. On the shuffle path
    * with `partitionOn` set the edges are hash-partitioned on that key
    * ONCE and persisted, so every later join on it reuses the
    * partitioning; the unpartitioned copy is released as soon as the
    * partitioned one is materialized, so no |E|-sized frame stays
    * cached twice. */
  private[ops] def gatedEdges(edges0: DataFrame,
      measure: DataFrame => Long = _.count(),
      partitionOn: Option[String] = None)
      : (DataFrame, DataFrame => DataFrame) = {
    val limit = edgeLimit(edges0.sparkSession)
    val edges = CacheScope.track(
      edges0.persist(StorageLevel.MEMORY_AND_DISK))
    val measured = measure(edges)
    val small = (df: DataFrame) => AutoBroadcast.gate(df, measured, limit)
    partitionOn.filter(_ => measured > limit) match {
      case None => (edges, small)
      case Some(key) =>
        val byKey = CacheScope.track(edges.repartition(col(key))
          .persist(StorageLevel.MEMORY_AND_DISK))
        byKey.count()
        edges.unpersist()
        (byKey, small)
    }
  }

  /** |V| of a (`src`, `dst`) edge frame: bounds the degree, rank and
    * walk tables the rank/walk loops broadcast (each is keyed by one
    * endpoint). The edge count would be the wrong measure there — the
    * supplier–customer graph has 2.9k–1.2M edges over 160–16k nodes
    * across the fixtures. */
  private def nodeCount(edges: DataFrame): Long =
    edges.select(explode(array(col("src"), col("dst")))).distinct().count()

  /** Three unrolled k-core peeling rounds (Seidman 1983, k=3) over the
    * same support-pruned co-purchase graph as the triangle census:
    * each round drops nodes of degree < k and induces the remaining
    * subgraph. Emits per-round (nodes, edges) survivors plus the
    * top-10 residual degrees — the "dense-core extraction" companion
    * to PageRank (value iteration) and components (label propagation):
    * iterative semi-join FILTERING rather than aggregation.
    *
    * Scale: the surviving node set is |V|-sized and broadcasts into
    * both endpoint filters; each round's induced edge list is
    * persisted (the iterative-broadcast lesson — an unpersisted chain
    * re-peels every earlier round inside round r). Once the measured
    * pruned edge count passes [[edgeLimit]], both endpoint filters
    * become shuffled-hash LEFT SEMI joins co-partitioned on the
    * endpoint (the survivor side is the small side of each shuffle),
    * bit-identical to the broadcast path (pinned in GraphSpec). */
  val qGraphKcore: Q = (s, dir) => {
    val k = 3
    // persist: the union below evaluates e0 twice (no exchange reuse
    // across union branches), and e0 is the lineitem self-join
    val (e0, small) = gatedEdges(copurchaseEdges(s, dir))
    var und = CacheScope.track(
      e0.union(e0.select(col("v").as("u"), col("u").as("v")))
        .persist(StorageLevel.MEMORY_AND_DISK))
    var summaries = Seq.empty[DataFrame]
    for (r <- 1 to 3) {
      val keep = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("u").as("n"))
      // LEFT SEMI joins against the survivor set: broadcast, or on the
      // scale path shuffled-hash with the survivor set as build side
      // (edges shuffle once per endpoint, no |V| broadcast).
      und = CacheScope.track(und
        .join(small(keep.as("ka")), col("u") === col("ka.n"), "left_semi")
        .join(small(keep.as("kb")), col("v") === col("kb.n"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK))
      summaries = summaries :+ und
        .agg(countDistinct(col("u")).as("a"),
          (count(lit(1)) / 2).cast("long").as("b"))
        .select(lit(s"round$r").as("kind"), col("a"), col("b"))
    }
    val top = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("u")).limit(10)
      .select(lit("top").as("kind"), col("u").as("a"), col("d").as("b"))
    summaries.reduce(_ union _).union(top)
      .orderBy(col("kind"), col("b").desc, col("a"))
  }

  /** Link prediction over the co-purchase graph (Liben-Nowell &
    * Kleinberg 2003): for every NON-edge node pair sharing at least
    * one neighbor, the common-neighbor count and the Adamic-Adar score
    * sum_z 1/log2(deg_z) — the "which products will be co-bought
    * next" / "which docs will link" ranker. The score is exact int64:
    * each term is `1e12 div round(log2(deg_z) * 1e6)`, and deg_z >= 2
    * by construction (z neighbors both endpoints), so the denominator
    * is always >= 1e6 — no zero, no negatives.
    *
    * Scale: identical wedge-join discipline to the triangle census —
    * the support-pruned edge set bounds density, the wedge fan-out is
    * per-node-degree-bounded, the existing-edge exclusion is a LEFT
    * ANTI probe, and one wedge side, the probe and the degree table
    * are the small sides. Same gate as there: while the persisted
    * pruned edge count is within [[edgeLimit]] they broadcast, past it
    * each becomes a co-partitioned shuffled-hash join. The top-20
    * lowers to TakeOrderedAndProject. */
  val qGraphLinkpred: Q = (s, dir) => {
    val (e0, small) = gatedEdges(copurchaseEdges(s, dir))
    val und = e0.union(e0.select(col("v"), col("u")))
    val deg = und.groupBy(col("u").as("n")).agg(count(lit(1)).as("d"))
    val wedge = und.as("x").join(small(und.as("y")),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.v").as("a"), col("y.v").as("b"), col("x.u").as("z"))
    wedge
      .join(small(e0),
        wedge("a") === e0("u") && wedge("b") === e0("v"), "left_anti")
      .join(small(deg), col("z") === col("n"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"),
        sum(expr(
          "1000000000000 div cast(round(log2(d) * 1e6) as bigint)"))
          .as("aa_micro"))
      .orderBy(col("aa_micro").desc, col("a"), col("b"))
      .limit(20)
  }

  /** 3-hop frontier BFS over the (undirected) co-purchase graph from
    * the seed set {parts with key < 3 present in the graph} — the
    * bounded-depth reachability primitive (blast-radius / related-
    * items expansion). Classic frontier relaxation: level k+1 =
    * min-dist of neighbors of the level-k frontier not yet labeled;
    * each hop is ONE dst-keyed shuffle of the FRONTIER×edges join
    * (never all vertices), with map-side min partial aggregation —
    * the Pregel iteration shape, 3 rounds unrolled.
    *
    * Scale: edges persist once (CacheScope-tracked) and each round
    * joins only the current frontier against them; labels accumulate
    * per vertex. Exact integer levels, first-reach = min-level by
    * construction. */
  val qGraphBfs: Q = (s, dir) => {
    val e = copurchaseEdges(s, dir)
    val edges = graft.CacheScope.track(
      e.select(col("u").as("src"), col("v").as("dst"))
        .union(e.select(col("v").as("src"), col("u").as("dst")))
        .persist())
    val verts = edges.select(col("src").as("vx")).distinct()
    var dist = verts.withColumn("d",
      when(col("vx") < 3, 0L).otherwise(lit(null).cast("long")))
    for (hop <- 1 to 3) {
      val frontier = dist.filter(col("d") === (hop - 1))
        .select(col("vx").as("src"))
      val relaxed = edges.join(frontier, Seq("src"))
        .groupBy(col("dst").as("vx"))
        .agg(min(lit(hop.toLong)).as("nd"))
      dist = dist.join(relaxed, Seq("vx"), "left")
        .select(col("vx"), coalesce(col("d"), col("nd")).as("d"))
    }
    dist.filter(col("d").isNotNull)
      .select(col("vx").as("part"), col("d").as("dist"))
      .orderBy(col("dist"), col("part"))
  }

  /** Personalized PageRank / random-walk-with-restart (Page et al.
    * 1999 §6 "personalized" vector; Tong, Faloutsos, Pan ICDM 2006):
    * the restart mass returns to ONE seed node — the top-degree node,
    * deterministically (deg DESC, node) — instead of spreading
    * uniformly, so the stationary mass ranks nodes by PROXIMITY to
    * the seed (the "related items / local community" primitive the
    * uniform PageRank cannot express). 3 unrolled iterations of
    * r'(v) = 150000·[v = seed] + (Σ_{u→v} r(u) div deg(u))·85 div 100
    * on the same supplier–customer bipartite graph as
    * [[qGraphPagerank]], micro fixed point, floor division only.
    *
    * Scale: same cost class as PageRank — per-iteration one
    * rank-to-edges equi-join (rank broadcasts; the SAME |V| gate as
    * [[qGraphPagerank]] flips it to the co-partitioned shuffled-hash
    * path — one shared [[pagerankCore]], bit-identical,
    * GraphSpec-pinned) and one partial-aggregated sum; the seed is a
    * 1-row broadcast. */
  val qGraphPpr: Q = (s, dir) =>
    pprRanks(s, dir).filter(col("r") > 0)
      .orderBy(col("r").desc, col("node")).limit(20)

  /** Topic-sensitive PageRank (Haveliwala, WWW 2002): the restart
    * mass spreads UNIFORMLY over a topic's seed SET instead of one
    * node — here "the supplier side": the 5 top-degree S-nodes
    * (deg DESC, node — deterministic), each holding exactly
    * 1/5 of the init and restart mass by floor division. The
    * stationary mass ranks nodes by proximity to the topic, the
    * primitive behind topical related-item feeds and seeded
    * community scoring.
    *
    * Scale: identical cost class to [[qGraphPpr]] — the seed set
    * collapses to ONE broadcast row (array + count), membership is an
    * array_contains against O(|S|) state, and the same |V| gate
    * flips the rank joins to the co-partitioned shuffle path (shared
    * [[pagerankCore]]). */
  val qGraphPprTopic: Q = (s, dir) =>
    pagerankCore(supplierCustomerEdges(s, dir), iterations = 3,
      personalized = true,
      seed = Some(deg => deg.filter(col("src").startsWith("S"))
        .orderBy(col("deg").desc, col("src")).limit(5)
        .select(col("src").as("seed"))))
      .filter(col("r") > 0)
      .orderBy(col("r").desc, col("node")).limit(20)

  /** Truncated Katz centrality (Katz, Psychometrika 1953):
    * K(v) = Σ_{k=1..3} βᵏ · walks_k(v) with β = 1/8, where
    * walks_k(v) counts length-k walks ENDING at v — the
    * attenuated-influence measure that, unlike degree, credits
    * friends-of-friends. Exact integers throughout: with the common
    * denominator 8³, K(v)·512 = 64·w₁ + 8·w₂ + w₃ (no division at
    * all — the one centrality in the family with a purely integral
    * fixed point). Walk counts are three sparse mat-vec passes
    * w_k(v) = Σ_{u→v} w_{k-1}(u) over the supplier–customer graph,
    * seeded w₀ = 1; top-20 by (katz_x512 DESC, node).
    *
    * Scale: same cost class as one PageRank iteration each — the
    * |V|-row walk vector broadcasts against the edge stream, and past
    * [[edgeLimit]] nodes takes the co-partitioned shuffle path of
    * [[pagerankCore]] (pure integer sums, so the paths are
    * bit-identical — GraphSpec pin); the per-step aggregate is
    * partial-aggregated on dst. */
  val qGraphKatz: Q = (s, dir) => {
    val walks = katzWalkTables(supplierCustomerEdges(s, dir), 3)
    walks(0).select(col("node"), col("w").as("w1"))
      .join(walks(1).select(col("node"), col("w").as("w2")), Seq("node"))
      .join(walks(2).select(col("node"), col("w").as("w3")), Seq("node"))
      .select(col("node"), col("w1"), col("w2"), col("w3"),
        (col("w1") * 64 + col("w2") * 8 + col("w3")).as("katz_x512"))
      .orderBy(col("katz_x512").desc, col("node")).limit(20)
  }

  /** The `depth` sparse mat-vec walk-count passes behind
    * [[qGraphKatz]] and the public `Graft.katzCentrality`: element i
    * (1-based length-i walks) is w_i(v) = Σ_{u→v} w_{i-1}(u), seeded
    * w₀ = 1 at every source node. Same |V| gate and scale discipline as
    * [[pagerankCore]] (edges hash-partitioned on src once, walk vectors
    * shuffled-hash-joined instead of broadcast); integer sums only, so
    * the paths are bit-identical. */
  private def katzWalkTables(edges0: DataFrame, depth: Int)
      : Seq[DataFrame] = {
    val (edges, small) = gatedEdges(edges0, nodeCount, Some("src"))
    var w = edges.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1L).as("w"))
    (1 to depth).map { _ =>
      w = CacheScope.track(edges
        .join(small(w), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(col("w")).as("w"))
        .select(col("dst").as("node"), col("w"))
        .persist(StorageLevel.MEMORY_AND_DISK))
      w
    }
  }

  /** Generalized truncated Katz: K(v)·invBeta^depth =
    * Σ_{i=1..depth} invBeta^(depth−i) · walks_i(v) — the β = 1/invBeta
    * attenuation with the common-denominator trick of [[qGraphKatz]],
    * so the result never leaves the integer ring. A node reachable by
    * SOME walk lengths but not others still gets exact credit for the
    * walks it has (outer union-aggregate, not the presentation inner
    * join of the fixed-depth query). Returns (node, katz_scaled). */
  private[graft] def katzCore(edges0: DataFrame, invBeta: Int, depth: Int)
      : DataFrame = {
    val walks = katzWalkTables(edges0, depth)
    // the scaled products and their sum are carried in DECIMAL(38,0)
    // (the pass@k falling-factorial pattern): walks_i(v) on a dense
    // graph easily exceeds the 2^20 headroom a pure-Long product would
    // leave, and a Long sum would WRAP silently. Decimal stays exact to
    // 10^38, and the isNull check below turns a genuine 38-digit
    // overflow into a raised error instead of a silent null (ADVICE
    // r13). The per-length walk counts themselves remain exact Longs —
    // the documented bound is w_i(v) < 2^63, see katzCentrality.
    walks.zipWithIndex.map { case (wi, i) =>
        val scale = BigInt(invBeta).pow(depth - (i + 1)).toLong
        wi.select(col("node"),
          (col("w").cast("decimal(38,0)") * lit(scale)).as("kpart"))
      }.reduce(_ unionByName _)
      .groupBy(col("node"))
      .agg(sum(col("kpart")).cast("decimal(38,0)").as("k0"))
      .select(col("node"),
        when(col("k0").isNotNull, col("k0"))
          .otherwise(expr(
            "raise_error('katzCentrality: katz_scaled exceeded " +
              "DECIMAL(38,0)')").cast("decimal(38,0)"))
          .as("katz_scaled"))
  }

  val queries: Map[String, Q] = Map(
    "q_graph_pagerank" -> qGraphPagerank,
    "q_graph_ppr" -> qGraphPpr,
    "q_graph_ppr_topic" -> qGraphPprTopic,
    "q_graph_katz" -> qGraphKatz,
    "q_graph_triangles" -> qGraphTriangles,
    "q_graph_linkpred" -> qGraphLinkpred,
    "q_graph_bfs" -> qGraphBfs,
    "q_graph_kcore" -> qGraphKcore)

  /** Shared oracle prefix: the deduped, support-pruned co-purchase
    * edge set (the SQL twin of [[copurchaseEdges]]). */
  private[ops] val copurchaseCte = """
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e0 AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2)"""

  val oracle: Map[String, String] = Map(
    "q_graph_ppr" -> """
      WITH pairs AS (
        SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS a,
               'C' || CAST(o_custkey AS VARCHAR) AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT a AS src, b AS dst FROM pairs
                UNION ALL SELECT b, a FROM pairs),
      deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
      seed AS (SELECT src AS seed FROM deg
               ORDER BY deg DESC, src LIMIT 1),
      e AS (SELECT edges.src, edges.dst, deg.deg
            FROM edges JOIN deg USING (src)),
      r0 AS (SELECT src AS node,
               CAST(CASE WHEN src = (SELECT seed FROM seed)
                    THEN 1000000 ELSE 0 END AS BIGINT) AS r
             FROM deg),
      r1 AS (SELECT e.dst AS node,
               CAST(CASE WHEN e.dst = (SELECT seed FROM seed)
                    THEN 150000 ELSE 0 END
                 + (sum(r0.r // e.deg) * 85) // 100 AS BIGINT) AS r
             FROM e JOIN r0 ON e.src = r0.node GROUP BY e.dst),
      r2 AS (SELECT e.dst AS node,
               CAST(CASE WHEN e.dst = (SELECT seed FROM seed)
                    THEN 150000 ELSE 0 END
                 + (sum(r1.r // e.deg) * 85) // 100 AS BIGINT) AS r
             FROM e JOIN r1 ON e.src = r1.node GROUP BY e.dst),
      r3 AS (SELECT e.dst AS node,
               CAST(CASE WHEN e.dst = (SELECT seed FROM seed)
                    THEN 150000 ELSE 0 END
                 + (sum(r2.r // e.deg) * 85) // 100 AS BIGINT) AS r
             FROM e JOIN r2 ON e.src = r2.node GROUP BY e.dst)
      SELECT node, r FROM r3 WHERE r > 0
      ORDER BY r DESC, node LIMIT 20""",
    "q_graph_katz" -> """
      WITH pairs AS (
        SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS a,
               'C' || CAST(o_custkey AS VARCHAR) AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT a AS src, b AS dst FROM pairs
                UNION ALL SELECT b, a FROM pairs),
      a1 AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS w
             FROM edges GROUP BY 1),
      a2 AS (SELECT e.dst AS node, CAST(sum(a1.w) AS BIGINT) AS w
             FROM edges e JOIN a1 ON e.src = a1.node GROUP BY 1),
      a3 AS (SELECT e.dst AS node, CAST(sum(a2.w) AS BIGINT) AS w
             FROM edges e JOIN a2 ON e.src = a2.node GROUP BY 1)
      SELECT a1.node, a1.w AS w1, a2.w AS w2, a3.w AS w3,
        a1.w * 64 + a2.w * 8 + a3.w AS katz_x512
      FROM a1 JOIN a2 ON a1.node = a2.node
              JOIN a3 ON a1.node = a3.node
      ORDER BY katz_x512 DESC, a1.node LIMIT 20""",
    "q_graph_ppr_topic" -> """
      WITH pairs AS (
        SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS a,
               'C' || CAST(o_custkey AS VARCHAR) AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT a AS src, b AS dst FROM pairs
                UNION ALL SELECT b, a FROM pairs),
      deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
      seeds AS (SELECT src AS seed FROM deg WHERE src LIKE 'S%'
                ORDER BY deg DESC, src LIMIT 5),
      ns AS (SELECT count(*) AS ns FROM seeds),
      e AS (SELECT edges.src, edges.dst, deg.deg
            FROM edges JOIN deg USING (src)),
      r0 AS (SELECT src AS node,
               CAST(CASE WHEN src IN (SELECT seed FROM seeds)
                    THEN 1000000 // (SELECT ns FROM ns)
                    ELSE 0 END AS BIGINT) AS r
             FROM deg),
      r1 AS (SELECT e.dst AS node,
               CAST(CASE WHEN e.dst IN (SELECT seed FROM seeds)
                    THEN 150000 // (SELECT ns FROM ns) ELSE 0 END
                 + (sum(r0.r // e.deg) * 85) // 100 AS BIGINT) AS r
             FROM e JOIN r0 ON e.src = r0.node GROUP BY e.dst),
      r2 AS (SELECT e.dst AS node,
               CAST(CASE WHEN e.dst IN (SELECT seed FROM seeds)
                    THEN 150000 // (SELECT ns FROM ns) ELSE 0 END
                 + (sum(r1.r // e.deg) * 85) // 100 AS BIGINT) AS r
             FROM e JOIN r1 ON e.src = r1.node GROUP BY e.dst),
      r3 AS (SELECT e.dst AS node,
               CAST(CASE WHEN e.dst IN (SELECT seed FROM seeds)
                    THEN 150000 // (SELECT ns FROM ns) ELSE 0 END
                 + (sum(r2.r // e.deg) * 85) // 100 AS BIGINT) AS r
             FROM e JOIN r2 ON e.src = r2.node GROUP BY e.dst)
      SELECT node, r FROM r3 WHERE r > 0
      ORDER BY r DESC, node LIMIT 20""",
    "q_graph_pagerank" -> """
      WITH pairs AS (
        SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS a,
               'C' || CAST(o_custkey AS VARCHAR) AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT a AS src, b AS dst FROM pairs
                UNION ALL SELECT b, a FROM pairs),
      deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
      e AS (SELECT edges.src, edges.dst, deg.deg
            FROM edges JOIN deg USING (src)),
      r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
      r1 AS (SELECT e.dst AS node,
               CAST(150000 + (sum(r0.r // e.deg) * 85) // 100 AS BIGINT)
                 AS r
             FROM e JOIN r0 ON e.src = r0.node GROUP BY e.dst),
      r2 AS (SELECT e.dst AS node,
               CAST(150000 + (sum(r1.r // e.deg) * 85) // 100 AS BIGINT)
                 AS r
             FROM e JOIN r1 ON e.src = r1.node GROUP BY e.dst),
      r3 AS (SELECT e.dst AS node,
               CAST(150000 + (sum(r2.r // e.deg) * 85) // 100 AS BIGINT)
                 AS r
             FROM e JOIN r2 ON e.src = r2.node GROUP BY e.dst)
      SELECT node, r FROM r3 ORDER BY r DESC, node LIMIT 20""",
    "q_graph_triangles" -> (copurchaseCte + """,
      und AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      deg AS (SELECT u AS n, count(*) AS d FROM und GROUP BY 1),
      o AS (SELECT und.u, und.v, dv.d AS dvd FROM und
            JOIN deg du ON du.n = und.u JOIN deg dv ON dv.n = und.v
            WHERE (du.d, und.u) < (dv.d, und.v)),
      tri AS (SELECT w1.u AS a, w1.v AS b, w2.v AS c
              FROM o w1 JOIN o w2
                ON w1.u = w2.u AND (w1.dvd, w1.v) < (w2.dvd, w2.v)
              JOIN o e ON e.u = w1.v AND e.v = w2.v),
      per_node AS (
        SELECT 'top' AS kind, node, count(*) AS cnt
        FROM (SELECT unnest([a, b, c]) AS node FROM tri)
        GROUP BY 2 ORDER BY cnt DESC, node LIMIT 10),
      summary AS (
        SELECT 'edges' AS kind, CAST(-1 AS BIGINT) AS node,
               count(*) AS cnt FROM e0
        UNION ALL
        SELECT 'wedges', -1,
               CAST(coalesce(sum(od * (od - 1) // 2), 0) AS BIGINT)
        FROM (SELECT u, count(*) AS od FROM o GROUP BY 1)
        UNION ALL
        SELECT 'triangles', -1, count(*) FROM tri)
      SELECT kind, node, cnt FROM summary
      UNION ALL SELECT kind, node, cnt FROM per_node
      ORDER BY kind, cnt DESC, node"""),
    "q_graph_linkpred" -> (copurchaseCte + """,
      und AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      deg AS (SELECT u AS n, count(*) AS d FROM und GROUP BY 1),
      w AS (SELECT x.v AS a, y.v AS b, x.u AS z
            FROM und x JOIN und y ON x.u = y.u AND x.v < y.v),
      ne AS (SELECT a, b, z FROM w WHERE NOT EXISTS
               (SELECT 1 FROM e0 WHERE e0.u = w.a AND e0.v = w.b)),
      sc AS (SELECT a, b, count(*) AS common,
               CAST(sum(1000000000000
                 // CAST(round(log2(d.d) * 1e6) AS BIGINT)) AS BIGINT)
                 AS aa_micro
             FROM ne JOIN deg d ON ne.z = d.n GROUP BY 1, 2)
      SELECT a, b, common, aa_micro FROM sc
      ORDER BY aa_micro DESC, a, b LIMIT 20"""),
    "q_graph_bfs" -> (copurchaseCte + """,
      edges AS (SELECT u AS src, v AS dst FROM e0
                UNION ALL SELECT v, u FROM e0),
      d0 AS (SELECT DISTINCT src AS vx FROM edges WHERE src < 3),
      d1 AS (SELECT DISTINCT dst AS vx FROM edges
             JOIN d0 ON edges.src = d0.vx
             WHERE dst NOT IN (SELECT vx FROM d0)),
      d2 AS (SELECT DISTINCT dst AS vx FROM edges
             JOIN d1 ON edges.src = d1.vx
             WHERE dst NOT IN (SELECT vx FROM d0)
               AND dst NOT IN (SELECT vx FROM d1)),
      d3 AS (SELECT DISTINCT dst AS vx FROM edges
             JOIN d2 ON edges.src = d2.vx
             WHERE dst NOT IN (SELECT vx FROM d0)
               AND dst NOT IN (SELECT vx FROM d1)
               AND dst NOT IN (SELECT vx FROM d2))
      SELECT vx AS part, dist FROM (
        SELECT vx, CAST(0 AS BIGINT) AS dist FROM d0
        UNION ALL SELECT vx, CAST(1 AS BIGINT) FROM d1
        UNION ALL SELECT vx, CAST(2 AS BIGINT) FROM d2
        UNION ALL SELECT vx, CAST(3 AS BIGINT) FROM d3)
      ORDER BY dist, part"""),
    "q_graph_kcore" -> (copurchaseCte + """,
      u0 AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      n1 AS (SELECT u AS n FROM u0 GROUP BY 1 HAVING count(*) >= 3),
      u1 AS (SELECT u0.u, u0.v FROM u0
             JOIN n1 a ON u0.u = a.n JOIN n1 b ON u0.v = b.n),
      n2 AS (SELECT u AS n FROM u1 GROUP BY 1 HAVING count(*) >= 3),
      u2 AS (SELECT u1.u, u1.v FROM u1
             JOIN n2 a ON u1.u = a.n JOIN n2 b ON u1.v = b.n),
      n3 AS (SELECT u AS n FROM u2 GROUP BY 1 HAVING count(*) >= 3),
      u3 AS (SELECT u2.u, u2.v FROM u2
             JOIN n3 a ON u2.u = a.n JOIN n3 b ON u2.v = b.n),
      summary AS (
        SELECT 'round1' AS kind, count(DISTINCT u) AS a,
               count(*) // 2 AS b FROM u1
        UNION ALL
        SELECT 'round2', count(DISTINCT u), count(*) // 2 FROM u2
        UNION ALL
        SELECT 'round3', count(DISTINCT u), count(*) // 2 FROM u3),
      top AS (
        SELECT 'top' AS kind, u AS a, count(*) AS b
        FROM u3 GROUP BY 2 ORDER BY b DESC, a LIMIT 10)
      SELECT kind, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
      FROM (SELECT * FROM summary UNION ALL SELECT * FROM top)
      ORDER BY kind, b DESC, a"""))
}
