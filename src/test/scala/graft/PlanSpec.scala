package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the 100 TB scale contract.
  * A query that silently loses its pushdown, broadcast, or top-k pushdown
  * still passes the value oracle; these tests pin the PLAN (SURVEY.md §4,
  * builder prompt "explain and iterate until it's the plan you'd want"). */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  // formatted mode prints complete PushedFilters / ReadSchema lists
  // (plain toString elides long argument lists)
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("scan filters reach parquet (PushedFilters) and columns are pruned") {
    val p = plan("q_scan_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_extendedprice"), p)
    // only the 4 referenced columns in ReadSchema
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_quantity") && !read.contains("l_discount"), read)
    // and the scan is the VECTORIZED reader (columnar batches feeding
    // whole-stage codegen) — a row-at-a-time scan would be the first
    // thing to cost 2-5x at 100 TB
    assert(p.contains("Batched: true"), p)
  }

  test("q6's scan-agg pushes every filter to parquet") {
    val p = plan("q6_forecast_revenue")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("l_quantity"), pushed)
  }

  test("dimension joins broadcast (no shuffle of the fact side for dims)") {
    assert(plan("q5_local_supplier").contains("BroadcastHashJoin"))
    assert(plan("q3_shipping_priority").contains("BroadcastHashJoin"))
  }

  test("order-by + limit lowers to TakeOrderedAndProject (top-k pushdown)") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
  }

  test("q1's exact-decimal aggregate runs in codegen on the fixed-point kernels") {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Multiply}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, Sum}
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
      ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val all = nodes(df.queryExecution.executedPlan)
    val stages = all.collect { case w: WholeStageCodegenExec => w }
    assert(!all.exists(n => n.isInstanceOf[ObjectHashAggregateExec] ||
      n.isInstanceOf[SortAggregateExec]), all.mkString("\n"))
    val partial = stages.flatMap(w => nodes(w.child)).collect {
      case h: HashAggregateExec if h.aggregateExpressions.forall(_.mode == Partial) => h
    }
    assert(partial.nonEmpty, s"no codegen'd partial HashAggregate:\n${all.mkString("\n")}")
    // per-row BigDecimal work left in a codegen stage
    val perRowBigDecimal: PartialFunction[Expression, Expression] = {
      case e: Sum if e.child.dataType.isInstanceOf[DecimalType] => e
      case e: Multiply if e.dataType.isInstanceOf[DecimalType] => e
      case e: Cast if e.child.dataType == DoubleType &&
        e.dataType.isInstanceOf[DecimalType] => e
    }
    val left = stages.flatMap(w => nodes(w.child))
      .flatMap(_.expressions.flatMap(_.collect(perRowBigDecimal)))
    assert(left.isEmpty, left.mkString("\n"))
  }

  test("aggregations have map-side partial aggregation") {
    val p = plan("q1_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
  }

  test("non-equi band join broadcasts the band table (BNLJ, not cartesian-shuffle)") {
    assert(plan("q_join_nonequi").contains("BroadcastNestedLoopJoin"))
  }

  test("window functions over one spec share a single exchange") {
    val p = plan("q_window_frames")
    // one hash exchange into the windows + one range exchange for the
    // final ORDER BY; more would mean a replanned/duplicated window
    assert("Arguments: hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("custom dot-product expression participates in whole-stage codegen") {
    GraftSession.install(spark)
    Tables(spark, sf, "embeddings").createOrReplaceTempView("emb_cg")
    val df = spark.sql(
      """SELECT vec_id, dotq(q, q) AS n2 FROM (
           SELECT vec_id, transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS q
           FROM emb_cg)""")
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("dotlongarrays"), p)
    assert(p.contains("[codegen id :"), p) // projection stage is codegen'd
  }

  test("GroupedTopK lowers to partial heaps -> exchange -> final heaps") {
    val p = plan("q_topk_grouped_custom")
    assert(p.contains("GroupedTopKPartial"), p)
    assert(p.contains("GroupedTopKFinal"), p)
    // the partial stage must sit below the exchange (map-side combine):
    // formatted explain prints the tree root-first, so the final, the
    // exchange, and the partial appear in that order
    val iFinal = p.indexOf("GroupedTopKFinal")
    val iEx = p.indexOf("Exchange", iFinal)
    val iPartial = p.indexOf("GroupedTopKPartial", iEx)
    assert(iFinal >= 0 && iEx > iFinal && iPartial > iEx, p)
    // result equality with the window formulation (modulo the rn column)
    val custom = SparkEntry.queries("q_topk_grouped_custom")(spark, sf)
      .collect().toSeq
    val window = SparkEntry.queries("q_window_topk_group")(spark, sf)
      .drop("rn")
      .orderBy(col("l_suppkey"), col("l_extendedprice").desc,
        col("l_orderkey"), col("l_linenumber"))
      .collect().toSeq
    assert(custom == window)
  }

  test("jaccard df-cut is a broadcast anti-join, not a shuffle of shingles") {
    val p = plan("q_dedup_jaccard")
    assert(p.contains("LeftAnti"), p)
    // the hot-list side broadcasts; the shingle table itself must not be
    // re-sorted/windowed for the cut
    assert(!p.contains("Window"), p)
  }

  test("jaccard pair stream: no table-cache stage, one reused self-join exchange") {
    // Under AQE every reference to a not-yet-materialized persisted
    // frame plans its own table-cache query stage (a single-task job
    // each), and the cache scan keeps ReuseExchange from seeing that the
    // two shuffle-hash self-join sides are one exchange. The executed
    // plan must hold no cache stage, and one self-join side must be the
    // other's ReusedExchange — with broadcast on (where that is the only
    // reuse) and off (the 100 TB regime, where the df-cut's shuffled
    // anti-join reuses the shingle and hot-list exchanges as well).
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
      AdaptiveSparkPlanHelper, ShuffleQueryStageExec, TableCacheQueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val helper = new AdaptiveSparkPlanHelper {}
    def exchangeOf(p: SparkPlan): SparkPlan = p match {
      case i: InputAdapter => exchangeOf(i.child)
      case r: AQEShuffleReadExec => exchangeOf(r.child)
      case q: ShuffleQueryStageExec => exchangeOf(q.plan)
      case other => other
    }
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      for (threshold <- Seq(saved, "-1")) {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        val df = SparkEntry.queries("q_dedup_jaccard")(spark, sf)
        df.collect()
        val executed = df.queryExecution.executedPlan
        val caches = helper.collect(executed) { case c: TableCacheQueryStageExec => c }
        val reused = helper.collect(executed) { case r: ReusedExchangeExec => r }
        val joins = helper.collect(executed) { case j: ShuffledHashJoinExec => j }
        val reusedSides = joins.flatMap(j => Seq(j.left, j.right))
          .map(exchangeOf).count(_.isInstanceOf[ReusedExchangeExec])
        assert(caches.isEmpty && joins.size == 1 && reusedSides == 1 &&
          (threshold == "-1" || reused.size == 1),
          s"broadcast threshold $threshold:\n$executed")
        CacheScope.release()
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("minhash signature subtree is computed once (cached at all 4 consumers)") {
    // r6 regression: the signature frame (tokenize -> shingle -> xxhash64
    // -> MinHashAgg, the dominant cost) fed four consumers — both band
    // self-join sides and both signature re-joins — and was recomputed
    // per consumer (four full documents scans). The explicit persist must
    // put an InMemoryTableScan at EVERY consumer, with broadcast off
    // (the 100 TB regime where no consumer hides behind a
    // BroadcastExchange wrapper).
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("q_dedup_minhash")(spark, sf)
      df.collect()
      val executed = df.queryExecution.executedPlan.toString
      val scans = "InMemoryTableScan".r.findAllIn(executed).size
      assert(scans >= 4,
        s"expected the cached signature frame at all 4 consumers, " +
          s"saw $scans InMemoryTableScan(s):\n$executed")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("simhash pair scan is a block-key equi-join, not an all-pairs BNLJ") {
    // The candidate join must be a shuffle join hash-partitioned on the
    // pigeonhole block key — an all-pairs BroadcastNestedLoopJoin here
    // would be the O(n^2) scale-killer this plan exists to avoid. The
    // shuffle_hash hint makes this hold at DEFAULT broadcast settings too
    // (r4: broadcast of one side defeated exchange reuse at small SF).
    val p = plan("q_dedup_simhash_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.contains("hashpartitioning(blk"), p)
    // no sort anywhere below the join: the fingerprint subtree must not
    // inherit the presentation query's global orderBy (r4 regression —
    // two wasted range-exchange + sort pairs), and SHJ needs no join sort.
    // The only Sort is the final ORDER BY (da, db) above the join.
    assert(!p.contains("SortMergeJoin"), p)
    assert("\\bSort \\(\\d+\\)".r.findAllIn(p).size == 1, p)
    // both self-join sides are the same subtree under identical
    // exchanges — runtime reuse must compute the fingerprints ONCE,
    // with broadcast left at its default (the driver's regime)
    val df = SparkEntry.queries("q_dedup_simhash_pairs")(spark, sf)
    df.collect()
    assert(df.queryExecution.executedPlan.toString
      .contains("ReusedExchange"), "simhash subtree not exchange-reused")
  }

  test("IVF ANN broadcasts centroids; posting-list lookup is a cid equi-join") {
    // Pins the q_sim_ivf shape (r4 bench regressed +85% with no code
    // change — pin the plan so drift is distinguishable from noise):
    // centroid scoring must broadcast the K=16 centroid table into the
    // cross join (the vector table is never shuffled to be scored), and
    // candidates must come from an equi-join on cid, not a nested loop.
    val p = plan("q_sim_ivf")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // broadcast centroids
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("hashpartitioning(cid"), p) // posting-list equi-join
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bucketed range join is a bucket equi-join, not a nested loop") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q_join_range_bucketed")
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), p)
      assert(p.contains("hashpartitioning(pb"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("semi/anti joins use existence joins, not inner join + distinct") {
    assert(plan("q_join_semi").contains("LeftSemi"))
    assert(plan("q_join_anti").contains("LeftAnti"))
  }

  test("incremental dedup broadcasts the ingest batch, streams the corpus") {
    // the production dedup shape: the day's batch is the broadcast side,
    // the 100 TB corpus side must stream map-side with NO shuffle of its
    // block table (a shuffle join here re-shuffles the whole corpus per
    // ingest cycle)
    val p = plan("q_dedup_incremental")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    // InjectRuntimeFilter: when a shuffle join's build side is small and
    // filtered, Spark plants bloom_filter_agg on it and a might_contain
    // filter on the probe side — at 100 TB this skips shuffling probe
    // rows that can never match (the runtime analogue of DPP for
    // non-partition keys). Pin that the engine's config regime actually
    // produces it (broadcast off = the at-scale join path; scan-size
    // threshold 0 because fixture tables are tiny).
    val savedB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val savedT = spark.conf.get(key)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(key, "0")
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy().count()
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedB)
      spark.conf.set(key, savedT)
    }
  }

  test("fuzzy join blocks on deletion variants — no cartesian, no BNLJ") {
    val p = plan("q_join_fuzzy")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join fell back to all-pairs:\n$p")
    // candidate generation is an equi-join on the variant key
    assert(p.contains("Join") || p.contains("HashJoin"), p)
  }

  test("decontamination held-out grams and contaminated ids broadcast") {
    val p = plan("q_decontaminate")
    // two map-side joins: gram semi-join + doc anti-join; the corpus
    // side must never shuffle for either
    assert("BroadcastExchange".r.findAllIn(p).size >= 2, p)
    assert(p.contains("LeftAnti"), p)
  }

  test("importance selection broadcasts the bounded target profile") {
    val p = plan("q_select_importance")
    // the target profile is <= 128 rows regardless of target-corpus
    // size — it must broadcast (pool side never shuffles for the join),
    // and the top-50 must lower to TakeOrderedAndProject, not a global
    // sort of the scored pool
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"target profile not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("perplexity LM tables broadcast — corpus side never shuffles to score") {
    val p = plan("q_text_perplexity")
    // c12 + c1 are bounded by the reference slice's vocab and must
    // reach the corpus bigram stream as broadcast hash joins; the only
    // aggregation shuffle is the final per-doc rollup
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"LM tables not broadcast:\n$p")
  }

  test("bloom filter table broadcasts and probe is an equi-join") {
    val p = plan("q_dedup_bloom")
    // the NB x 4-word filter is constant-size whatever the corpus —
    // it must broadcast into the batch probe, and nothing in the
    // pipeline may fall back to an all-pairs plan
    assert(p.contains("BroadcastHashJoin"), s"bloom not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("centroid classifier: L x d profile broadcasts, test side map-only") {
    val p = plan("q_emb_classify")
    // the ONLY nested-loop is the deliberate test x L centroid cross
    // (L = 10 rows); the vector stream itself must never self-join
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"centroids not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), s"vector stream shuffled to join:\n$p")
  }

  test("gram accumulation generates pairs map-side — no vector self-join") {
    val p = plan("q_emb_gram")
    // pair products come from flatten/transform inside the scan
    // projection; the only shuffle is the (i, j) aggregate, and the
    // dim-sum joins ride broadcasts
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"),
      s"gram fell back to a vector self-join:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("pagerank: node state broadcasts, edges cached, top-k pushed down") {
    val p = plan("q_graph_pagerank")
    // deg + the 3 per-iteration rank tables are |V|-sized and must all
    // reach the |E|-sized edge stream as broadcasts; the edge union is
    // persisted once; the top-20 must not global-sort
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"rank/deg tables not broadcast:\n$p")
    assert(p.contains("InMemoryTableScan"), s"edges not cached:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("pagerank shuffle path: rank joins are co-partitioned, never broadcast") {
    // The gated scale path (|V| past the edge limit, forced with 0):
    // edges are hash-partitioned on src once and persisted; deg and
    // every per-iteration rank join must be shuffled-hash joins riding
    // that partitioning, with NO broadcast of |V|-sized state anywhere.
    val p = withEdgeLimit(0L)(ops.GraphOps.pagerankRanks(spark, sf))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    try {
      assert("ShuffledHashJoin".r.findAllIn(p).size >= 4,
        s"deg/rank joins not shuffled-hash:\n$p")
      // The only broadcast joins allowed are the ones INSIDE the edge-build
      // cache (lineitem-orders pair derivation, keyed on order keys). The
      // |V|-sized deg/rank joins key on src/node — none of those may ride a
      // broadcast on the scale path.
      val bhjKeyLines = p.split("\\n\\(\\d+\\) ").toSeq
        .filter(_.startsWith("BroadcastHashJoin"))
        .flatMap(_.linesIterator.filter(_.contains("keys")))
      assert(bhjKeyLines.nonEmpty &&
        !bhjKeyLines.exists(l => l.contains("node#") || l.contains("src#")),
        s"deg/rank state still broadcasts on the scale path:\n$bhjKeyLines")
      assert(p.contains("InMemoryTableScan"),
        s"pre-partitioned edges not cached:\n$p")
    } finally CacheScope.release()
  }

  test("ppr shuffle path: rank joins are co-partitioned, never broadcast") {
    // Personalized PageRank rides the same gated core: on the
    // scale path no |V|-sized deg/rank state may broadcast (the seed,
    // a 1-row frame, is the only allowed non-edge-build broadcast).
    val p = withEdgeLimit(0L)(ops.GraphOps.pprRanks(spark, sf))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    try {
      assert("ShuffledHashJoin".r.findAllIn(p).size >= 4,
        s"deg/rank joins not shuffled-hash:\n$p")
      val bhjKeyLines = p.split("\\n\\(\\d+\\) ").toSeq
        .filter(_.startsWith("BroadcastHashJoin"))
        .flatMap(_.linesIterator.filter(_.contains("keys")))
      assert(!bhjKeyLines.exists(l =>
          l.contains("node#") || l.contains("src#")),
        s"deg/rank state still broadcasts on the scale path:\n$bhjKeyLines")
      assert(p.contains("InMemoryTableScan"),
        s"pre-partitioned edges not cached:\n$p")
    } finally CacheScope.release()
  }

  test("events ts predicate pushes through the generation normalization") {
    // Tables() casts events.ts NTZ->LTZ (micros fixtures); Catalyst's
    // cast-unwrapping must still deliver the time predicate to the
    // parquet scan — losing it means full events scans at 100 TB.
    val p = Tables(spark, sf, "events")
      .filter(col("ts") >= Tables.ts("2024-03-01 00:00:00"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(ts"),
      s"ts predicate not pushed to parquet:\n$p")
  }

  test("triangles: support-pruned edges cached + broadcast, no cartesian") {
    val p = plan("q_graph_triangles")
    // the lineitem self-join partial-aggregates into the support>=2
    // edge set, which is persisted once and reaches the degree joins,
    // the wedge self-join and the closing-edge probe as broadcasts;
    // nothing may fall back to a cartesian wedge enumeration
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), s"edge set not cached:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"deg/wedge/closing joins not broadcast:\n$p")
  }

  test("k-core shuffle path: endpoint filters are shuffled semi-joins") {
    // Scale path (|V| outgrows broadcast): each round's two endpoint
    // filters must run as shuffled-hash LEFT SEMI joins; the survivor
    // sets must never broadcast (only the edge-build pair joins may).
    val p = withEdgeLimit(0L)(ops.GraphOps.qGraphKcore(spark, sf))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    try {
      assert("ShuffledHashJoin LeftSemi".r.findAllIn(p).size >= 2,
        s"endpoint filters not shuffled semi-joins:\n$p")
      val bhjKeyLines = p.split("\\n\\(\\d+\\) ").toSeq
        .filter(_.startsWith("BroadcastHashJoin"))
        .flatMap(_.linesIterator.filter(_.contains("keys")))
      assert(!bhjKeyLines.exists(l => l.contains("n#") && l.contains("u#")),
        s"survivor set still broadcasts on the scale path:\n$bhjKeyLines")
    } finally CacheScope.release()
  }

  /** Hash-join key lines of every BroadcastHashJoin in a formatted
    * plan — the shared probe of the three graph scale-path pins below
    * (same discipline as the pagerank/ppr/k-core tests above). */
  private def bhjKeys(p: String): Seq[String] =
    p.split("\\n\\(\\d+\\) ").toSeq
      .filter(_.startsWith("BroadcastHashJoin"))
      .flatMap(_.linesIterator.filter(_.contains("keys")))

  test("triangles shuffle path: deg/oriented-edge joins never broadcast") {
    // Scale path (the support-pruned edge set grows with the corpus):
    // the |V|-sized degree table and the |E'| oriented edge list must
    // reach the wedge self-join and the closing-edge probe as
    // co-partitioned shuffled-hash joins; the only broadcasts allowed
    // are inside the edge build (lineitem pair join on l_orderkey).
    val p = withEdgeLimit(0L)(ops.GraphOps.qGraphTriangles(spark, sf))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    try {
      assert("ShuffledHashJoin".r.findAllIn(p).size >= 4,
        s"deg/wedge/closing joins not shuffled-hash:\n$p")
      val bad = bhjKeys(p).filter(l =>
        l.contains("u#") || l.contains("v#") || l.contains("n#"))
      assert(bad.isEmpty,
        s"deg/edge state still broadcasts on the scale path:\n$bad")
    } finally CacheScope.release()
  }

  test("clustering shuffle path: deg/oriented-edge joins never broadcast") {
    // Same contract as the triangles pin: on the gated scale path
    // no node- or edge-keyed state may ride a BroadcastExchange (the
    // 1-row global-transitivity crossJoin is a BNLJ, not a BHJ).
    val p = withEdgeLimit(0L)(ops.GraphOps2.qGraphClustering(spark, sf))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    try {
      assert("ShuffledHashJoin".r.findAllIn(p).size >= 4,
        s"deg/wedge/closing joins not shuffled-hash:\n$p")
      val bad = bhjKeys(p).filter(l =>
        l.contains("u#") || l.contains("v#") || l.contains("n#") ||
          l.contains("b#") || l.contains("c#"))
      assert(bad.isEmpty,
        s"deg/edge state still broadcasts on the scale path:\n$bad")
    } finally CacheScope.release()
  }

  test("hits shuffle path: auth/hub vector joins never broadcast") {
    // Scale path: BOTH graph axes (suppliers, customers) grow with the
    // data, so the per-round authority/hub vectors must shuffled-hash
    // join the sup-partitioned edge stream; only the edge build
    // (l_orderkey/o_orderkey) may broadcast, and the per-round max is
    // a 1-row BNLJ crossJoin.
    val p = withEdgeLimit(0L)(ops.CorpusOps22.qGraphHits(spark, sf))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    try {
      assert("ShuffledHashJoin".r.findAllIn(p).size >= 2,
        s"auth/hub joins not shuffled-hash:\n$p")
      val bad = bhjKeys(p).filter(l =>
        l.contains("sup#") || l.contains("c#"))
      assert(bad.isEmpty,
        s"auth/hub vectors still broadcast on the scale path:\n$bad")
      assert(p.contains("InMemoryTableScan"),
        s"pre-partitioned edges not cached:\n$p")
    } finally CacheScope.release()
  }

  test("k-core rounds: survivor sets broadcast, induced edges cached") {
    val p = plan("q_graph_kcore")
    // each peeling round's two endpoint filters ride broadcasts of the
    // |V|-sized survivor set; induced edge lists are persisted so later
    // rounds and the summary never re-peel earlier rounds
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 6,
      s"endpoint filters not broadcast:\n$p")
    assert(p.contains("InMemoryTableScan"), s"rounds not cached:\n$p")
  }

  test("basket pairs: item counts broadcast, scalar total is 1-row BNLJ") {
    val p = plan("q_basket_pairs")
    // per-item counts reach the surviving pairs as broadcasts; the only
    // nested-loop is the deliberate 1-row corpus-total attach
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), s"distinct scan not cached:\n$p")
  }

  test("semantic dedup pairs via cid equi-join over cached assignment") {
    val p = plan("q_dedup_semantic")
    // the ONLY nested-loop allowed is the broadcast centroid scoring
    // (n x K by design); pair generation must be an equi-join on cid
    // over the persisted assignment — never an n^2 cartesian
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"),
      s"assignment frame not cached:\n$p")
  }

  test("q21 scans lineitem once: EXISTS pair runs as per-order aggs") {
    val p = plan("q21_waiting_suppliers")
    // the semi/anti formulation scanned + shuffled lineitem three
    // times; the aggregate rewrite moves it through one exchange and
    // every consumer reads the persisted (orderkey, suppkey, late)
    // projection (VERDICT r7 item 7)
    assert("lineitem\\.parquet".r.findAllIn(p).size <= 1,
      s"q21 must scan lineitem once:\n$p")
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("theta sketch aggregates partially before the shuffle") {
    val p = plan("q_agg_theta_sketch")
    // TypedImperativeAggregate lowers to ObjectHashAggregate with a
    // partial mode before the exchange — at 100 TB the shuffle carries
    // one <=k-slot sketch per (source, partition), not the gram stream
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    // one-pass pin (VERDICT r7 item 4): the pairwise set algebra joins
    // the CACHED sketch frame against itself — the corpus is scanned
    // once, not once per join side
    assert("documents\\.parquet".r.findAllIn(p).size <= 1,
      s"theta sketch must scan documents once:\n$p")
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("diversity sampling quota is a WindowGroupLimit, not a full sort+filter") {
    val p = plan("q_sim_diverse")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastExchange"), p) // centroids broadcast
  }

  test("LATERAL subquery decorrelates to rank-window + join, never per-row") {
    val p = plan("q_lateral_subquery")
    assert(!p.contains("CartesianProduct"), p)
    // the ordered-limit correlated subquery becomes ONE windowed rank
    // over the inner table plus an equi-join on the correlation key
    assert(p.contains("Window"), p)
    assert(p.contains("HashJoin"), p)
  }

  test("BM25 filters postings before the tf aggregation and top-ks via TakeOrdered") {
    val p = plan("q_text_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the query-term IN filter must run BEFORE the first aggregation —
    // at 100 TB this is "shuffle 3 terms' postings" vs "shuffle the corpus"
    assert(p.linesIterator.exists(l =>
      l.contains("Condition :") && l.contains("term")), p)
  }

  test("novelty/postings builds never go all-pairs and partial-aggregate map-side") {
    for (q <- Seq("q_text_novelty", "q_index_postings", "q_index_delta")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$q:\n$p")
    }
  }

  test("budget select decomposes the global cumsum into two bounded windows") {
    val p = plan("q_budget_select")
    // one tiny cross-bucket offset window + one per-bucket window —
    // never a corpus-sized single-partition running sum
    assert("\\bWindow\\b".r.findAllIn(p).size >= 2, p)
    assert(p.contains("bucket"), p)
  }

  test("embedding outliers broadcast the centroid table and TakeOrdered the bottom-k") {
    val p = plan("q_emb_outliers")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("negative sampling assigns partners join-free (only the metadata equi-join)") {
    val p = plan("q_neg_sample")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("link prediction: wedge join + anti probe never go cartesian, degrees broadcast") {
    val p = plan("q_graph_linkpred")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
    // existing-edge exclusion is an ANTI probe, not a filter-after-join
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("quality classifier: weights broadcast, tokens pre-aggregated to buckets") {
    val p = plan("q_quality_classifier")
    assert(p.contains("BroadcastHashJoin"), p)
    // the (doc, bucket) partial aggregation must sit BELOW the weight
    // join — at 100 TB the join input is bucket-level, not token-level
    val joinAt = p.indexOf("BroadcastHashJoin")
    val partialAt = p.indexOf("HashAggregate")
    assert(partialAt >= 0 && partialAt < joinAt, p)
  }

  test("count-min sketch partially aggregates cells map-side, probes broadcast") {
    val p = plan("q_agg_countmin")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("partial_count") || p.contains("Partial"), p)
  }

  test("PIT SCD2 join keeps the customer equi-key (no cartesian, no range-only join)") {
    val p = plan("q_join_pit_scd2")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the validity-range predicate must ride the custkey hash join as a
    // post-condition, not degrade the join to a nested loop
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"), p)
  }

  test("materialized-view rewrite answers the aggregate from the MV scan") {
    // The query is written against the FACT (lineitem); the optimizer
    // rule must swap the scan for the registered MV — at 100 TB this is
    // the difference between O(fact) and O(group-key cross-product).
    val df = SparkEntry.queries("q_mv_rewrite")(spark, sf)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("graft_mv"),
      s"MV not scanned:\n$executed")
    assert(!executed.contains("lineitem.parquet"),
      s"fact still scanned:\n$executed")
    // and the rewrite is value-preserving vs the un-rewritten plan
    graft.plans.MaterializedViewRewrite.clear()
    try {
      val direct = SparkEntry.queries("q_mv_rewrite")(spark, sf)
      // register() inside the query re-arms the rule; clear again and
      // execute the SAME frame with an empty registry -> fact plan
      graft.plans.MaterializedViewRewrite.clear()
      val rows = direct.collect()
      assert(direct.queryExecution.executedPlan.toString
        .contains("lineitem.parquet"), "control run should scan the fact")
      assert(rows.toSeq == df.collect().toSeq,
        "MV rewrite changed the result")
    } finally graft.plans.MaterializedViewRewrite.clear()
  }

  test("AUC rank window runs over score-level aggregates, not doc rows") {
    val p = plan("q_classifier_auc")
    // the groupBy(score) aggregate must sit BELOW the window sort — at
    // 100 TB the global orderBy window touches |distinct scores| rows
    // (bounded by the weight-table range), never the corpus
    val winAt = p.indexOf("Window")
    assert(winAt > 0, p)
    val aggBefore = p.substring(0, winAt).contains("HashAggregate")
    assert(aggBefore, s"no aggregate below the rank window:\n$p")
  }

  test("DAU rollup has no multi-distinct Expand; bands fold in one aggregate") {
    val p = plan("q_rollup_dau")
    // the min-offset rewrite replaced 3 countDistincts: an Expand node
    // would mean the 28x fan-out is being TRIPLED again
    assert(!p.contains("Expand"), p)
  }

  test("CDC compaction is one key-partitioned window sort, no self-join") {
    val p = plan("q_cdc_compact")
    assert(!p.contains("Join"), p)
    // exactly one hash exchange (both windows share the user_id
    // partitioning); the only other exchange is the final presentation
    // orderBy's range partitioning
    assert("Arguments: hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("cardinality audit never materializes the join it estimates") {
    val p = plan("q_join_card_audit")
    assert(!p.contains("Join"), p)
    // per-key counts partial-aggregate map-side
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("interval sweep is join-free: boundary union + day aggregate + cumsum") {
    val p = plan("q_ts_concurrency")
    // the per-order interval rollup joins orders↔lineitem once; there
    // is NO interval×day join (the sweep replaces it) and no Union
    // duplicating the rollup subtree — boundaries explode from one pass
    // one join NODE = tree line + detail line in formatted mode
    assert("[A-Za-z]+Join".r.findAllIn(p).size <= 2, p)
    assert(p.contains("Generate") && !p.contains("Union"), p)
    assert(!p.toLowerCase.contains("cartesian"), p)
  }

  test("edit-distance vocab join stays dictionary-sized and broadcast") {
    val p = plan("q_fn_edit_dl")
    // distinct-token vocab on BOTH sides (never the raw fact), joined
    // via broadcast nested loop under the length-block condition
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // the distincts
  }

  test("keyphrase chi2: margins broadcast, top-k lowers to WindowGroupLimit") {
    val p = plan("q_text_keyphrase")
    assert("BroadcastExchange".r.findAllIn(p).size >= 3, p) // cw, cs, n
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("discount lift folds to one partial-aggregated scan") {
    val p = plan("q_discount_lift")
    assert(!p.contains("Join"), p)
    // partial + final HashAggregate around a single exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert("Arguments: hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("order-gap percentiles reuse ONE customer-keyed exchange") {
    val p = plan("q_order_gap_percentiles")
    // the lag window and the join probe share the o_custkey hash
    // partitioning; only the segment rollup adds a second exchange
    assert("Arguments: hashpartitioning".r.findAllIn(p).size <= 3, p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("ivf-pq: codebook and distance tables broadcast, no cartesian scoring") {
    val p = plan("q_sim_ivfpq")
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    // centroids + codebook (×2: encode, dt) + dt join all broadcast
    assert("BroadcastExchange".r.findAllIn(p).size >= 3, p)
  }

  test("interval-overlap self-join rides the customer equi-key, never NLJ") {
    val p = plan("q_join_interval_overlap")
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("item-item cosine lowers the per-item top-k to WindowGroupLimit") {
    val p = plan("q_rec_itemcos")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  // The r9 verdict's named scale-killer: a row-scale global ntile is an
  // unpartitioned WindowExec ("No Partition Defined ... single partition").
  // Both former offenders now run the ScaleWindows bucket-offset
  // decomposition; pin that NO Window node in either plan — including the
  // cross-bucket offset step, which is a broadcast triangular join, not a
  // window — is unpartitioned.
  private def unpartitionedWindows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w.windowExpressions.mkString(",")
      }

  test("rfm quintiles: no unpartitioned window anywhere in the plan") {
    assert(unpartitionedWindows("q_customer_rfm").isEmpty,
      unpartitionedWindows("q_customer_rfm"))
  }

  test("calibration deciles: no unpartitioned window anywhere in the plan") {
    assert(unpartitionedWindows("q_calibration_bins").isEmpty,
      unpartitionedWindows("q_calibration_bins"))
  }

  test("spearman: both global ranks decompose — no unpartitioned window") {
    assert(unpartitionedWindows("q_corr_spearman").isEmpty,
      unpartitionedWindows("q_corr_spearman"))
  }

  test("curriculum order: per-source ranks decompose — no unpartitioned window") {
    assert(unpartitionedWindows("q_curriculum_order").isEmpty,
      unpartitionedWindows("q_curriculum_order"))
  }

  test("headline unpartitioned windows: audited allowlist, aggregate-bounded") {
    // Bench logs 'WindowExec: No Partition Defined' warnings that are
    // benign ONLY because the window's input is a dimension-bounded
    // aggregate (day/score/bin axis), never corpus rows. Make that a
    // contract: every unpartitioned Window in a headline plan must
    // (a) belong to this audited set and (b) consume Aggregate output,
    // so a new row-scale global window fails the suite instead of
    // hiding in log noise (VERDICT r10 item 7; q_ts_concurrency's
    // windows run over the per-day aggregate, CorpusOps12).
    // q_sample_neyman: the largest-remainder apportionment rank runs
    // on the |sources|-row aggregate — dimension-bounded by contract
    // (the second clause below still enforces the Aggregate child)
    val allowed = Set("q_ts_concurrency", "q_sample_neyman")
    val offenders = scala.collection.mutable.ListBuffer[String]()
    for (name <- Bench.headline) {
      val lp = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan
      val wins = lp.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      if (wins.nonEmpty && !allowed(name))
        offenders += s"$name: NEW unpartitioned window (audit or decompose)"
      wins.foreach { w =>
        val aggBounded = w.child.collectFirst {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }.isDefined
        if (!aggBounded)
          offenders += s"$name: unpartitioned window over NON-AGGREGATED input"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("label propagation: round joins are never cartesian") {
    val p = plan("q_graph_labelprop")
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(!p.toLowerCase.contains("broadcastnestedloop"), p)
  }

  test("association rules: counts broadcast onto the pruned rule table") {
    val p = plan("q_basket_rules")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("ppjoin: prefix-filter candidates, never a cartesian pair scan") {
    val p = plan("q_dedup_ppjoin")
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("a-priori triples: semi-join pruned, never a cartesian basket scan") {
    val p = plan("q_basket_triples")
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("url domains: blocklist gate is a broadcast anti-join") {
    val p = plan("q_url_domains")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("weighted median + MAD windows are all flag-partitioned") {
    assert(unpartitionedWindows("q_weighted_median").isEmpty)
    assert(unpartitionedWindows("q_robust_mad").isEmpty)
  }

  test("ivf rebalance gated path: member joins never broadcast") {
    // Scale path (VERDICT r14 item 1): a trigger-eligible hot cell is
    // ~7% of the corpus, so past spark.graft.ivf.broadcastMemberLimit
    // the member-id and reassignment joins must reach the plan as
    // co-partitioned shuffled-hash equi-joins on vec_id; the only
    // broadcasts allowed are the K-row centroid cross join and other
    // bounded frames — nothing keyed on vec_id. Environment care, both
    // learned the hard way this round: (a) conf toggles ride an
    // isolated newSession() — suites run in parallel on ONE shared
    // session, and a global set/unset races other suites' reads;
    // (b) the pin runs on a DISTINCT input (vec_id < 480 via the
    // facade): the shared CacheManager substitutes any cached frame
    // whose canonicalized plan matches (sameResult STRIPS hints), so
    // a concurrent suite's default-path rebalance cache would replace
    // the gated build wholesale and this test would read the cached
    // BROADCAST plan — values identical, plan assertion poisoned.
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.ivf.broadcastMemberLimit", "0")
    try {
      val emb = Tables(s2, sf, "embeddings").filter(col("vec_id") < 480)
      val last = api.Graft.ivfRebalance(emb, "vec_id", "embedding",
        rounds = 3, thresholdPermille = 1000L).last
      val p = last.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert("ShuffledHashJoin".r.findAllIn(p).size >= 2,
        s"member joins not shuffled-hash on the gated path:\n$p")
      val bad = bhjKeys(p).filter(_.contains("vec_id#"))
      assert(bad.isEmpty,
        s"member state still broadcasts on the gated path:\n$bad")
    } finally CacheScope.release()
  }

  test("lm-table gated path: bigram LM joins never broadcast") {
    // Scale path (VERDICT r14 item 3): bigram TYPE counts grow with
    // the corpus (Heaps' law), so past spark.graft.lm.broadcastTypeLimit
    // the c12/c1 LM joins must be co-partitioned shuffled-hash joins on
    // the bigram key; the 1-row vocab frames stay BNLJ cross joins.
    // Isolated newSession() — see the rebalance pin above.
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.lm.broadcastTypeLimit", "0")
    Seq("q_text_perplexity", "q_select_rho", "q_text_kneser_ney",
      "q_text_ccnet_cut")
      .foreach { q =>
        try {
          val p = SparkEntry.queries(q)(s2, sf).queryExecution
            .explainString(org.apache.spark.sql.execution.ExplainMode
              .fromString("formatted"))
          assert("ShuffledHashJoin".r.findAllIn(p).size >= 2,
            s"$q LM joins not shuffled-hash on the gated path:\n$p")
          val bad = bhjKeys(p).filter(l =>
            l.contains("w1#") || l.contains("w2#"))
          assert(bad.isEmpty,
            s"$q LM tables still broadcast on the gated path:\n$bad")
        } finally CacheScope.release()
      }
  }

  test("threshold sweep scans documents once (histogram, no fan-out)") {
    // the sweep must be ONE corpus scan to a <=10-row bucket histogram
    // joined against a literal threshold frame — a naive 10x explode
    // of the corpus (or a scan per threshold) shows up as multiple
    // parquet scans or a corpus-side join
    val p = plan("q_select_threshold_sweep")
    // one Location line per scan detail block (the tree + detail both
    // say "Scan parquet", so a node-name count double-counts)
    val scans = p.linesIterator.count(_.contains("Location: InMemory"))
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$p")
  }

  test("blocking audit: no cartesian anywhere across the 3 blockers") {
    val p = plan("q_dedup_blocking_audit")
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("unigram trainer: segmentation is map-side, never a word join") {
    // the E-step's Viterbi DP runs against the bounded vocab collected
    // as a literal map — the returned plan must carry NO word-keyed
    // join at all (a relational DP would show SMJ/SHJ chains); the
    // only join is the 1-row total's broadcast nested loop
    val p = try plan("q_tok_unigram_train") finally CacheScope.release()
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("ShuffledHashJoin"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("bootstrap CI: the scored projection is scanned once, shared") {
    // the x32 replicate fan-out AND the point estimate must read the
    // ONE persisted (doc, source, score) frame — unpersisted, the
    // corpus would be scanned (and scored) twice
    val p = try plan("q_eval_bootstrap") finally CacheScope.release()
    val parquetScans = p.linesIterator
      .count(l => l.contains("Location: ") && !l.contains("InMemory"))
    assert(parquetScans == 0,
      s"expected only InMemory scans of the persisted projection:\n$p")
  }

  test("ks drift + mcnemar: one corpus scan each") {
    Seq("q_drift_length", "q_eval_mcnemar").foreach { q =>
      val p = try plan(q) finally CacheScope.release()
      val scans = p.linesIterator.count(_.contains("Location: "))
      assert(scans == 1, s"$q expected 1 documents scan, got $scans:\n$p")
    }
  }

  test("nb trainer gated path: the token lambda table never broadcasts") {
    // same Heaps'-law discipline as the bigram LMs: past the type
    // limit the token-count join must be a co-partitioned
    // shuffled-hash join on tok, never a broadcast build
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.lm.broadcastTypeLimit", "0")
    try {
      val p = SparkEntry.queries("q_quality_nb_train")(s2, sf)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
      assert("ShuffledHashJoin".r.findAllIn(p).size >= 1,
        s"token join not shuffled-hash on the gated path:\n$p")
      val bad = bhjKeys(p).filter(_.contains("tok#"))
      assert(bad.isEmpty,
        s"token table still broadcast on the gated path:\n$bad")
    } finally CacheScope.release()
  }
}
