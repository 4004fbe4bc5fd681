package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r15 wave 35: boundary-anchored BPE merges (ADVICE r14), the
  * DECIMAL(38,0) bestOfN facade, the IVF cells knob + member-join
  * gate, the LM-table gate, and the new maintenance/consumer facades
  * (VERDICT r14 items 1/2/3/5/6). */
class Wave35Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("bpe merge is boundary-anchored: 'h e' never fires inside 'th e'") {
    // the ADVICE r14 case verbatim: after round 1 merges "t h" -> "th",
    // the round-2 pair "h e" must NOT match across the th|e symbol
    // boundary (an unanchored replace minted "the", a symbol no merge
    // created). The positive case on the same frame proves the anchor
    // doesn't suppress legitimate merges.
    val dict = Seq((1L, "t h e </w>"), (1L, "x h e </w>"))
      .toDF("freq", "sym")
    val out = ops.TextAnalysis.applyMerges(dict, Seq("t h", "h e"))
      .orderBy(col("sym")).collect().map(_.getString(1)).toSeq
    assert(out == Seq("th e </w>", "x he </w>"), out)
  }

  test("bpe merge is greedy left-to-right on adjacent repeats") {
    val dict = Seq((1L, "a a a </w>"), (1L, "a b a b </w>"))
      .toDF("freq", "sym")
    val out = ops.TextAnalysis.applyMerges(dict, Seq("a a", "a b"))
      .orderBy(col("sym")).collect().map(_.getString(1)).toSeq
    // "a a a" -> "aa a" (first pair wins, third a unpaired);
    // "a b a b" -> "ab ab" (both non-overlapping occurrences merge)
    assert(out == Seq("aa a </w>", "ab ab </w>"), out)
  }

  test("bestOfN carries the order-statistic sum in DECIMAL(38,0)") {
    // m = 5000 rows of a constant 10^6-unit score: E[max of any
    // n-subset] IS the score, so every bo<n> must equal it exactly.
    // The old Long arithmetic wrapped the n = 4 numerator near
    // m ~ 2.5e3 at this score scale and returned a silently wrong
    // value (ADVICE r14) — this is the red-before/green-after case.
    val pool = spark.range(5000)
      .select(lit("g").as("grp"), lit(1000000L).as("score"),
        col("id").as("tie"))
    val out = try api.Graft.bestOfN(pool, Seq("grp"), "score",
        ns = Seq(1, 2, 4), tieCol = Some("tie")).collect()(0)
      finally CacheScope.release()
    assert(out.getAs[Long]("m") == 5000L)
    Seq("bo1", "bo2", "bo4").foreach { c =>
      assert(out.getAs[Long](c) == 1000000L,
        s"$c = ${out.getAs[Long](c)} != the constant score")
    }
    // pools smaller than n keep the pass@k contract: bo<n> = pool max
    val tiny = spark.range(2)
      .select(lit("g").as("grp"),
        (col("id") * 100L + 100L).as("score"), col("id").as("tie"))
    val t = try api.Graft.bestOfN(tiny, Seq("grp"), "score",
        ns = Seq(4), tieCol = Some("tie")).collect()(0)
      finally CacheScope.release()
    assert(t.getAs[Long]("bo4") == 200L)
  }

  test("banding (b, r) must divide the 32-perm signature") {
    // (5, 5) = 25 of 32 permutations would silently band a prefix
    // while est_jaccard still uses all 32 (ADVICE r14)
    val docs = Tables(spark, sf, "documents")
    intercept[IllegalArgumentException] {
      api.Graft.minhashPairs(docs, "doc_id", "text", bands = 5, rows = 5)
    }
    intercept[IllegalArgumentException] {
      ops.Dedup.minhashPairs(spark, sf, 5, 5)
    }
  }

  // Conf toggles ride an isolated newSession(): suites run in
  // parallel on ONE shared session, so a global set/unset would race
  // other suites' conf reads (caught live — PlanSpec's gate pin read
  // the default limit after this suite's finally-unset). The ops
  // builders below are called directly, not through SparkEntry.queries,
  // so the fresh session is installed here.
  private def withConf[A](kvs: (String, String)*)(
      f: org.apache.spark.sql.SparkSession => A): A = {
    val s2 = GraftSession.install(spark.newSession())
    kvs.foreach { case (k, v) => s2.conf.set(k, v) }
    try f(s2) finally CacheScope.release()
  }

  private def stateSets(s: org.apache.spark.sql.SparkSession)
      : Seq[Set[(Long, Long, Long)]] =
    ops.Similarity.rebalanceStates(s, sf)
      .map(_.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2))).toSet)

  test("spark.graft.ivf.cells drives every coarse quantizer; 16 == default") {
    val defaultStates = withConf()(stateSets)
    val pinned16 =
      withConf("spark.graft.ivf.cells" -> "16")(stateSets)
    assert(pinned16 == defaultStates, "explicit 16 != unset default")
    val cells8 = withConf("spark.graft.ivf.cells" -> "8") { s2 =>
      ops.Similarity.rebalanceStates(s2, sf).head
        .select(col("cid")).distinct().count()
    }
    assert(cells8 <= 8, s"K=8 produced $cells8 cells")
    assert(defaultStates.head.map(_._2).size > 8,
      "fixture uses fewer than 9 of the 16 default cells — the K=8 " +
        "pin above is vacuous")
  }

  test("ivf member-join gate: shuffle path == broadcast path bit-for-bit") {
    val broadcastStates = withConf()(stateSets)
    val shuffleStates =
      withConf("spark.graft.ivf.broadcastMemberLimit" -> "0")(stateSets)
    assert(broadcastStates.size == shuffleStates.size)
    broadcastStates.zip(shuffleStates).zipWithIndex.foreach {
      case ((b, sh), i) => assert(b == sh, s"round $i diverged")
    }
  }

  test("lm-table gate: shuffle path == broadcast path bit-for-bit") {
    Seq("q_text_perplexity", "q_select_rho", "q_text_kneser_ney")
      .foreach { q =>
        val b = withConf() { s2 =>
          SparkEntry.queries(q)(s2, sf).collect().toSeq
        }
        val sh = withConf("spark.graft.lm.broadcastTypeLimit" -> "0") {
          s2 => SparkEntry.queries(q)(s2, sf).collect().toSeq
        }
        assert(b == sh, s"$q diverged between gate paths")
      }
  }

  test("ivfRebalance facade == the declared composition's states") {
    val declared =
      try ops.Similarity.rebalanceStates(spark, sf)
          .map(_.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2))).toSet)
        finally CacheScope.release()
    // facade assigns base+delta in ONE pass; the declared query unions
    // the two assignment passes — per-vector assignment is
    // deterministic, so the states must agree round by round
    val api0 =
      try api.Graft.ivfRebalance(Tables(spark, sf, "embeddings"),
          "vec_id", "embedding")
          .map(_.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2))).toSet)
        finally CacheScope.release()
    assert(api0.size == declared.size)
    api0.zip(declared).zipWithIndex.foreach { case ((a, d), i) =>
      assert(a == d, s"round $i diverged between facade and declared")
    }
  }

  test("bpeApply/bpeFertility facades == the declared q_bpe_apply") {
    val docs = Tables(spark, sf, "documents")
    val merges =
      try api.Graft.bpeTrain(docs, "text").orderBy(col("round"))
          .collect().map(_.getString(1)).toSeq
      finally CacheScope.release()
    val fert =
      try api.Graft.bpeFertility(docs, "text", "source", merges)
          .collect().toSeq
      finally CacheScope.release()
    val declared =
      try SparkEntry.queries("q_bpe_apply")(spark, sf).collect().toSeq
      finally CacheScope.release()
    assert(fert.nonEmpty && fert == declared)
    // the tokenized dictionary the facade ships accounts for exactly
    // the declared token mass: Σ freq·|sym| == Σ n_bpe_tokens
    val dict =
      try api.Graft.bpeApply(docs, "text", merges)
          .select(sum(col("freq") *
            size(split(col("sym"), " "))).cast("long"))
          .collect()(0).getLong(0)
      finally CacheScope.release()
    assert(dict == declared.map(_.getAs[Long]("n_bpe_tokens")).sum)
  }

  test("k-center: radius non-increasing, centers distinct, seed is min id") {
    val rows = try SparkEntry.queries("q_sim_kcenter")(spark, sf)
        .collect().toSeq
      finally CacheScope.release()
    assert(rows.size == 8)
    assert(rows.head.getLong(0) == 0L && rows.head.getLong(1) == 0L)
    assert(rows.map(_.getLong(1)).distinct.size == 8,
      "a center was picked twice")
    val radii = rows.sortBy(_.getLong(0)).drop(1).map(_.getLong(2))
    radii.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"coverage radius grew: $radii")
      case _ => () }
    assert(radii.forall(_ > 0L))
  }

  test("substring dedup: coverage bounded by doc length, fixture has dups") {
    val rows = try SparkEntry.queries("q_dedup_substring")(spark, sf)
        .collect().toSeq
      finally CacheScope.release()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= 0L && r.getLong(2) <= r.getLong(1), r)
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000L, r)
    }
    assert(rows.exists(_.getLong(2) > 0L),
      "fixture has no >=8-token repeated span — the op is untested")
    assert(rows.exists(_.getLong(2) == 0L),
      "every doc marked duplicated — the >=2 filter is broken")
  }

  test("retrieval recall: hits bounded by the attainable normalizer") {
    val rows = try
        SparkEntry.queries("q_eval_retrieval_recall")(spark, sf)
          .collect().toSeq
      finally CacheScope.release()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == 50L, "queries lost or dropped")
    rows.foreach { r =>
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000L, r)
    }
  }

  test("kneser-ney discounts mass vs add-one on seen bigrams") {
    // On the same corpus, KN's absolute discount D = 3/4 on SEEN
    // reference bigrams plus continuation smoothing should not
    // reproduce add-one's scores — pin that the two LMs genuinely
    // differ per doc (a regression to the add-one path would pass
    // every oracle but ship the wrong smoothing), while both stay
    // positive-bits on every scored doc.
    val kn = try SparkEntry.queries("q_text_kneser_ney")(spark, sf)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      finally CacheScope.release()
    val addone = try SparkEntry.queries("q_text_perplexity")(spark, sf)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      finally CacheScope.release()
    assert(kn.keySet == addone.keySet)
    assert(kn.values.forall(_ > 0L))
    assert(kn.count { case (d, v) => addone(d) != v } > kn.size / 2,
      "KN scores collapse onto add-one — wrong smoothing?")
  }

  test("k-center stops at point-set exhaustion instead of duplicating") {
    // k > distinct points: after every point is a center the max-min
    // distance is 0 and the greedy argmax would re-pick an existing
    // center with radius 0 forever — the loop must stop ("k centers
    // OR the whole point set")
    val three = Tables(spark, sf, "embeddings").filter(col("vec_id") < 3)
    val rows = try api.Graft.kcenterInit(three, "vec_id", "embedding",
        k = 8).collect().toSeq
      finally CacheScope.release()
    assert(rows.size == 3, s"expected 3 centers, got ${rows.size}")
    assert(rows.map(_.getLong(1)).toSet == Set(0L, 1L, 2L))
    assert(rows.drop(1).forall(_.getLong(2) > 0L),
      "a duplicate zero-radius center was emitted")
  }

  test("weightedSample raises on non-positive weights") {
    import spark.implicits._
    val bad = Seq((1L, 10L), (2L, 0L)).toDF("id", "wt")
    val e = intercept[Exception] {
      api.Graft.weightedSample(bad, "id", "wt").collect()
    }
    assert(e.getMessage.contains("weights must be positive") ||
      e.getCause != null &&
        e.getCause.getMessage.contains("weights must be positive"),
      s"unexpected error: ${e.getMessage}")
  }

  test("substring cut <= profile coverage, and respects keep-first") {
    // every cut position is by definition a duplicated position, so
    // per-corpus cut tokens can never exceed profiled dup tokens; and
    // a corpus with duplicates must cut SOMETHING while keeping the
    // first occurrences (cut < dup strictly here: each dup gram keeps
    // one occurrence)
    val dup = try SparkEntry.queries("q_dedup_substring")(spark, sf)
        .agg(sum(col("dup_tokens"))).collect()(0).getLong(0)
      finally CacheScope.release()
    val cut = try SparkEntry.queries("q_dedup_substring_cut")(spark, sf)
        .agg(sum(col("cut_tokens"))).collect()(0).getLong(0)
      finally CacheScope.release()
    assert(cut > 0L, "fixture has dups but nothing would be cut")
    assert(cut < dup, s"cut $cut !< dup $dup — keep-first violated")
  }

  test("ivf cells frontier: more cells = fewer candidates scanned") {
    val rows = try
        SparkEntry.queries("q_sim_ivf_cells_sweep")(spark, sf)
          .orderBy(col("cells")).collect().toSeq
      finally CacheScope.release()
    assert(rows.map(_.getLong(0)) == Seq(8L, 16L, 32L))
    val cands = rows.map(_.getLong(2))
    cands.sliding(2).foreach { case Seq(a, b) =>
      assert(b < a, s"candidate volume not shrinking with cells: $cands")
      case _ => () }
    rows.foreach { r =>
      assert(r.getLong(3) > 0L && r.getLong(3) <= 1000L, r)
    }
  }

  test("rebalance plan description stays linear in rounds (r14 item 6)") {
    // the first pure-dataflow cut referenced the state frame 3x per
    // round; InMemoryRelation embeds its cached child plan, so the
    // per-execution plan DESCRIPTION grew 3^rounds — 21.7 s of driver-
    // side tree printing at ANY data size, multi-GB explain() strings.
    // Pin the fix structurally: the final state's executed-plan string
    // must stay under a budget a re-nested shape would blow through.
    val last = try ops.Similarity.rebalanceStates(spark, sf).last
      finally {} // keep the cache alive until the plan is rendered
    try {
      val desc = last.queryExecution.executedPlan.toString
      assert(desc.length < 1000000,
        s"plan description is ${desc.length} chars — state re-nesting?")
    } finally CacheScope.release()
  }
}
