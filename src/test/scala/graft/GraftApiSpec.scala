package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Graft

/** The public operator API ([[graft.api.Graft]]) checked against
  * independent formulations: the facade must agree with the window
  * spelling (as-of, grouped top-k, cosine), the declared contract
  * queries (label propagation), and hand-built truths (components,
  * sessionize, minhash). */
class GraftApiSpec extends AnyFunSuite {
  import TestSpark._

  test("asofJoin facade == tagged-union window formulation") {
    val ev = Tables(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"),
        col("event_id").as("pid"))
    val api = Graft.asofJoin(clicks, buys,
        Seq("user_id"), Seq("b_user"), "ts", "b_ts", Seq("pid"))
      .select(col("user_id"), col("event_id").as("click_id"), col("pid"))
      .orderBy(col("user_id"), col("click_id")).collect().toSeq
    val window = SparkEntry.queries("q_join_asof")(spark, sf)
      .select(col("user_id"), col("click_id"), col("asof_pid").as("pid"))
      .orderBy(col("user_id"), col("click_id")).collect().toSeq
    assert(api.nonEmpty && api == window)
  }

  test("asofJoin(forward = true) facade == FOLLOWING-window formulation") {
    val ev = Tables(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"),
        col("event_id").as("pid"))
    val api = Graft.asofJoin(clicks, buys,
        Seq("user_id"), Seq("b_user"), "ts", "b_ts", Seq("pid"),
        forward = true)
      .select(col("user_id"), col("event_id").as("click_id"),
        col("pid").as("next_pid"))
      .orderBy(col("user_id"), col("click_id")).collect().toSeq
    val window = SparkEntry.queries("q_join_asof_forward")(spark, sf)
      .orderBy(col("user_id"), col("click_id")).collect().toSeq
    assert(api.nonEmpty && api == window)
  }

  test("groupedTopK facade == row_number window formulation") {
    val li = Tables(spark, sf, "lineitem")
    val api = Graft.groupedTopK(li, Seq("l_suppkey"),
        Seq(("l_extendedprice", false), ("l_orderkey", true),
          ("l_linenumber", true)), 3)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
      .collect().toSeq
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber"))
    val naive = li.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
      .collect().toSeq
    assert(api.nonEmpty && api == naive)
  }

  test("connectedComponents facade labels a known graph") {
    import spark.implicits._
    // chain 1-2-3, pair 10-11, isolated edge 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("s", "d")
    val got = Graft.connectedComponents(edges, "s", "d").collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component"))
      .toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("minhashPairs: exact duplicates collide at estimate 1000") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words that share no three gram at all here"
    val docs = Seq((1L, text), (2L, text), (3L, other)).toDF("id", "body")
    val pairs = Graft.minhashPairs(docs, "id", "body").collect()
    CacheScope.release()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("id_a") == 1L)
    assert(pairs.head.getAs[Long]("id_b") == 2L)
    assert(pairs.head.getAs[Long]("est_jaccard_permille") == 1000L)
  }

  test("sessionize: gaps above the threshold split sessions") {
    import spark.implicits._
    val rows = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"),
      (1L, "2024-01-01 02:00:00"), // > 30 min gap → session 2
      (2L, "2024-01-01 05:00:00"))
      .toDF("uid", "t").withColumn("t", col("t").cast("timestamp"))
    val got = Graft.sessionize(rows, "uid", "t", 1800)
      .orderBy(col("uid"), col("t"))
      .select(col("uid"), col("session_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("cosineTopK facade == q_sim_topk on the fixture embeddings") {
    val emb = Tables(spark, sf, "embeddings")
    val api = Graft.cosineTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      .select(col("query_id"), col("cand_id"), col("rnk"))
      .orderBy(col("query_id"), col("rnk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val declared = SparkEntry.queries("q_sim_topk")(spark, sf)
      .select(col("qid"), col("neighbor"), col("rnk"))
      .orderBy(col("qid"), col("rnk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(api.nonEmpty && api == declared)
  }

  test("labelPropagation facade == declared labelprop communities") {
    // rebuild the support-pruned co-purchase edges independently
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val edges = li.as("a")
      .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
      .select(col("u"), col("v"))
    val api = Graft.labelPropagation(edges, "u", "v", 3)
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
      .orderBy(col("n_nodes").desc, col("community")).limit(25)
      .orderBy(col("community")).collect().toSeq
    val declared = SparkEntry.queries("q_graph_labelprop")(spark, sf)
      .collect().toSeq
    CacheScope.release()
    assert(api.nonEmpty && api == declared)
  }

  test("ppjoin facade == declared q_dedup_ppjoin at (500, 3)") {
    val api = Graft.ppjoin(Tables(spark, sf, "documents"),
        "doc_id", "text").collect().toSeq
    val declared = SparkEntry.queries("q_dedup_ppjoin")(spark, sf)
      .collect().toSeq
    CacheScope.release()
    assert(api.nonEmpty && api == declared)
  }

  test("ppjoin facade at a higher threshold is the filtered subset") {
    // threshold soundness on the public surface: raising t must only
    // REMOVE pairs (the prefix/length prunes stay lossless), and the
    // survivors keep identical intersection stats
    val lo = Graft.ppjoin(Tables(spark, sf, "documents"),
        "doc_id", "text", 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5)).toMap
    val hi = Graft.ppjoin(Tables(spark, sf, "documents"),
        "doc_id", "text", 800).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5)).toMap
    CacheScope.release()
    assert(hi.nonEmpty || lo.values.forall(_ < 800))
    assert(hi.keySet.subsetOf(lo.filter(_._2 >= 800).keySet) &&
      lo.count(_._2 >= 800) == hi.size,
      s"hi ${hi.size} pairs vs lo-filtered ${lo.count(_._2 >= 800)}")
  }

  test("semanticDedup facade == declared q_dedup_semantic at (0.3, 6)") {
    val emb = Tables(spark, sf, "embeddings")
    val api = Graft.semanticDedup(emb, "vec_id", "embedding")
      .collect().toSeq
    val declared = SparkEntry.queries("q_dedup_semantic")(spark, sf)
      .collect().toSeq
    CacheScope.release()
    assert(api.nonEmpty && api == declared)
  }

  /** The supplier–customer bipartite edge frame the graph query
    * library derives from lineitem ⨝ orders — rebuilt here
    * independently so the facades are pinned against the library's
    * own formulation. */
  private def scEdges = {
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("S"), col("l_suppkey")).as("s"),
        concat(lit("C"), col("o_custkey")).as("c"))
      .distinct()
    pairs.select(col("s").as("a"), col("c").as("b"))
      .union(pairs.select(col("c").as("a"), col("s").as("b")))
  }

  test("pagerank facade == library ranks on both join paths") {
    def srt(rows: Seq[org.apache.spark.sql.Row]) =
      rows.sortBy(_.getString(0))
    for (limit <- Seq(Long.MaxValue, 0L)) withEdgeLimit(limit) {
      val api = try srt(Graft.pagerank(scEdges, "a", "b",
          iterations = 3).collect().toSeq)
        finally CacheScope.release()
      val lib = try srt(graft.ops.GraphOps
          .pagerankRanks(spark, sf).collect().toSeq)
        finally CacheScope.release()
      assert(api.nonEmpty && api == lib, s"edge limit $limit diverges")
    }
  }

  test("personalizedPagerank: default seed == library; explicit seed pins") {
    val api = try Graft.personalizedPagerank(scEdges, "a", "b")
        .orderBy(col("node")).collect().toSeq
      finally CacheScope.release()
    val lib = try withEdgeLimit(Long.MaxValue)(
        graft.ops.GraphOps.pprRanks(spark, sf))
        .orderBy(col("node")).collect().toSeq
      finally CacheScope.release()
    assert(api.nonEmpty && api == lib)
    // passing the top-degree node EXPLICITLY must reproduce the
    // default; a different seed must move the mass (seed gets base)
    val topSeed = try scEdges.groupBy(col("a")).count()
        .orderBy(col("count").desc, col("a")).limit(1)
        .collect()(0).getString(0)
      finally CacheScope.release()
    val explicit = try Graft.personalizedPagerank(scEdges, "a", "b",
        seed = Some(topSeed)).orderBy(col("node")).collect().toSeq
      finally CacheScope.release()
    assert(explicit == lib)
    val otherSeed = lib.map(_.getString(0)).filterNot(_ == topSeed).min
    val moved = try Graft.personalizedPagerank(scEdges, "a", "b",
        seed = Some(otherSeed)).filter(col("node") === otherSeed)
        .collect().toSeq
      finally CacheScope.release()
    assert(moved.nonEmpty && moved.head.getLong(1) >= 150000L,
      s"seed $otherSeed did not receive restart mass: $moved")
  }

  test("katzCentrality facade == library katz on both join paths") {
    // at the query's operating point (invBeta = 8, depth = 3) the
    // facade's katz_scaled must reproduce q_graph_katz's katz_x512 for
    // every presented top-20 node, on BOTH join paths
    val lib = try withEdgeLimit(Long.MaxValue)(
        graft.ops.GraphOps.qGraphKatz(spark, sf))
        .select(col("node"), col("katz_x512")).collect().toSeq
      finally CacheScope.release()
    assert(lib.nonEmpty)
    for (limit <- Seq(Long.MaxValue, 0L)) withEdgeLimit(limit) {
      // katz_scaled is DECIMAL(38,0) (ADVICE r13 headroom fix);
      // longValueExact throws if a value ever stops fitting — which
      // would itself be a regression at this fixture scale
      val api = try Graft.katzCentrality(scEdges, "a", "b",
          invBeta = 8, depth = 3).collect()
          .map(r => r.getString(0) ->
            r.getDecimal(1).toBigInteger.longValueExact()).toMap
        finally CacheScope.release()
      lib.foreach { r =>
        assert(api(r.getString(0)) == r.getLong(1),
          s"node ${r.getString(0)} diverges (edge limit $limit)")
      }
    }
    // the exposed depth knob: depth = 1 is exactly indegree (w1)
    val d1 = try Graft.katzCentrality(scEdges, "a", "b", depth = 1)
        .collect().map(r => r.getString(0) ->
          r.getDecimal(1).toBigInteger.longValueExact()).toMap
      finally CacheScope.release()
    val indeg = scEdges.groupBy(col("b")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d1 == indeg, "depth = 1 katz must equal indegree")
  }

  test("winnowPairs facade == declared q_dedup_winnow at (5, 4)") {
    val docs = Tables(spark, sf, "documents")
    val api = try Graft.winnowPairs(docs, "doc_id", "text")
        .collect().toSeq
      finally CacheScope.release()
    val declared = try SparkEntry.queries("q_dedup_winnow")(spark, sf)
        .collect().toSeq
      finally CacheScope.release()
    assert(api == declared)
  }

  test("passAtK and bestOfN facades == the declared eval queries") {
    // passAtK over the declared query's own (n, c) pools must
    // reproduce its pass columns exactly
    val declaredPk = try SparkEntry.queries("q_eval_pass_at_k")(spark, sf)
        .collect().toSeq
      finally CacheScope.release()
    import spark.implicits._
    val pools = declaredPk.map(r => (r.getString(0),
        r.getAs[Long]("n"), r.getAs[Long]("c")))
      .toDF("source", "n", "c")
    val viaApi = Graft.passAtK(pools, "n", "c", Seq(1, 2, 5))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("pass1_permille"), r.getAs[Long]("pass2_permille"),
          r.getAs[Long]("pass5_permille"))).toMap
    declaredPk.foreach { r =>
      assert(viaApi(r.getString(0)) ==
        ((r.getAs[Long]("pass1_permille"), r.getAs[Long]("pass2_permille"),
          r.getAs[Long]("pass5_permille"))), s"pass@k diverges at $r")
    }
    // bestOfN over the declared query's own pools, rolled up the same
    // way, must reproduce bo1/bo2/bo4
    val sc = ops.CorpusOps10.scored(spark, sf)
      .join(Tables(spark, sf, "documents")
        .select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), expr("doc_id div 320").as("grp"),
        col("score_milli"), col("doc_id"))
    val api = Graft.bestOfN(sc, Seq("source", "grp"), "score_milli",
        Seq(1, 2, 4), tieCol = Some("doc_id"))
      .groupBy(col("source"))
      .agg(expr("sum(bo1) div count(1)").as("bo1_milli"),
        expr("sum(bo2) div count(1)").as("bo2_milli"),
        expr("sum(bo4) div count(1)").as("bo4_milli"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val declaredBo = try SparkEntry.queries("q_eval_best_of_n")(spark, sf)
        .collect().toSeq
      finally CacheScope.release()
    assert(declaredBo.nonEmpty)
    declaredBo.foreach { r =>
      assert(api(r.getString(0)) ==
        ((r.getAs[Long]("bo1_milli"), r.getAs[Long]("bo2_milli"),
          r.getAs[Long]("bo4_milli"))), s"bestOfN diverges at $r")
    }
  }

  test("r16 tuning-table facades == the declared queries (text)") {
    val docs = Tables(spark, sf, "documents")
    def declared(q: String) =
      try SparkEntry.queries(q)(spark, sf).collect().toSeq
      finally CacheScope.release()
    def run(df: => org.apache.spark.sql.DataFrame) =
      try df.collect().toSeq finally CacheScope.release()
    val sweep = run(Graft.dedupThresholdSweep(docs, "doc_id", "text"))
    assert(sweep.nonEmpty && sweep == declared("q_dedup_threshold_sweep"))
    val curve = run(Graft.bpeVocabCurve(docs, "text"))
    assert(curve.nonEmpty && curve == declared("q_bpe_vocab_curve"))
    val cut = run(Graft.substringCut(docs, "doc_id", "text", "source"))
    assert(cut.nonEmpty && cut == declared("q_dedup_substring_cut"))
    val kn = run(Graft.kneserNeyScore(docs, "doc_id", "text",
      col("source") === "src0"))
    assert(kn.nonEmpty && kn == declared("q_text_kneser_ney"))
    val ccnet = run(Graft.ccnetCut(docs, "doc_id", "text", "lang",
      col("source") === "src0"))
    assert(ccnet.nonEmpty && ccnet == declared("q_text_ccnet_cut"))
  }

  test("r16 tuning-table facades == the declared queries (mixture)") {
    val docs = Tables(spark, sf, "documents")
    def declared(q: String) =
      try SparkEntry.queries(q)(spark, sf).collect().toSeq
      finally CacheScope.release()
    def run(df: => org.apache.spark.sql.DataFrame) =
      try df.collect().toSeq finally CacheScope.release()
    val ep = run(Graft.epochPlan(docs, "text", "source"))
    assert(ep.nonEmpty && ep == declared("q_mix_epoch_plan"))
    val ts = run(Graft.temperatureSweep(docs, "source"))
    assert(ts.nonEmpty && ts == declared("q_mix_temperature_sweep"))
    val audit = run(Graft.blockingAudit(docs, "doc_id", "text"))
    assert(audit.nonEmpty && audit == declared("q_dedup_blocking_audit"))
  }

  test("r16 IVF frontier facades == the declared queries") {
    val embs = Tables(spark, sf, "embeddings")
    def declared(q: String) =
      try SparkEntry.queries(q)(spark, sf).collect().toSeq
      finally CacheScope.release()
    def run(df: => org.apache.spark.sql.DataFrame) =
      try df.collect().toSeq finally CacheScope.release()
    val cells = run(Graft.ivfCellsFrontier(embs, "vec_id", "embedding"))
    assert(cells.nonEmpty && cells == declared("q_sim_ivf_cells_sweep"))
    val np = run(Graft.ivfNprobeFrontier(embs, "vec_id", "embedding"))
    assert(np.nonEmpty && np == declared("q_sim_ivf_nprobe_sweep"))
  }

  test("bpeTrain and marginMine facades == the declared queries") {
    val api = try Graft.bpeTrain(
        Tables(spark, sf, "documents"), "text").collect().toSeq
      finally CacheScope.release()
    val declared = try SparkEntry.queries("q_bpe_train")(spark, sf)
        .collect().toSeq
      finally CacheScope.release()
    assert(api.nonEmpty && api == declared)
    val apiMine = try Graft.marginMine(Tables(spark, sf, "embeddings"),
        "vec_id", "embedding", "label").collect().toSeq
      finally CacheScope.release()
    val declaredMine = try
        SparkEntry.queries("q_sim_margin_mine")(spark, sf)
          .collect().toSeq
      finally CacheScope.release()
    assert(apiMine.nonEmpty && apiMine == declaredMine)
  }

  test("minhashPairs facade banding knob == declared pipeline pair sets") {
    // est_jacc >= 0.2 (declared, double) and est_jaccard_permille >=
    // 200 (facade, floor) agree exactly: both mean >= 7 of 32 hashes
    def pairSet(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = Tables(spark, sf, "documents")
    val api = try pairSet(Graft.minhashPairs(docs, "doc_id", "text",
        threshold = 200).collect().toSeq)
      finally CacheScope.release()
    val declared = try pairSet(
        SparkEntry.queries("q_dedup_minhash")(spark, sf).collect().toSeq)
      finally CacheScope.release()
    assert(api.nonEmpty && api == declared,
      s"facade ${api.size} pairs != declared ${declared.size}")
    // the new banding knob: (8, 4) == the parameterized pipeline the
    // autopick wiring deploys
    val api84 = try pairSet(Graft.minhashPairs(docs, "doc_id", "text",
        threshold = 200, bands = 8, rows = 4).collect().toSeq)
      finally CacheScope.release()
    val lib84 = try pairSet(ops.Dedup.minhashPairs(spark, sf, 8, 4)
        .collect().toSeq)
      finally CacheScope.release()
    assert(api84 == lib84)
  }

  test("wave-35 facades == the declared queries") {
    val docs = Tables(spark, sf, "documents")
    val embs = Tables(spark, sf, "embeddings")
    def run(q: String): Seq[org.apache.spark.sql.Row] =
      try SparkEntry.queries(q)(spark, sf).collect().toSeq
      finally CacheScope.release()
    val sub = try Graft.substringDupProfile(docs, "doc_id", "text")
        .collect().toSeq
      finally CacheScope.release()
    assert(sub.nonEmpty && sub == run("q_dedup_substring"))
    val kc = try Graft.kcenterInit(embs, "vec_id", "embedding")
        .collect().toSeq
      finally CacheScope.release()
    assert(kc.size == 8 && kc == run("q_sim_kcenter"))
    val rec = try Graft.retrievalRecall(embs, "vec_id", "embedding",
        "label").collect().toSeq
      finally CacheScope.release()
    assert(rec.nonEmpty && rec == run("q_eval_retrieval_recall"))
    val mrr = try Graft.retrievalMrr(embs, "vec_id", "embedding",
        "label").collect().toSeq
      finally CacheScope.release()
    assert(mrr.nonEmpty && mrr == run("q_eval_mrr"))
    val gr = try Graft.gopherRules(docs, "text", "source")
        .collect().toSeq
      finally CacheScope.release()
    assert(gr.nonEmpty && gr == run("q_text_gopher_rules"))
    val ndcg = try Graft.retrievalNdcg(embs, "vec_id", "embedding",
        "label").collect().toSeq
      finally CacheScope.release()
    assert(ndcg.nonEmpty && ndcg == run("q_eval_ndcg"))
    // weightedSample drops the source column the declared query keeps
    val ws = try Graft.weightedSample(docs
          .select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      finally CacheScope.release()
    val declaredWs = run("q_sample_aes")
      .map(r => (r.getLong(0), r.getAs[Long]("w"),
        r.getAs[Long]("key_nano")))
    assert(ws.nonEmpty && ws == declaredWs)
  }

  test("wave-36 facades == the declared queries") {
    val docs = Tables(spark, sf, "documents")
    val embs = Tables(spark, sf, "embeddings")
    def run(q: String): Seq[org.apache.spark.sql.Row] =
      try SparkEntry.queries(q)(spark, sf).collect().toSeq
      finally CacheScope.release()
    val km = try Graft.kmeansTrain(embs, "vec_id", "embedding")
        .collect().toSeq
      finally CacheScope.release()
    assert(km.nonEmpty && km == run("q_sim_kmeans_train"))
    val sd = try Graft.softdedupWeights(docs, "text", "source")
        .collect().toSeq
      finally CacheScope.release()
    assert(sd.nonEmpty && sd == run("q_mix_softdedup"))
    val aw = try Graft.attritionWaterfall(docs, "doc_id", "text",
        "source").collect().toSeq
      finally CacheScope.release()
    assert(aw.nonEmpty && aw == run("q_pipeline_attrition"))
    val ts = try Graft.qualityThresholdSweep(docs, "text")
        .collect().toSeq
      finally CacheScope.release()
    assert(ts.size == 10 && ts == run("q_select_threshold_sweep"))
  }

  test("componentsDelta facade == the declared cc-delta query") {
    val pairs = ops.Dedup.jaccardPairs(spark, sf)
      .select(col("da"), col("db"))
    val f = try Graft.componentsDelta(pairs, "da", "db", _ % 10 === 0)
        .collect().toSeq
      finally CacheScope.release()
    val d = try SparkEntry.queries("q_dedup_cc_delta")(spark, sf)
        .collect().toSeq
      finally CacheScope.release()
    assert(f.nonEmpty && f == d)
  }

  test("kmeansTrain rounds knob: rounds=1 is the prefix of rounds=3") {
    // each round's census depends only on the persisted base + the
    // collected centroids of the PREVIOUS round — a shorter run is a
    // prefix of a longer one
    val embs = Tables(spark, sf, "embeddings")
    val r3 = try Graft.kmeansTrain(embs, "vec_id", "embedding",
        rounds = 3).collect().toSeq
      finally CacheScope.release()
    val r1 = try Graft.kmeansTrain(embs, "vec_id", "embedding",
        rounds = 1).collect().toSeq
      finally CacheScope.release()
    assert(r1 == r3.filter(_.getLong(0) <= 1L))
  }

  test("kcenterInit k knob: k=4 picks the prefix of the k=8 curve") {
    // greedy selection is prefix-stable: the first 4 centers (and
    // radii) of an 8-center run ARE the 4-center run
    val embs = Tables(spark, sf, "embeddings")
    val k8 = try Graft.kcenterInit(embs, "vec_id", "embedding", k = 8)
        .collect().toSeq
      finally CacheScope.release()
    val k4 = try Graft.kcenterInit(embs, "vec_id", "embedding", k = 4)
        .collect().toSeq
      finally CacheScope.release()
    assert(k4 == k8.take(4))
  }
}
