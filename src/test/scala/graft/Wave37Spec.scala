package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r15 wave 37: the retrained-quantizer balance audit, Neyman
  * stratified allocation, the repetition-value plan, and the
  * temperature sweep — invariants the value oracle can't state
  * (apportionment exactness, diminishing returns, ladder flatness). */
class Wave37Spec extends AnyFunSuite {
  import TestSpark._

  private def run(q: String): Seq[org.apache.spark.sql.Row] =
    try ops.CorpusOps48.queries(q)(spark, sf).collect().toSeq
    finally CacheScope.release()

  test("retrain audit: both quantizers census the whole corpus") {
    val rows = run("q_sim_ivf_retrain_audit")
    assert(rows.map(_.getString(0)) == Seq("seed", "trained"))
    val tot = rows.map(_.getAs[Long]("total")).distinct
    assert(tot.size == 1 && tot.head > 0, tot)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_cells") <= 16)
      assert(r.getAs[Long]("max_cell") >= r.getAs[Long]("min_cell"))
      assert(r.getAs[Long]("min_cell") >= 1)
      // max >= mean always: imbalance is bounded below by balanced
      assert(r.getAs[Long]("imbalance_permille") >= 1000)
    }
  }

  test("neyman allocation sums to the budget exactly, any budget") {
    val rows = run("q_sample_neyman")
    assert(rows.map(_.getAs[Long]("alloc")).sum == 100L)
    assert(rows.forall(_.getAs[Long]("alloc") >= 0))
    // an odd budget exercises the largest-remainder top-up
    val docs = Tables(spark, sf, "documents")
    val odd = try api.Graft.neymanAllocation(
        docs.select(col("doc_id"),
          size(split(col("text"), " ")).as("v"), col("source")),
        "v", "source", budget = 37L).collect().toSeq
      finally CacheScope.release()
    assert(odd.map(_.getAs[Long]("alloc")).sum == 37L)
    // facade at the declared budget == the declared query
    val f = try api.Graft.neymanAllocation(
        docs.select(size(split(col("text"), " ")).as("v"),
          col("source")), "v", "source").collect().toSeq
      finally CacheScope.release()
    assert(f == rows)
  }

  test("neyman raises on an all-zero-variance input instead of nulling") {
    import spark.implicits._
    val flat = Seq(("a", 5L), ("a", 5L), ("b", 7L), ("b", 7L))
      .toDF("grp", "ntok")
    val e = intercept[Exception] {
      try ops.CorpusOps48.neymanFrom(flat, "grp", 10L).collect()
      finally CacheScope.release()
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("zero variance") ||
        Option(e.getCause).exists(_.getMessage.contains("zero variance"))),
      e.toString)
  }

  test("cc delta degenerate inputs: empty delta, delta-only graph") {
    import spark.implicits._
    // no delta endpoints -> no touched components -> empty report
    val baseOnly = Seq((1L, 3L), (3L, 5L)).toDF("da", "db")
    val none = try ops.CorpusOps48.ccDeltaFrom(baseOnly, _ % 2 === 0)
        .collect().toSeq
      finally CacheScope.release()
    assert(none.isEmpty, none)
    // all-delta graph: one component, zero base clusters bridged
    val deltaOnly = Seq((2L, 4L), (4L, 6L)).toDF("da", "db")
    val all = try ops.CorpusOps48.ccDeltaFrom(deltaOnly, _ % 2 === 0)
        .collect().toSeq
      finally CacheScope.release()
    assert(all.size == 1 && all.head.getLong(0) == 2L &&
      all.head.getAs[Long]("n_docs") == 3L &&
      all.head.getAs[Long]("n_new") == 3L &&
      all.head.getAs[Long]("n_base_clusters") == 0L, all)
    // a delta doc bridging two base clusters reports the bridge
    val bridge = Seq((1L, 3L), (5L, 7L), (3L, 2L), (2L, 5L))
      .toDF("da", "db")
    val b = try ops.CorpusOps48.ccDeltaFrom(bridge, _ % 2 === 0)
        .collect().toSeq
      finally CacheScope.release()
    assert(b.size == 1 && b.head.getLong(0) == 1L &&
      b.head.getAs[Long]("n_base_clusters") == 2L, b)
  }

  test("kmeans train handles k beyond the corpus (seed-starved)") {
    import spark.implicits._
    val tiny = Seq((0L, Seq(1000000L, 0L)), (1L, Seq(0L, 1000000L)),
      (2L, Seq(700000L, 700000L)))
      .toDF("vec_id", "q")
    GraftSession.install(spark)
    val out = try ops.CorpusOps47.kmeansTrainFrom(tiny, 16, 2)
        .collect().toSeq
      finally CacheScope.release()
    // only 3 seeds exist; every round still censuses all 3 vectors
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("n")).sum == 3L)
    }
    assert(out.forall(_.getAs[Long]("cid") <= 2L))
  }

  test("epoch plan: diminishing returns with exact halving marginals") {
    val rows = run("q_mix_epoch_plan")
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val by = rs.sortBy(_.getAs[Long]("repeats"))
      assert(by.map(_.getAs[Long]("repeats")) == Seq(1L, 2L, 3L, 4L))
      val eff = by.map(_.getAs[Long]("eff_tokens_milli"))
      val marg = by.map(_.getAs[Long]("marginal_milli"))
      val u = by.head.getAs[Long]("raw_tokens")
      assert(eff.head == u * 1000, s"$src first epoch is full value")
      // eff is the running sum of marginals; marginals halve exactly
      assert(eff.sliding(2).zip(marg.tail.iterator).forall {
        case (Seq(a, b), m) => b == a + m
      }, src)
      assert(marg.sliding(2).forall { case Seq(a, b) => a == 2 * b },
        s"$src $marg")
    }
  }

  test("jaccard threshold sweep is monotone non-increasing in theta") {
    val rows = run("q_dedup_threshold_sweep")
      .sortBy(_.getAs[Long]("theta_permille"))
    assert(rows.map(_.getAs[Long]("theta_permille")) ==
      Seq(200L, 500L, 800L))
    Seq("n_pairs", "n_docs").foreach { c =>
      val v = rows.map(_.getAs[Long](c))
      assert(v(0) >= v(1) && v(1) >= v(2), s"$c $v")
    }
    // a pair touches exactly two docs; distinct docs never exceed 2x
    rows.foreach(r => assert(r.getAs[Long]("n_docs") <=
      2 * r.getAs[Long]("n_pairs"), r.toString))
  }

  test("degree distribution: buckets partition nodes, mass = 2|E|") {
    val rows = run("q_graph_degree_dist")
    rows.foreach { r =>
      val b = r.getAs[Long]("deg_bucket")
      val lo = r.getAs[Long]("min_deg")
      val hi = r.getAs[Long]("max_deg")
      // bucket = floor(log2 deg): every degree sits in [2^b, 2^(b+1))
      assert(lo >= (1L << b) && hi < (1L << (b + 1)), r.toString)
    }
    val mass = rows.map(_.getAs[Long]("deg_mass")).sum
    val edges = try ops.GraphOps.copurchaseEdges(spark, sf).count()
      finally CacheScope.release()
    assert(mass == 2 * edges, s"mass $mass vs 2x$edges")
  }

  test("blocking audit: shingle truth is lossless, bounds hold") {
    val rows = run("q_dedup_blocking_audit")
    assert(rows.map(_.getString(0)) ==
      Seq("shingle_index", "simhash_block", "winnow_fp"))
    val tt = rows.map(_.getAs[Long]("truth_total")).distinct
    assert(tt.size == 1 && tt.head > 0)
    rows.foreach { r =>
      val (c, t) = (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_true"))
      assert(t <= c && t <= tt.head, r.toString)
      assert(r.getAs[Long]("precision_permille") <= 1000)
      assert(r.getAs[Long]("recall_permille") <= 1000)
    }
    // truth is DEFINED over the shingle stream, so its recall is total
    val sh = rows.find(_.getString(0) == "shingle_index").get
    assert(sh.getAs[Long]("recall_permille") == 1000L)
    assert(sh.getAs[Long]("n_true") == tt.head)
  }

  test("bpe vocab curve: compression improves monotonically with merges") {
    val rows = try ops.TextAnalysis.queries("q_bpe_vocab_curve")(
        spark, sf).collect().toSeq
      finally CacheScope.release()
    val by = rows.sortBy(_.getAs[Long]("n_merges"))
    assert(by.map(_.getAs[Long]("n_merges")) == Seq(0L, 2L, 4L, 6L))
    val toks = by.map(_.getAs[Long]("total_tokens"))
    val tpw = by.map(_.getAs[Long]("tokens_per_word_milli"))
    assert(toks.sliding(2).forall(p => p(1) < p(0)), toks)
    assert(tpw.sliding(2).forall(p => p(1) <= p(0)), tpw)
    // merges only ever ADD symbol types on this corpus shape
    val syms = by.map(_.getAs[Long]("n_symbols"))
    assert(syms.sliding(2).forall(p => p(1) >= p(0)), syms)
  }

  test("cc delta: incremental contraction == full recompute labels") {
    // the oracle already proves this cross-engine; pin it in-engine
    // too: rebuild the report from the FULL componentsOf labels and
    // compare row-for-row
    val pairs = ops.Dedup.jaccardPairs(spark, sf)
      .select(col("da"), col("db"))
    val full = ops.Dedup.componentsOf(pairs)
    val baseCC = ops.Dedup.componentsOf(
      pairs.filter(col("da") % 10 =!= 0 && col("db") % 10 =!= 0))
      .withColumnRenamed("l", "lb")
    val want = try full.join(baseCC, Seq("v"), "left")
        .select(col("v"), col("l").as("component"),
          when(col("v") % 10 === 0, lit(null))
            .otherwise(coalesce(col("lb"), col("v"))).as("lbase"))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("v") % 10 === 0, 1L).otherwise(0L)).as("n_new"),
          countDistinct(col("lbase")).as("n_base_clusters"))
        .filter(col("n_new") >= 1)
        .orderBy(col("component")).collect().toSeq
      finally CacheScope.release()
    val got = run("q_dedup_cc_delta")
    assert(got.nonEmpty && got == want,
      s"incremental diverges: ${got.take(3)} vs ${want.take(3)}")
  }

  test("nprobe frontier: nested probes make recall and cost monotone") {
    val rows = run("q_sim_ivf_nprobe_sweep")
      .sortBy(_.getAs[Long]("nprobe"))
    assert(rows.map(_.getAs[Long]("nprobe")) == Seq(1L, 2L, 4L, 8L))
    Seq("candidates", "recall_at10_permille").foreach { c =>
      val v = rows.map(_.getAs[Long](c))
      assert(v.sliding(2).forall(p => p(1) >= p(0)), s"$c $v")
    }
    assert(rows.forall(_.getAs[Long]("recall_at10_permille") <= 1000))
  }

  test("temperature sweep: lower tau flattens the allocation spread") {
    val rows = run("q_mix_temperature_sweep")
    val byTau = rows.groupBy(_.getAs[Long]("tau_milli"))
    assert(byTau.keySet == Set(1000L, 500L, 250L))
    val n = byTau(1000L).size
    byTau.foreach { case (tau, rs) =>
      val total = rs.map(_.getAs[Long]("alloc_docs")).sum
      assert(total <= 2000 && total > 2000 - n, s"tau $tau total $total")
    }
    // tau = 1 is the identity share
    byTau(1000L).foreach(r =>
      assert(r.getAs[Long]("s_micro") ==
        r.getAs[Long]("n_docs") * 1000000L))
    // spread (max - min alloc) is non-increasing as tau drops
    def spread(tau: Long): Long = {
      val a = byTau(tau).map(_.getAs[Long]("alloc_docs"))
      a.max - a.min
    }
    assert(spread(1000L) >= spread(500L) && spread(500L) >= spread(250L),
      Seq(spread(1000L), spread(500L), spread(250L)))
  }
}
