package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r16 wave 38: the facade-layer IVF auto-K derivation (VERDICT r15
  * item 1) and the ADVICE r15 repairs — lowest-id k-means seeding on
  * non-dense ids, the fixed 3-row threshold-sweep contract on sparse
  * corpora, and the DECIMAL-widened Neyman variance numerator. */
class Wave38Spec extends AnyFunSuite {
  import TestSpark._

  test("resolveCells: explicit conf wins; auto clamps 16..65536") {
    // auto: ceil(n / target) with the 16 floor and 65536 cap
    assert(ops.Similarity.resolveCells(spark, 500L) == 16)
    assert(ops.Similarity.resolveCells(spark, 2000L) == 16)
    assert(ops.Similarity.resolveCells(spark, 20000L) == 79)
    assert(ops.Similarity.resolveCells(spark, 256L * 70000L) == 65536)
    spark.conf.set("spark.graft.ivf.targetCellSize", "1000")
    try assert(ops.Similarity.resolveCells(spark, 20000L) == 20)
    finally spark.conf.unset("spark.graft.ivf.targetCellSize")
    // explicit cells conf short-circuits (n must never be counted)
    spark.conf.set("spark.graft.ivf.cells", "64")
    try assert(ops.Similarity.resolveCells(spark,
      sys.error("n must not be forced when cells is explicit")) == 64)
    finally spark.conf.unset("spark.graft.ivf.cells")
  }

  test("auto-K facade == declared margin mine at fixture scale") {
    // the fixture corpus (500 vectors) derives K = 16 — exactly the
    // declared query's constant — so the facade's auto path must stay
    // bit-identical to q_sim_margin_mine with no conf set
    assert(ops.Similarity.resolveCells(spark,
      Tables(spark, sf, "embeddings").count()) == 16)
    val declared =
      try ops.Similarity.queries("q_sim_margin_mine")(spark, sf)
        .collect().toSeq
      finally CacheScope.release()
    val auto = try api.Graft.marginMine(
        Tables(spark, sf, "embeddings"), "vec_id", "embedding", "label")
        .collect().toSeq
      finally CacheScope.release()
    assert(auto == declared)
  }

  test("kmeans seeds from the k LOWEST ids, not ids below k") {
    import spark.implicits._
    // every id exceeds k: the old `vec_id < k` seed would be empty and
    // the census silently vanish (ADVICE r15 medium)
    val shifted = Seq((100L, Seq(1000000L, 0L)),
      (101L, Seq(0L, 1000000L)), (102L, Seq(-700000L, 700000L)),
      (103L, Seq(900000L, 100000L)))
      .toDF("vec_id", "q")
    GraftSession.install(spark)
    val out = try ops.CorpusOps47.kmeansTrainFrom(shifted, 2, 2)
        .collect().toSeq
      finally CacheScope.release()
    assert(out.nonEmpty)
    // seeds are the two lowest ids (100, 101); every round censuses
    // all 4 vectors across those two clusters
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("n")).sum == 4L)
      assert(rs.forall(r => Set(100L, 101L)(r.getAs[Long]("cid"))))
    }
  }

  test("threshold sweep keeps its 3-row contract on sparse corpora") {
    import spark.implicits._
    // one weak pair: jaccard = 1/3 — survives theta=200 only
    val ps = Seq((1L, 2L, 2L, 4L, 4L)).toDF("da", "db", "i", "na", "nb")
    val rows = try ops.CorpusOps48.dedupThresholdSweepOf(ps)
        .collect().toSeq
      finally CacheScope.release()
    assert(rows.map(_.getAs[Long]("theta_permille")) ==
      Seq(200L, 500L, 800L))
    assert(rows.map(_.getAs[Long]("n_pairs")) == Seq(1L, 0L, 0L))
    assert(rows.map(_.getAs[Long]("n_docs")) == Seq(2L, 0L, 0L))
  }

  test("audit shard-sample gate: consistent, bounded, off-by-default") {
    def audit() = try ops.CorpusOps48
        .queries("q_dedup_blocking_audit")(spark, sf).collect().toSeq
      finally CacheScope.release()
    def spectrum() = try ops.CorpusOps47
        .queries("q_dedup_dup_spectrum")(spark, sf).collect().toSeq
      finally CacheScope.release()
    def sweep() = try ops.CorpusOps48
        .queries("q_dedup_threshold_sweep")(spark, sf).collect().toSeq
      finally CacheScope.release()
    val (fullA, fullS, fullW) = (audit(), spectrum(), sweep())
    // k = 64 keeps every query bit-identical (the gate is identity)
    spark.conf.set("spark.graft.audit.sampleShards", "64")
    try assert(audit() == fullA)
    finally spark.conf.unset("spark.graft.audit.sampleShards")
    spark.conf.set("spark.graft.audit.sampleShards", "32")
    try {
      val sa = audit()
      assert(sa.map(_.getString(0)) == fullA.map(_.getString(0)))
      // truth and candidates shrink together; ratios stay permille-valid
      sa.zip(fullA).foreach { case (s32, f) =>
        assert(s32.getAs[Long]("n_candidates") > 0 &&
          s32.getAs[Long]("n_candidates") <= f.getAs[Long]("n_candidates"))
        assert(s32.getAs[Long]("truth_total") > 0 &&
          s32.getAs[Long]("truth_total") <= f.getAs[Long]("truth_total"))
        assert(s32.getAs[Long]("precision_permille") <= 1000)
        assert(s32.getAs[Long]("recall_permille") <= 1000)
      }
      val ss = spectrum()
      // per width: sampled coverage is a sub-population of the full one
      ss.zip(fullS).foreach { case (s32, f) =>
        assert(s32.getAs[Long]("win_l") == f.getAs[Long]("win_l"))
        assert(s32.getAs[Long]("dup_tokens") <= f.getAs[Long]("dup_tokens"))
        assert(s32.getAs[Long]("total_tokens") == f.getAs[Long]("total_tokens"))
        // a half-shard sample of the fixture's dup mass lands within
        // a loose 3x band of the k/64-scaled expectation
        val est = s32.getAs[Long]("dup_tokens") * 2
        val full = f.getAs[Long]("dup_tokens")
        assert(full == 0 || (est >= full / 3 && est <= full * 3),
          s"L=${f.getAs[Long]("win_l")}: est=$est full=$full")
      }
      val sw = sweep()
      assert(sw.map(_.getAs[Long]("theta_permille")) ==
        Seq(200L, 500L, 800L))
      sw.zip(fullW).foreach { case (s32, f) =>
        assert(s32.getAs[Long]("n_pairs") <= f.getAs[Long]("n_pairs"))
      }
    } finally spark.conf.unset("spark.graft.audit.sampleShards")
  }

  test("neyman survives int64-overflowing variance numerators") {
    import spark.implicits._
    // sxx per stratum ~ 8.8e18 still FITS int64, but n_docs * sxx =
    // 1.76e19 does not: the un-widened numerator n_docs * sxx - sx*sx
    // overflowed exactly here (ADVICE r15) even though the FINAL
    // variance is tiny; DECIMAL(38,0) carries it exactly into the sqrt
    val big = Seq(("a", 2000000000L), ("a", 1999999999L),
      ("b", 2100000000L), ("b", 2099999000L))
      .toDF("grp", "ntok")
    val rows = try ops.CorpusOps48.neymanFrom(big, "grp", 10L)
        .collect().toSeq
      finally CacheScope.release()
    assert(rows.size == 2)
    // N*sxx - sx^2 for {x, x-d} collapses to d^2: sd = d/N * 1000
    assert(rows.find(_.getString(0) == "a").get
      .getAs[Long]("sd_milli") == 500L)
    assert(rows.find(_.getString(0) == "b").get
      .getAs[Long]("sd_milli") == 500000L)
    assert(rows.map(_.getAs[Long]("alloc")).sum == 10L)
  }
}
