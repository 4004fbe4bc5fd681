package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import graft.Tables

/** Corpus + analytics operators, r11 wave 1 (SURVEY.md §2.M): the
  * DoReMi-style iterative domain-reweighting step — the mixing
  * family's missing ITERATIVE member beside the closed-form
  * temperature / KL / PSI / DSIR / curriculum operators.
  *
  * Determinism contract as every wave: exact integer arithmetic with
  * floor division only, so DuckDB replays the identical trajectory.
  */
object CorpusOps42 {

  /** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    * arXiv:2305.10429): per-domain mixture weights updated
    * multiplicatively from per-domain EXCESS LOSS, 3 unrolled steps.
    * The proxy-loss stand-in is the hashed-classifier quality score
    * (CorpusOps10.scored — the repo's one shared scoring scan):
    * excess_i = max(corpus_mean − domain_mean, 0) in milli units, so
    * below-average domains (higher "loss") gain weight. DoReMi's
    * exp(η·excess) update is linearized to the integer ring —
    * w ← w·(10⁶ + 100·excess_milli) div 10⁶, the first-order Hedge /
    * multiplicative-weights form (Freund & Schapire 1997) — and
    * renormalized to mean 10⁶ after every step (the Bradley-Terry
    * canonical-representative discipline), keeping both engines
    * bit-identical with floor division only.
    *
    * Scale: one corpus scoring scan collapses to |sources| rows,
    * which [[doremiFold]] collects once and steps on the driver. */
  val qMixDoremi: Q = (s, dir) =>
    doremiFold(CorpusOps10.scored(s, dir)
      .join(Tables(s, dir, "documents").select(col("doc_id"),
        col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("score_milli")).as("ssum")))

  /** The 3 reweighting steps of [[qMixDoremi]] over its `bySrc` =
    * (source, n_docs, ssum) rows, in source order
    * ([[LocalFold.packSorted]]), with the semantics of the Spark
    * expression they replace: int64 `+`, `*` and `-` overflow throws
    * (`Math.*Exact`), `div` truncates (every divisor is a positive
    * count, 10⁶ or a non-negative step total, so `/` never meets
    * `Long.MinValue div -1`), and a zero step total nulls every weight
    * (`nullif(tot, 0)`). An empty input yields no rows: the corpus
    * mean, 0 div 0 there, is computed only for a row that reads it. */
  private[graft] def doremiFold(bySrc: DataFrame): DataFrame = {
    val m = LocalFold.packSorted(bySrc, "source", "n_docs", "ssum")
    val n = m.map(_.getLong(1))
    val ssum = m.map(_.getLong(2))
    def total(xs: Seq[Long]) = xs.foldLeft(0L)(Math.addExact)
    lazy val gmean = total(ssum) / total(n)
    val excess = m.indices.map(i =>
      math.max(Math.subtractExact(gmean, ssum(i) / n(i)), 0L))
    var w = Option(Seq.fill(m.size)(1000000L))
    for (_ <- 1 to 3) w = w.flatMap { w =>
      val w0 = w.indices.map(i => Math.multiplyExact(w(i), Math.addExact(
        1000000L, Math.multiplyExact(100L, excess(i)))) / 1000000L)
      val tot = total(w0)
      val scale = Math.multiplyExact(m.size.toLong, 1000000L)
      Option.when(tot != 0)(w0.map(x => Math.multiplyExact(x, scale) / tot))
    }
    val schema = StructType(StructField("source", bySrc.schema("source").dataType) +:
      StructType.fromDDL("n_docs BIGINT NOT NULL, mean_score_milli BIGINT, " +
        "corpus_mean_milli BIGINT, excess_milli BIGINT NOT NULL, " +
        "weight_micro BIGINT").fields)
    LocalFold.frame(bySrc.sparkSession, schema, m.indices.map(i =>
        Row(m(i).get(0), n(i), ssum(i) / n(i), gmean, excess(i),
          w.fold[Any](null)(_(i)))),
      col("weight_micro").desc, col("source"))
  }

  /** Split-conformal prediction threshold + held-out coverage audit
    * (Vovk et al. 2005; Angelopoulos & Bates 2023 "Conformal
    * Prediction: A Gentle Introduction" §2, the split/inductive
    * recipe): calibrate a one-sided score threshold for the "en"
    * label on the even-doc_id half — t = the r-th smallest
    * calibration-positive score with the finite-sample-corrected
    * rank r = max((n+1) div 10, 1) (α = 0.1) — then audit on the odd
    * half: coverage among true positives (guaranteed ≥ 1−α in
    * expectation under exchangeability, which the parity split
    * satisfies) and the flagged fraction (efficiency). The
    * distribution-free eval-family member beside AUC / calibration /
    * kappa: its guarantee needs NO model assumptions. (Observed
    * held-out coverage on the fixtures is 820-890 permille vs the
    * 1 − r/(n+1) ≈ 908 expectation — the synthetic even/odd halves
    * are not perfectly exchangeable; the audit REPORTING that drift
    * honestly is exactly its job.)
    *
    * Scale: both halves collapse to (score_milli, count) rows on the
    * weight-table-bounded score axis (the q_classifier_auc
    * discipline); the rank selection is a cumulative window over
    * that bounded axis, never a corpus-sized sort. */
  val qEvalConformal: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val sc = graft.CacheScope.track(CorpusOps10.scored(s, dir).persist())
    val cal = sc.filter(col("doc_id") % 2 === 0 && col("pos") === 1)
      .groupBy(col("score_milli")).agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy(col("score_milli"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n = cal.agg(sum(col("c")).as("n_cal"))
    val thr = cal.withColumn("cum", sum(col("c")).over(wCum))
      .crossJoin(broadcast(n))
      .withColumn("r", expr("greatest((n_cal + 1) div 10, 1)"))
      .filter(col("cum") >= col("r"))
      .agg(min(col("score_milli")).as("threshold_milli"),
        min(col("n_cal")).as("n_cal"), min(col("r")).as("rank_r"))
    val test = sc.filter(col("doc_id") % 2 === 1)
      .crossJoin(broadcast(thr))
      .agg(min(col("n_cal")).as("n_cal"), min(col("rank_r")).as("rank_r"),
        min(col("threshold_milli")).as("threshold_milli"),
        count(lit(1)).as("n_test"),
        sum(col("pos")).as("n_test_pos"),
        sum(when(col("pos") === 1 &&
          col("score_milli") >= col("threshold_milli"), 1L)
          .otherwise(0L)).as("covered"),
        sum(when(col("score_milli") >= col("threshold_milli"), 1L)
          .otherwise(0L)).as("flagged"))
    test.select(col("n_cal"), col("rank_r"), col("threshold_milli"),
      col("n_test"), col("n_test_pos"), col("covered"),
      expr("covered * 1000 div n_test_pos").as("coverage_permille"),
      col("flagged"),
      expr("flagged * 1000 div n_test").as("flagged_permille"))
      .orderBy(col("n_cal"))
  }

  /** Reciprocal-rank fusion of two document rankings (Cormack,
    * Clarke, Büttcher SIGIR 2009 — "RRF outperforms Condorcet and
    * individual rank learning methods"): the classifier-quality
    * ranking and the lexical-uniqueness ranking fuse via
    * Σ 10⁶ div (60 + rank) — the k = 60 constant from the paper,
    * exact integers. The ensemble selection step a curation pipeline
    * runs when two scorers disagree: fusion rewards documents BOTH
    * rankers place high without trusting either's scale.
    *
    * Scale: both global ranks ride ScaleWindows.bucketedRowNumber
    * (coarse monotone buckets + broadcast offsets — no
    * single-partition sort at any size; the oracle runs naive global
    * row_number, equality is the decomposition's proof); the fusion
    * arithmetic is map-side; top-20 lowers to TakeOrdered. */
  val qRankFusion: Q = (s, dir) => {
    val sc = graft.CacheScope.track(CorpusOps10.scored(s, dir).persist())
    val uniq = Tables(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("a"))
      .select(col("doc_id"),
        expr("size(array_distinct(a)) * 1000 div size(a)").as("qpm"))
    val base = sc.select(col("doc_id"), col("score_milli"))
      .join(uniq, Seq("doc_id"))
    val r1 = ScaleWindows.bucketedRowNumber(base,
      expr("score_milli div 64"), true,
      Seq(col("score_milli").desc, col("doc_id").asc), "rank_q")
    val r2 = ScaleWindows.bucketedRowNumber(r1,
      expr("qpm div 50"), true,
      Seq(col("qpm").desc, col("doc_id").asc), "rank_u")
    r2.select(col("doc_id"), col("score_milli"), col("qpm"),
        col("rank_q"), col("rank_u"),
        expr("1000000 div (60 + rank_q) + 1000000 div (60 + rank_u)")
          .as("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col("doc_id")).limit(20)
  }

  val queries: Map[String, Q] = Map(
    "q_mix_doremi" -> qMixDoremi,
    "q_eval_conformal" -> qEvalConformal,
    "q_rank_fusion" -> qRankFusion)

  val oracle: Map[String, String] = Map(
    "q_mix_doremi" -> s"""
      WITH scored AS (${CorpusOps10.scoredSql}),
      by_src AS (
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(s.score_milli) AS BIGINT) AS ssum
        FROM scored s JOIN documents d USING (doc_id)
        GROUP BY d.source),
      g AS (SELECT CAST(sum(ssum) AS BIGINT)
                     // CAST(sum(n_docs) AS BIGINT) AS gmean,
                   CAST(count(*) AS BIGINT) AS k
            FROM by_src),
      e AS (SELECT source, n_docs, ssum,
              ssum // n_docs AS mean_milli,
              greatest(gmean - ssum // n_docs, 0) AS excess, gmean, k
            FROM by_src, g),
      s1 AS (SELECT *, CAST(1000000 * (1000000 + 100 * excess)
               // 1000000 AS BIGINT) AS w0 FROM e),
      s1n AS (SELECT *, CAST(w0 * (k * 1000000)
                // CAST((SELECT sum(w0) FROM s1) AS BIGINT) AS BIGINT)
                AS w FROM s1),
      s2 AS (SELECT * EXCLUDE (w0, w),
               CAST(w * (1000000 + 100 * excess) // 1000000 AS BIGINT)
                 AS w0 FROM s1n),
      s2n AS (SELECT *, CAST(w0 * (k * 1000000)
                // CAST((SELECT sum(w0) FROM s2) AS BIGINT) AS BIGINT)
                AS w FROM s2),
      s3 AS (SELECT * EXCLUDE (w0, w),
               CAST(w * (1000000 + 100 * excess) // 1000000 AS BIGINT)
                 AS w0 FROM s2n),
      s3n AS (SELECT *, CAST(w0 * (k * 1000000)
                // CAST((SELECT sum(w0) FROM s3) AS BIGINT) AS BIGINT)
                AS w FROM s3)
      SELECT source, n_docs, mean_milli AS mean_score_milli,
        gmean AS corpus_mean_milli, excess AS excess_milli,
        w AS weight_micro
      FROM s3n ORDER BY weight_micro DESC, source""",
    "q_eval_conformal" -> s"""
      WITH scored AS (${CorpusOps10.scoredSql}),
      cal AS (SELECT score_milli, CAST(count(*) AS BIGINT) AS c
              FROM scored WHERE doc_id % 2 = 0 AND pos = 1
              GROUP BY 1),
      n AS (SELECT CAST(sum(c) AS BIGINT) AS n_cal FROM cal),
      cum AS (SELECT score_milli,
                CAST(sum(c) OVER (ORDER BY score_milli
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
              FROM cal),
      thr AS (SELECT min(score_milli) AS threshold_milli,
                min(n_cal) AS n_cal,
                min(greatest((n_cal + 1) // 10, 1)) AS rank_r
              FROM cum, n
              WHERE cum >= greatest((n_cal + 1) // 10, 1))
      SELECT t.n_cal, t.rank_r, t.threshold_milli,
        CAST(count(*) AS BIGINT) AS n_test,
        CAST(sum(pos) AS BIGINT) AS n_test_pos,
        CAST(sum(CASE WHEN pos = 1 AND score_milli >= t.threshold_milli
                 THEN 1 ELSE 0 END) AS BIGINT) AS covered,
        CAST(sum(CASE WHEN pos = 1 AND score_milli >= t.threshold_milli
                 THEN 1 ELSE 0 END) AS BIGINT) * 1000
          // CAST(sum(pos) AS BIGINT) AS coverage_permille,
        CAST(sum(CASE WHEN score_milli >= t.threshold_milli
                 THEN 1 ELSE 0 END) AS BIGINT) AS flagged,
        CAST(sum(CASE WHEN score_milli >= t.threshold_milli
                 THEN 1 ELSE 0 END) AS BIGINT) * 1000
          // CAST(count(*) AS BIGINT) AS flagged_permille
      FROM scored, thr t
      WHERE doc_id % 2 = 1
      GROUP BY t.n_cal, t.rank_r, t.threshold_milli""",
    "q_rank_fusion" -> s"""
      WITH scored AS (${CorpusOps10.scoredSql}),
      u AS (SELECT doc_id,
              len(list_distinct(string_split(text, ' '))) * 1000
                // len(string_split(text, ' ')) AS qpm
            FROM documents),
      b AS (SELECT s.doc_id, s.score_milli, u.qpm
            FROM scored s JOIN u USING (doc_id)),
      r AS (SELECT *,
              CAST(row_number() OVER (ORDER BY score_milli DESC, doc_id)
                AS BIGINT) AS rank_q,
              CAST(row_number() OVER (ORDER BY qpm DESC, doc_id)
                AS BIGINT) AS rank_u
            FROM b)
      SELECT doc_id, score_milli, qpm, rank_q, rank_u,
        1000000 // (60 + rank_q) + 1000000 // (60 + rank_u) AS rrf_micro
      FROM r ORDER BY rrf_micro DESC, doc_id LIMIT 20""")
}
