package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus + analytics operators, r9 wave 17 (SURVEY.md §2.M): the
  * classifier EVALUATION suite — exact ROC-AUC, decile calibration and
  * inter-labeler agreement (Cohen's kappa) — plus a Benford first-digit
  * conformance check for the DQ family. A quality classifier
  * (q_quality_classifier) without an AUC/calibration readout is half an
  * operator: every production filtering pipeline reports these before
  * a threshold ships.
  *
  * Determinism contract (CorpusOps5-9): md5 is the only hash, every
  * statistic is exact int64 up to at most ONE final IEEE division, and
  * every integer division has non-negative operands so Spark's
  * truncating `div` and DuckDB's flooring `//` agree.
  */
object CorpusOps10 {

  /** The q_quality_classifier scoring pass, shared by the evaluation
    * queries: per doc, the hashed-bucket linear score (milli-units)
    * plus the binary ground-truth label `is_en` (language-ID gate —
    * "does the quality score separate English from non-English text",
    * the fastText-quality-vs-langid audit every multilingual corpus
    * runs). Row-local: the bucket-weighted count Σ_bucket c·w equals
    * the per-word sum Σ_word w(bucket(word)), so one `aggregate` over
    * the split text scores a doc without a shuffle or a weight join. */
  private[graft] def scored(s: SparkSession, dir: String): DataFrame =
    scoredOf(Tables(s, dir, "documents"))

  /** [[scored]] over a (doc_id, lang, text) frame, one row per doc
    * whose text is not null. */
  private[graft] def scoredOf(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("a"))
      .select(col("doc_id"),
        expr("""aggregate(a, 0L, (raw, w) -> raw +
            (CAST(conv(substring(md5(w), 1, 4), 16, 10) AS BIGINT) % 256)
              * 2654435761 % 2003)
          * 1000 div size(a)""").as("score_milli"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))

  /** Exact ROC-AUC via the score-level Mann-Whitney decomposition
    * (Hanley & McNeil 1982): collapse docs to (score, n_pos, n_neg)
    * rows, order by score, and accumulate
    * num2 = Σ_s (2·pos_s·neg_below(s) + pos_s·neg_s) — twice the
    * U statistic with the standard half-credit for ties — so
    * AUC = num2 / (2·n_pos·n_neg) is exact integers up to one IEEE
    * division.
    *
    * Scale: the ONLY per-doc work is the classifier scan itself; the
    * rank window runs over DISTINCT SCORES (≤2003·1000 milli values,
    * bounded by the weight-table range, not the corpus), so the
    * global orderBy window that kills naive per-row rank-sum AUC at
    * 100 TB never touches doc-sized data. */
  val qClassifierAuc: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byScore = scored(s, dir)
      .groupBy(col("score_milli"))
      .agg(sum(col("pos")).as("p"), sum(lit(1L) - col("pos")).as("ng"))
    val w = Window.orderBy(col("score_milli"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("neg_below", coalesce(sum(col("ng")).over(w), lit(0L)))
      .agg(sum(col("p")).as("n_pos"), sum(col("ng")).as("n_neg"),
        sum(col("p") * (col("neg_below") * 2 + col("ng"))).as("auc_num2"))
      .select(col("n_pos"), col("n_neg"), col("auc_num2"),
        (col("n_pos") * col("n_neg") * 2).as("auc_den2"))
      .withColumn("auc",
        col("auc_num2").cast("double") / col("auc_den2").cast("double"))
  }

  /** Decile calibration table: docs ranked by (score, doc_id) into 10
    * equal-frequency bins (deterministic ntile ties — the q_customer_rfm
    * discipline), then per bin the doc count, mean score in milli-units
    * (exact: sum·1000 div n) and the positive rate in permille. The
    * reliability-diagram feed: a well-calibrated score has pos_permille
    * monotone in bin.
    *
    * Scale: the decile is [[ScaleWindows.bucketedNtile]] — global rank
    * = broadcast bucket offset (64-milli score bands, bounded by the
    * weight-table range, not the corpus) + per-band row_number, so NO
    * unpartitioned window touches doc-sized data (the r9 verdict's
    * named scale-killer, now decomposed the q_budget_select way). The
    * per-bin rollup after it is 10 rows. */
  val qCalibrationBins: Q = (s, dir) => {
    val sc = graft.CacheScope.track(scored(s, dir).persist())
    ScaleWindows.bucketedNtile(sc, 10, expr("score_milli div 64"), false,
        Seq(col("score_milli").asc, col("doc_id").asc), "bin")
      .groupBy(col("bin")).agg(count(lit(1)).as("n_docs"),
        sum(col("score_milli")).as("ssum"), sum(col("pos")).as("n_pos"))
      .select(col("bin").cast("long").as("bin"), col("n_docs"),
        expr("ssum div n_docs").as("mean_score_milli"), col("n_pos"),
        expr("n_pos * 1000 div n_docs").as("pos_permille"))
      .orderBy(col("bin"))
  }

  /** Inter-labeler agreement (Cohen 1960 kappa) between two independent
    * heuristic quality labelers — A: the Gopher length gate (50 ≤ words
    * ≤ 100k, q_quality_gopher rule 1), B: the stopword-presence gate
    * (doc mentions ≥2 of the 8-word stopword set, rule 4). The
    * label-quality audit run before trusting any silver-label set:
    * kappa near 0 means the "rules" are measuring different things.
    *
    * kappa = 2·(ad − bc) / ((a+b)(b+d) + (a+c)(c+d)) over the 2×2
    * confusion counts — exact int64 numerator/denominator, one IEEE
    * division. (Denominator is 0 only if either labeler is constant;
    * guarded with a nullif so the output is NULL, not a crash.)
    *
    * Scale: both labels are map-side per-doc expressions; the 2×2
    * confusion is one partial-aggregated 4-row shuffle. */
  val qAgreementKappa: Q = (s, dir) => {
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val toks = Tables(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("a"))
    val labeled = toks.select(
      (size(col("a")) >= 50 && size(col("a")) <= 100000).as("label_a"),
      (size(filter(col("a"),
        w => w.isin(stop.map(lit(_)): _*))) >= 2).as("label_b"))
    val conf = labeled
      .agg(
        sum(when(col("label_a") && col("label_b"), 1L).otherwise(0L)).as("yy"),
        sum(when(col("label_a") && !col("label_b"), 1L).otherwise(0L)).as("yn"),
        sum(when(!col("label_a") && col("label_b"), 1L).otherwise(0L)).as("ny"),
        sum(when(!col("label_a") && !col("label_b"), 1L).otherwise(0L)).as("nn"))
    conf.select(col("yy"), col("yn"), col("ny"), col("nn"),
      (lit(2L) * (col("yy") * col("nn") - col("yn") * col("ny")))
        .as("kappa_num"),
      ((col("yy") + col("yn")) * (col("yn") + col("nn")) +
        (col("yy") + col("ny")) * (col("ny") + col("nn"))).as("kappa_den"))
      .withColumn("kappa", col("kappa_num").cast("double") /
        nullif(col("kappa_den"), lit(0L)).cast("double"))
  }

  /** Benford first-digit conformance check (Benford 1938; the classic
    * financial-anomaly screen) over order totals: the leading digit of
    * each o_totalprice vs Newcomb-Benford expectation
    * log10(1 + 1/d). Output per digit: count, observed permille,
    * expected permille (the canonical 301/176/125/97/79/67/58/51/46
    * table as literals — no float log in either engine) and the
    * absolute deviation. Synthetic uniform-ish prices will FAIL
    * Benford — that is the point of a conformance report; the oracle
    * pins the numbers, not a verdict.
    *
    * Exactness: prices are positive doubles; cents = round(p·100) is
    * the q_customer_rfm exact-cents move, and the leading digit comes
    * from the int64's decimal string — no float log10 near a power-of-
    * ten boundary to disagree on.
    *
    * Scale: map-side digit extraction, one 9-row partial-aggregated
    * shuffle, broadcast total. */
  val qDqBenford: Q = (s, dir) => {
    val expected: Column = // permille, round(log10(1+1/d)*1000)
      expr("element_at(array(301,176,125,97,79,67,58,51,46), " +
        "CAST(digit AS INT))").cast("long")
    val digits = Tables(s, dir, "orders")
      .select(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .select(substring(col("cents").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("total"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        expr("n * 1000 div total").as("obs_permille"),
        expected.as("exp_permille"))
      .withColumn("abs_dev_permille",
        abs(col("obs_permille") - col("exp_permille")))
      .orderBy(col("digit"))
  }

  val queries: Map[String, Q] = Map(
    "q_classifier_auc" -> qClassifierAuc,
    "q_calibration_bins" -> qCalibrationBins,
    "q_agreement_kappa" -> qAgreementKappa,
    "q_dq_benford" -> qDqBenford)

  private[ops] val scoredSql = """
      SELECT doc_id,
        CAST(sum(c * weight) AS BIGINT) * 1000 // any_value(ntok)
          AS score_milli,
        CASE WHEN any_value(lang) = 'en' THEN 1 ELSE 0 END AS pos
      FROM (
        SELECT doc_id, lang, ntok, bucket, count(*) AS c,
          (bucket * 2654435761) % 2003 AS weight
        FROM (
          SELECT doc_id, lang, len(a) AS ntok,
            CAST('0x' || substr(md5(w), 1, 4) AS BIGINT) % 256 AS bucket
          FROM (SELECT doc_id, lang, string_split(text, ' ') AS a
                FROM documents), unnest(a) AS t(w))
        GROUP BY doc_id, lang, ntok, bucket)
      GROUP BY doc_id"""

  val oracle: Map[String, String] = Map(
    "q_classifier_auc" -> s"""
      WITH scored AS ($scoredSql),
      by_score AS (SELECT score_milli, CAST(sum(pos) AS BIGINT) AS p,
                     CAST(sum(1 - pos) AS BIGINT) AS ng
                   FROM scored GROUP BY 1),
      ranked AS (SELECT *,
                   CAST(coalesce(sum(ng) OVER (ORDER BY score_milli
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS BIGINT) AS neg_below
                 FROM by_score)
      SELECT CAST(sum(p) AS BIGINT) AS n_pos,
        CAST(sum(ng) AS BIGINT) AS n_neg,
        CAST(sum(p * (neg_below * 2 + ng)) AS BIGINT) AS auc_num2,
        CAST(sum(p) AS BIGINT) * CAST(sum(ng) AS BIGINT) * 2 AS auc_den2,
        CAST(sum(p * (neg_below * 2 + ng)) AS DOUBLE) /
          CAST(sum(p) * sum(ng) * 2 AS DOUBLE) AS auc
      FROM ranked""",
    "q_calibration_bins" -> s"""
      WITH scored AS ($scoredSql),
      binned AS (SELECT *, ntile(10) OVER (ORDER BY score_milli, doc_id)
                   AS bin FROM scored)
      SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
        CAST(sum(score_milli) AS BIGINT) // count(*) AS mean_score_milli,
        CAST(sum(pos) AS BIGINT) AS n_pos,
        CAST(sum(pos) AS BIGINT) * 1000 // count(*) AS pos_permille
      FROM binned GROUP BY bin ORDER BY bin""",
    "q_agreement_kappa" -> """
      WITH labeled AS (
        SELECT len(a) BETWEEN 50 AND 100000 AS label_a,
          len(list_filter(a, w -> w IN ('the','be','to','of','and',
            'that','have','with'))) >= 2 AS label_b
        FROM (SELECT string_split(text, ' ') AS a FROM documents)),
      conf AS (SELECT
        CAST(sum(CASE WHEN label_a AND label_b THEN 1 ELSE 0 END)
          AS BIGINT) AS yy,
        CAST(sum(CASE WHEN label_a AND NOT label_b THEN 1 ELSE 0 END)
          AS BIGINT) AS yn,
        CAST(sum(CASE WHEN NOT label_a AND label_b THEN 1 ELSE 0 END)
          AS BIGINT) AS ny,
        CAST(sum(CASE WHEN NOT label_a AND NOT label_b THEN 1 ELSE 0 END)
          AS BIGINT) AS nn
        FROM labeled)
      SELECT yy, yn, ny, nn,
        2 * (yy * nn - yn * ny) AS kappa_num,
        (yy + yn) * (yn + nn) + (yy + ny) * (ny + nn) AS kappa_den,
        CAST(2 * (yy * nn - yn * ny) AS DOUBLE) /
          CAST(nullif((yy + yn) * (yn + nn) + (yy + ny) * (ny + nn), 0)
            AS DOUBLE) AS kappa
      FROM conf""",
    "q_dq_benford" -> """
      WITH digits AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0)
            AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
          count(*) AS n
        FROM orders GROUP BY 1),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM digits)
      SELECT digit, n, n * 1000 // total AS obs_permille,
        CAST([301,176,125,97,79,67,58,51,46][CAST(digit AS INT)]
          AS BIGINT) AS exp_permille,
        abs(n * 1000 // total -
          [301,176,125,97,79,67,58,51,46][CAST(digit AS INT)])
          AS abs_dev_permille
      FROM digits CROSS JOIN t ORDER BY digit""")
}
