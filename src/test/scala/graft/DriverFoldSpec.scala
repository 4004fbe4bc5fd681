package graft

import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CorpusOps10, CorpusOps39, CorpusOps42, CorpusOps43}

/** The Bradley-Terry and DoReMi steps run on the driver over one
  * collected, dimension-bounded frame ([[CorpusOps39.btFold]],
  * [[CorpusOps42.doremiFold]]). These tests hold them to the
  * formulations they replaced, kept below as the references: the
  * steps as `transform`/`aggregate` expressions over ONE packed row. */
class DriverFoldSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val sf01 = new java.io.File(sf).toPath.resolveSibling("sf0.01").toString

  private def run[T](body: => T): T =
    try body finally CacheScope.release()

  /** The reference Bradley-Terry board over a (i, j, wins) matrix:
    * every ordered pair of distinct sources, absent pairs filled 0,
    * then 3 MM steps as expressions over one packed row. */
  private def referenceBt(wins: DataFrame): DataFrame = {
    val srcs = wins.select(col("i").as("source")).distinct()
    val pairs0 = srcs.select(col("source").as("i"))
      .crossJoin(srcs.select(col("source").as("j")))
      .filter(col("i") =!= col("j"))
    val full = pairs0
      .join(wins, Seq("i", "j"), "left").na.fill(0L, Seq("wins"))
      .join(wins.select(col("i").as("j"), col("j").as("i"),
        col("wins").as("wins_ji")), Seq("i", "j"), "left")
      .na.fill(0L, Seq("wins_ji"))
      .withColumn("n_ij", col("wins") + col("wins_ji"))
    val packed = full.groupBy(col("i"))
      .agg(sort_array(collect_list(struct(col("j"), col("n_ij")))).as("ns"),
        sum(col("wins")).as("w"), sum(col("wins_ji")).as("losses"))
    var one = packed
      .agg(sort_array(collect_list(
        struct(col("i"), col("ns"), col("w"), col("losses")))).as("m"))
      .withColumn("st", expr(
        "map_from_arrays(transform(m, r -> r.i), " +
          "transform(m, r -> CAST(1000000 AS BIGINT)))"))
    for (_ <- 1 to 3) {
      one = one
        .withColumn("st0", expr(
          """transform(m, r -> coalesce(
               CAST(r.w AS DECIMAL(38,0)) * 1000000000000 div nullif(
                 aggregate(r.ns, CAST(0 AS BIGINT), (acc, x) ->
                   acc + CAST(x.n_ij AS DECIMAL(38,0)) * 1000000000000
                         div (element_at(st, r.i) + element_at(st, x.j))),
                 0), 0))"""))
        .withColumn("tot",
          expr("aggregate(st0, CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
        .withColumn("st", expr(
          """map_from_arrays(transform(m, r -> r.i),
             transform(st0, x ->
               x * (size(m) * CAST(1000000 AS BIGINT))
                 div nullif(tot, 0)))"""))
        .drop("st0", "tot")
    }
    one.select(explode(col("m")).as("r"), col("st"))
      .select(col("r.i").as("source"), col("r.w").as("wins"),
        col("r.losses").as("losses"),
        expr("element_at(st, r.i)").as("strength_micro"))
      .orderBy(col("strength_micro").desc, col("source"))
  }

  /** The reference DoReMi table over (source, n_docs, ssum) rows. */
  private def referenceDoremi(bySrc: DataFrame): DataFrame = {
    var one = bySrc
      .agg(sort_array(collect_list(
        struct(col("source"), col("n_docs"), col("ssum")))).as("m"))
      .withColumn("gmean", expr(
        """aggregate(m, CAST(0 AS BIGINT), (a, r) -> a + r.ssum)
           div aggregate(m, CAST(0 AS BIGINT), (a, r) -> a + r.n_docs)"""))
      .withColumn("excess", expr(
        """transform(m, r ->
             greatest(gmean - r.ssum div r.n_docs, CAST(0 AS BIGINT)))"""))
      .withColumn("w", expr(
        "transform(m, r -> CAST(1000000 AS BIGINT))"))
    for (_ <- 1 to 3) {
      one = one
        .withColumn("w0", expr(
          """transform(sequence(0, size(m) - 1), i ->
               element_at(w, i + 1)
                 * (1000000 + 100 * element_at(excess, i + 1))
                 div 1000000)"""))
        .withColumn("tot",
          expr("aggregate(w0, CAST(0 AS BIGINT), (a, x) -> a + x)"))
        .withColumn("w", expr(
          """transform(w0, x ->
               x * (size(m) * CAST(1000000 AS BIGINT))
                 div nullif(tot, 0))"""))
        .drop("w0", "tot")
    }
    one.select(posexplode(col("m")).as(Seq("i", "r")),
        col("excess"), col("w"), col("gmean"))
      .select(col("r.source").as("source"), col("r.n_docs").as("n_docs"),
        expr("r.ssum div r.n_docs").as("mean_score_milli"),
        col("gmean").as("corpus_mean_milli"),
        expr("element_at(excess, i + 1)").as("excess_milli"),
        expr("element_at(w, i + 1)").as("weight_micro"))
      .orderBy(col("weight_micro").desc, col("source"))
  }

  /** The rows of `df`, or "arithmetic" when computing them throws an
    * ArithmeticException (Spark's overflow and division-by-zero errors
    * are ones), anywhere in the cause chain. */
  private def outcome(df: => DataFrame): Either[String, Seq[Row]] =
    try Right(run(df.collect().toSeq))
    catch {
      case e: Exception
          if Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(_.isInstanceOf[ArithmeticException]) =>
        Left("arithmetic")
    }

  private def winsOf(dir: String): DataFrame =
    CorpusOps39.winsMatrix(CorpusOps43.scoreCells(spark, dir,
      CorpusOps10.scored(spark, dir)))

  private def bySrcOf(dir: String): DataFrame =
    CorpusOps10.scored(spark, dir)
      .join(Tables(spark, dir, "documents").select(col("doc_id"),
        col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("score_milli")).as("ssum"))

  private def wins(rows: (String, String, Long)*): DataFrame =
    rows.toDF("i", "j", "wins")

  test("the Bradley-Terry fold matches the reference on the sf0.001 and sf0.01 win matrices") {
    for (dir <- Seq(sf, sf01)) {
      val got = outcome(CorpusOps39.btFold(winsOf(dir)))
      assert(got.exists(_.size > 2) && got == outcome(referenceBt(winsOf(dir))), dir)
      assert(outcome(SparkEntry.queries("q_eval_bradley_terry")(spark, dir)) == got, dir)
    }
  }

  test("the DoReMi fold matches the reference on the sf0.001 and sf0.01 sources") {
    for (dir <- Seq(sf, sf01)) {
      val got = outcome(CorpusOps42.doremiFold(bySrcOf(dir)))
      assert(got.exists(_.size > 2) && got == outcome(referenceDoremi(bySrcOf(dir))), dir)
      assert(outcome(SparkEntry.queries("q_mix_doremi")(spark, dir)) == got, dir)
    }
  }

  test("Bradley-Terry edge inputs: a winless source, absent pairs, one source, all ties") {
    def same(w: DataFrame) = {
      val got = outcome(CorpusOps39.btFold(w))
      assert(got == outcome(referenceBt(w)))
      got
    }
    // c never wins, and (c, a) is absent: it counts 0
    val winless = same(wins(("a", "b", 3L), ("a", "c", 4L), ("b", "a", 1L),
      ("b", "c", 2L), ("c", "b", 0L)))
    assert(winless.exists(r => r.size == 3 && r.last.getLong(3) == 0L), winless)
    // one source: the win matrix has no pair, so the board is empty
    val one = Seq(("s", 0L, 100L, 3L), ("s", 1L, 200L, 2L))
      .toDF("source", "round", "score_milli", "nc")
    assert(same(CorpusOps39.winsMatrix(one)) == Right(Nil))
    // every game tied: the first step total is 0, so every strength is null
    val ties = same(wins(("a", "b", 0L), ("b", "a", 0L), ("c", "a", 0L)))
    assert(ties.exists(r => r.size == 3 && r.forall(_.isNullAt(3))), ties)
  }

  test("Bradley-Terry overflow, division by zero and wrapped decimal terms behave as in Spark") {
    def both(w: DataFrame) = {
      val got = outcome(CorpusOps39.btFold(w))
      assert(got == outcome(referenceBt(w)))
      got
    }
    // n_ij = wins + wins_ji overflows int64
    assert(both(wins(("a", "b", Long.MaxValue), ("b", "a", 1L))) ==
      Left("arithmetic"))
    // two winless sources reach strength 0 together: 0 + 0 divides
    assert(both(wins(("a", "b", 5L), ("a", "c", 5L), ("b", "c", 0L),
      ("c", "b", 0L))) == Left("arithmetic"))
    // n_ij·10¹² div (S_i + S_j) leaves int64 and narrows by wrapping
    val wrapped = both(wins(("a", "b", 40000000000000L), ("b", "a", 1L),
      ("a", "c", 1L), ("c", "a", 1L), ("b", "c", 1L), ("c", "b", 1L)))
    assert(wrapped.isRight, wrapped)
  }

  test("DoReMi edge inputs: one source, no source, an int64 overflow") {
    def both(b: DataFrame) = {
      val got = outcome(CorpusOps42.doremiFold(b))
      assert(got == outcome(referenceDoremi(b)))
      got
    }
    val one = both(Seq(("s", 4L, 2000L)).toDF("source", "n_docs", "ssum"))
    assert(one == Right(Seq(Row("s", 4L, 500L, 500L, 0L, 1000000L))))
    // the corpus mean would divide 0 by 0, but no row reads it
    assert(both(Seq.empty[(String, Long, Long)].toDF("source", "n_docs",
      "ssum")) == Right(Nil))
    assert(both(Seq(("a", 1L, Long.MaxValue), ("b", 1L, 1L))
      .toDF("source", "n_docs", "ssum")) == Left("arithmetic"))
  }

  test("warm executions of the Bradley-Terry and rating-agreement queries start a pinned number of jobs") {
    // building the query (the fold's collect) plus executing it, caches
    // released after each run; measured at sf0.01: the expression-string
    // folds started 23-24 (BT) and 42 (agreement) jobs
    def jobs(q: String) = {
      def once() = run(JobCounter(spark.sparkContext)(
        SparkEntry.queries(q)(spark, sf01).collect()))
      once()
      (1 to 2).map(_ => once())
    }
    // AQE's stage scheduling moves the Bradley-Terry count between 13
    // and 15 from run to run, so both are ceilings
    assert(jobs("q_eval_rating_agreement").forall(_ <= 21))
    assert(jobs("q_eval_bradley_terry").forall(_ <= 15))
  }
}
