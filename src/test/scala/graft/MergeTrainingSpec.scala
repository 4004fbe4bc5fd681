package graft

import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CorpusOps59, TextAnalysis}

/** The BPE and WordPiece trainers run their rounds in memory over the
  * collected dictionary ([[TextAnalysis.trainMerges]]). These tests hold
  * that loop to the per-round Spark formulation it replaced, which is
  * kept below as the reference. */
class MergeTrainingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val sf01 = new java.io.File(sf).toPath.resolveSibling("sf0.01").toString

  private def run[T](body: => T): T =
    try body finally CacheScope.release()

  /** The reference loop: each round picks from a Spark aggregation with
    * `orderBy(score.desc, col("pair")).limit(1).collect()` and applies
    * [[TextAnalysis.anchoredMerge]] in Spark. `score` maps
    * [[TextAnalysis.pairCounts]] plus the current dictionary to a frame
    * with a `score` column. The merged dictionary is locally
    * checkpointed each round: persisting it instead nests every
    * earlier round's cached plan into each round's plan string, and 64
    * rounds then ran for over ten minutes on a 4-core box. */
  private def reference(dict0: DataFrame, k: Int)(
      score: (DataFrame, DataFrame) => DataFrame): Seq[Seq[Any]] = {
    var dict = dict0.select(col("freq"), col("sym"))
    (1 to k).map { r =>
      val b = score(TextAnalysis.pairCounts(dict), dict)
        .orderBy(col("score").desc, col("pair")).limit(1)
        .drop("score").collect()
      require(b.nonEmpty, s"reference: no pairs in round $r")
      dict = dict.withColumn("sym", TextAnalysis.anchoredMerge(col("sym"),
        lit(b(0).getAs[String]("pair")))).localCheckpoint()
      CacheScope.checkpointRdd(dict).foreach(CacheScope.trackRdd)
      r.toLong +: b(0).toSeq
    }
  }

  private def bpeReference(dict0: DataFrame, k: Int) =
    reference(dict0, k)((pc, _) =>
      pc.select(col("pair"), col("cnt"), col("cnt").as("score")))

  private def wordpieceReference(dict0: DataFrame, k: Int) =
    reference(dict0, k) { (pc, dict) =>
      val sc = dict
        .select(col("freq"), explode(split(col("sym"), " ")).as("s"))
        .groupBy(col("s")).agg(sum(col("freq")).as("scnt"))
      pc.withColumn("l", expr("split(pair, ' ')[0]"))
        .withColumn("r", expr("split(pair, ' ')[1]"))
        .join(broadcast(sc.select(col("s").as("l"),
          col("scnt").as("left_cnt"))), Seq("l"))
        .join(broadcast(sc.select(col("s").as("r"),
          col("scnt").as("right_cnt"))), Seq("r"))
        .select(col("pair"), col("cnt"), col("left_cnt"),
          col("right_cnt"), (col("cnt").cast("double") /
            (col("left_cnt") * col("right_cnt")).cast("double"))
            .as("score"))
    }

  private def rows(df: => DataFrame): Seq[Seq[Any]] =
    run(df.collect().toSeq.map(_.toSeq))

  private def dictOf(docs: DataFrame) =
    TextAnalysis.symbolizedDocs(docs.select(col("text")))

  test("merge tables match the per-round Spark loop on the sf0.01 dictionary") {
    val dict = dictOf(Tables(spark, sf01, "documents"))
    val bpe = rows(TextAnalysis.bpeMerges(dict, 6))
    assert(bpe.size == 6 && bpe == run(bpeReference(dict, 6)))
    val wp = rows(CorpusOps59.wordpieceMerges(dict, 6))
    assert(wp.size == 6 && wp == run(wordpieceReference(dict, 6)))
  }

  test("count ties break in UTF-8 byte order, not UTF-16 order") {
    // U+1F600 is a surrogate pair in UTF-16 (0xD83D…), so String.compareTo
    // puts it BELOW U+FF61; in UTF-8 (0xF0… against 0xEF…) it sorts above
    val supp = "😀"
    val half = "｡"
    assert(supp.compareTo(half) < 0)
    val dict = Seq((5L, s"$supp </w>"), (5L, s"$half </w>"), (2L, "a b </w>"))
      .toDF("freq", "sym")
    val bpe = rows(TextAnalysis.bpeMerges(dict, 3))
    assert(bpe.map(_(1)) == Seq(s"$half </w>", s"$supp </w>", "a b"))
    assert(bpe == run(bpeReference(dict, 3)))
    // WordPiece: "a b" gains most, then "ab </w>" wins a three-way
    // tie at 1/12, and the last round is the same two-way tie at 0.1
    val wp = rows(CorpusOps59.wordpieceMerges(dict, 3))
    assert(wp.map(_(1)) == Seq("a b", "ab </w>", s"$half </w>"))
    assert(wp == run(wordpieceReference(dict, 3)))
  }

  test("64 merges (the API maximum) match the reference on sf0.01 documents") {
    val docs = Tables(spark, sf01, "documents")
    val bpe = rows(api.Graft.bpeTrain(docs, "text", merges = 64))
    assert(bpe.size == 64 && bpe == run(bpeReference(dictOf(docs), 64)))
    val wp = rows(api.Graft.wordpieceTrain(docs, "text", merges = 64))
    assert(wp.size == 64 && wp == run(wordpieceReference(dictOf(docs), 64)))
  }

  test("single-symbol words contribute no pairs instead of crashing") {
    // round 1 merges "a </w>" into the one-symbol word "a</w>"
    val merged = Seq("a a a bc", "a cat").toDF("text")
    val bpe = rows(api.Graft.bpeTrain(merged, "text", 2))
    assert(bpe == Seq(Seq(1L, "a </w>", 4L), Seq(2L, "a t", 1L)))
    assert(bpe == run(bpeReference(dictOf(merged), 2)))
    assert(rows(api.Graft.wordpieceTrain(merged, "text", 2)) ==
      run(wordpieceReference(dictOf(merged), 2)))
    // the double space yields the empty word, symbolized as "</w>"
    val empty = Seq("x  y").toDF("text")
    assert(rows(api.Graft.bpeTrain(empty, "text", 1)) ==
      Seq(Seq(1L, "x </w>", 1L)))
    assert(rows(TextAnalysis.pairCounts(dictOf(empty)).orderBy("pair")) ==
      Seq(Seq("x </w>", 1L), Seq("y </w>", 1L)))
    // no pair left at all still fails loudly
    val e = intercept[IllegalArgumentException](
      run(TextAnalysis.bpeMerges(dictOf(Seq("a").toDF("text")), 2)))
    assert(e.getMessage.contains("no symbol pairs to merge"))
  }

  test("training starts the same number of Spark jobs for 1 and 6 rounds") {
    val dict = dictOf(Tables(spark, sf, "documents"))
    // the trainers train eagerly and return a local table of k rows
    // sorted in one partition; the collect of that table is counted
    // too, so a sort that plans a range exchange over one partition per
    // row (5 jobs for 6 rows against 2 for 1 row) fails the guard
    def jobs(train: Int => DataFrame, k: Int) =
      run(JobCounter(spark.sparkContext)(train(k).collect()))
    val bpe = (k: Int) => TextAnalysis.bpeMerges(dict, k)
    val wp = (k: Int) => CorpusOps59.wordpieceMerges(dict, k)
    assert(jobs(bpe, 1) > 0)
    assert(jobs(bpe, 1) == jobs(bpe, 6))
    assert(jobs(wp, 1) == jobs(wp, 6))
  }
}
