package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.CorpusOps10

/** The classifier score is row-local ([[CorpusOps10.scoredOf]]): one
  * `aggregate` over the split text sums each word's bucket weight.
  * These tests hold it to the formulation it replaced, kept below as
  * the reference: explode the words, count them per (doc, bucket), join
  * the 256-row weight table and sum per doc. */
class ClassifierScoreSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val sf01 = new java.io.File(sf).toPath.resolveSibling("sf0.01").toString

  private def reference(docs: DataFrame): DataFrame = {
    val weights = broadcast(spark.range(0, 256).select(
      col("id").as("bucket"),
      (col("id") * lit(2654435761L) % 2003).as("weight")))
    docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("a"))
      .select(col("doc_id"), col("lang"),
        size(col("a")).cast("long").as("ntok"), explode(col("a")).as("w"))
      .withColumn("bucket",
        conv(substring(md5(col("w")), 1, 4), 16, 10).cast("long") % 256)
      .groupBy(col("doc_id"), col("lang"), col("ntok"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .join(weights, Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"), col("ntok"))
      .agg(sum(col("c") * col("weight")).as("raw"))
      .select(col("doc_id"),
        expr("raw * 1000 div ntok").as("score_milli"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
  }

  private def sorted(df: DataFrame) =
    df.orderBy(col("doc_id")).collect().toSeq

  test("the row-local score matches the reference on the fixtures") {
    for (dir <- Seq(sf, sf01)) {
      val docs = Tables(spark, dir, "documents")
      val got = sorted(CorpusOps10.scored(spark, dir))
      assert(got.size == docs.count() && got == sorted(reference(docs)), dir)
    }
  }

  test("null text is dropped; empty text, double spaces and repeats score alike") {
    val docs = Seq[(Long, String, String)](
      (1L, "en", null), (2L, "en", ""), (3L, "fr", "a  b"),
      (4L, "en", "x x x y"), (5L, null, "  "), (6L, "de", "héllo wörld 😀"),
      (7L, "en", "the cat sat on the mat the end"))
      .toDF("doc_id", "lang", "text")
    val got = sorted(CorpusOps10.scoredOf(docs))
    assert(got.map(_.getLong(0)) == Seq(2L, 3L, 4L, 5L, 6L, 7L))
    assert(got == sorted(reference(docs)))
  }
}
