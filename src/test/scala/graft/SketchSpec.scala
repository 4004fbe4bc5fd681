package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** KMV theta-sketch aggregate (functions/KmvAgg.scala): exactness below
  * the cap, the k << NDV estimator's error bound, partition-merge
  * invariance, and SQL-front-end registration. */
class SketchSpec extends AnyFunSuite {
  import TestSpark._

  private def hashes = {
    GraftSession.install(spark)
    Tables(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("tok"),
        col("doc_id"))
      // widen the value domain past any k under test: one 64-bit hash
      // per (token, doc) occurrence position bucket
      .select(xxhash64(col("tok"), col("doc_id")).as("h"))
  }

  test("below the cap the sketch is the exact distinct set") {
    val exact = hashes.select(expr("h & 9223372036854775807").as("m"))
      .distinct().count()
    val sk = hashes.agg(expr("kmv(h, 1000000)").as("sk"))
      .select(size(col("sk")).as("n")).head().getInt(0)
    assert(sk.toLong == exact, s"sized-exact sketch $sk != exact $exact")
  }

  test("k << NDV estimator lands within 15% of exact") {
    val exact = hashes.select(expr("h & 9223372036854775807").as("m"))
      .distinct().count().toDouble
    val k = 256
    val est = hashes.agg(expr(s"kmv(h, $k)").as("sk"))
      .select((lit(k - 1) /
        (element_at(col("sk"), k).cast("double") / 9.223372036854775807e18))
        .as("est")).head().getDouble(0)
    val err = math.abs(est - exact) / exact
    assert(err <= 0.15, s"kmv estimate $est vs exact $exact (err $err)")
  }

  test("sketch is partition-merge invariant") {
    val a = hashes.repartition(1).agg(expr("kmv(h, 512)")).head().getSeq[Long](0)
    val b = hashes.repartition(13).agg(expr("kmv(h, 512)")).head().getSeq[Long](0)
    assert(a == b, "kmv sketch differs across partitionings")
  }

  test("kmv is callable from the SQL front end") {
    Tables(spark, sf, "documents").createOrReplaceTempView("d_sk")
    val n = spark.sql(
      "SELECT size(kmv(xxhash64(text), 64)) FROM d_sk").head().getInt(0)
    assert(n > 0 && n <= 64)
  }
}
