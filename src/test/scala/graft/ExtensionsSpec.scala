package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Custom extension surface (SURVEY.md §2.K): expression semantics,
  * codegen participation, generator null-handling, script transform. */
class ExtensionsSpec extends AnyFunSuite {
  import TestSpark._

  test("field() semantics incl. no-match and null") {
    GraftSession.install(spark)
    val r = spark.sql(
      """SELECT field('b', 'a', 'b', 'c') AS hit,
                field('z', 'a', 'b', 'c') AS miss,
                field(CAST(NULL AS STRING), 'a') AS nul""").collect().head
    assert(r.getInt(0) == 2 && r.getInt(1) == 0 && r.getInt(2) == 0)
  }

  test("field() survives whole-stage codegen over a table") {
    GraftSession.install(spark)
    Tables(spark, sf, "orders").createOrReplaceTempView("o_cg")
    val df = spark.sql(
      "SELECT field(o_orderstatus, 'F', 'O', 'P') AS i FROM o_cg")
    // whole-stage-codegen'd operators print with a "*(n)" prefix
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
    val vals = df.distinct().collect().map(_.getInt(0)).toSet
    assert(vals.subsetOf(Set(1, 2, 3)))
  }

  test("zorder64 interleaves bits exactly and runs in whole-stage codegen") {
    GraftSession.install(spark)
    // bit-exact: a's bit i -> 2i, b's bit i -> 2i+1
    val r = spark.sql(
      """SELECT zorder64(0L, 0L) AS z0,
                zorder64(1L, 0L) AS za,
                zorder64(0L, 1L) AS zb,
                zorder64(63L, 63L) AS zf,
                zorder64(5L, 3L) AS zm""").collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 1L && r.getLong(2) == 2L)
    assert(r.getLong(3) == 4095L)
    // a=101b -> bits 0,4; b=011b -> bits 1,3 => 1 + 16 + 2 + 8 = 27
    assert(r.getLong(4) == 27L)
    // scala-side helper agrees with the SQL expression
    assert(graft.functions.ZOrder64.interleave(5L, 3L) == 27L)
    // codegen participation over a table scan
    Tables(spark, sf, "lineitem").createOrReplaceTempView("z_cg")
    val df = spark.sql(
      "SELECT zorder64(l_partkey % 64, l_suppkey % 64) AS z FROM z_cg")
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
    assert(df.agg(org.apache.spark.sql.functions.max(org.apache.spark.sql
      .functions.col("z"))).collect().head.getLong(0) <= 4095L)
  }

  test("z-order buckets stay tight tiles in both dimensions") {
    // the data-skipping property: every 64-wide z-range is an 8x8 tile,
    // so min/max zone maps on EITHER column prune after a z-ordered
    // write (a lexicographic sort would leave the second column's range
    // at full width in every bucket)
    val rows = SparkEntry.queries("q_zorder_cluster")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (minA, maxA) = (r.getLong(2), r.getLong(3))
      val (minB, maxB) = (r.getLong(4), r.getLong(5))
      assert(maxA - minA <= 7, s"a-range too wide in bucket $r")
      assert(maxB - minB <= 7, s"b-range too wide in bucket $r")
    }
  }

  test("parse_url_tuple handles malformed and null urls") {
    GraftSession.install(spark)
    val rows = spark.sql(
      """SELECT t.* FROM (SELECT 'ht!tp://###bad' AS u) x
         LATERAL VIEW parse_url_tuple(u) t AS p, h, pa, q""").collect()
    assert(rows.length == 1 && rows.head.isNullAt(0))
    val outer = spark.sql(
      """SELECT t.* FROM (SELECT CAST(NULL AS STRING) AS u) x
         LATERAL VIEW OUTER parse_url_tuple(u) t AS p, h, pa, q""").collect()
    assert(outer.length == 1 && outer.head.isNullAt(0))
  }

  test("minhash32 partial/merge invariance: repartitioned input, same sig") {
    GraftSession.install(spark)
    val toks = Tables(spark, sf, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("th", xxhash64(col("tok")))
    def sigs(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("doc_id")).agg(expr("minhash32(th)").as("sig"))
        .orderBy(col("doc_id")).collect().toSeq
    assert(sigs(toks.repartition(1)) == sigs(toks.repartition(7)))
  }

  test("weighted avg aggregator matches direct exact computation") {
    GraftSession.install(spark)
    val got = SparkEntry.queries("q_udaf_weighted_avg")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exp = Tables(spark, sf, "part")
      .groupBy(col("p_brand"))
      .agg((sum(col("p_retailprice").cast("decimal(12,4)") * col("p_size"))
        .cast("double") / sum(col("p_size")).cast("double")).as("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == exp)
  }

  test("weighted avg skips non-finite inputs instead of aborting (ADVICE r02)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.udaf
    val wa = udaf(graft.functions.WeightedAvg)
    val rows = Seq(("a", 2.0, 1L), ("a", Double.NaN, 5L),
        ("a", 4.0, 1L), ("a", Double.PositiveInfinity, 9L))
      .toDF("k", "x", "w")
      .groupBy($"k").agg(wa($"x", $"w").as("wavg"))
      .collect()
    assert(rows.head.getDouble(1) == 3.0) // NaN/Inf rows contribute nothing
  }

  test("TRANSFORM USING pipes rows through an external script (Hive ScriptOperator)") {
    Tables(spark, sf, "region").createOrReplaceTempView("r_tx")
    val rows = spark.sql(
      """SELECT TRANSFORM(r_regionkey, r_name) USING 'cat'
           AS (k STRING, v STRING)
         FROM r_tx""").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getString(1)).toSet.contains("ASIA"))
  }
}
