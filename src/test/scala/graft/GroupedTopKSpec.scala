package graft

import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables
import graft.plans.GroupedTopKNode

/** Memory-contract and edge-case coverage for the GroupedTopK operator
  * (r02 VERDICT #3 / ADVICE): bounded partial state under high group
  * cardinality, single-partition global top-k, and construction-time
  * validation of k. */
class GroupedTopKSpec extends AnyFunSuite {
  import TestSpark._

  private def topK(groupCols: Seq[String], k: Int, maxPartialGroups: Int) = {
    GraftSession.install(spark)
    val li = Tables(spark, sf, "lineitem")
    val child = li.queryExecution.analyzed
    def attr(n: String) = child.output.find(_.name == n).get
    PlanBridge.ofRows(spark, GroupedTopKNode(
      grouping = groupCols.map(attr),
      ordering = Seq(
        SortOrder(attr("l_extendedprice"), Descending),
        SortOrder(attr("l_orderkey"), Ascending),
        SortOrder(attr("l_linenumber"), Ascending)),
      k = k,
      child = child,
      maxPartialGroups = maxPartialGroups))
  }

  test("high-cardinality grouping stays correct with a tiny partial cap") {
    // l_orderkey has ~1 group per 4 rows; cap=4 forces the partial stage
    // into passthrough mode almost immediately — the overflow path must
    // still deliver exact top-k per group (just without map-side combine).
    val got = topK(Seq("l_orderkey"), 2, maxPartialGroups = 4)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_extendedprice").desc,
        col("l_linenumber"))
      .collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber"))
    val want = Tables(spark, sf, "lineitem")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_extendedprice").desc,
        col("l_linenumber"))
      .collect().toSeq
    assert(got == want)
  }

  test("empty grouping yields a GLOBAL top-k: exactly k rows (ADVICE r02)") {
    val got = topK(Seq.empty, 5, GroupedTopKNode.DefaultMaxPartialGroups)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .collect().toSeq
    assert(got.size == 5, s"global top-5 emitted ${got.size} rows")
    val want = Tables(spark, sf, "lineitem")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber"))
      .limit(5)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .collect().toSeq
    assert(got.sortBy(r => (-r.getDouble(2), r.getLong(0))) ==
      want.sortBy(r => (-r.getDouble(2), r.getLong(0))))
  }

  test("optimizer rule lowers row_number<=k + drop(rn) to GroupedTopK") {
    import spark.implicits._
    GraftSession.install(spark)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.RowNumberTopKRewrite
    try {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"l_suppkey")
        .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
      def windowed = Tables(spark, sf, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
      // rank column dropped -> rule fires
      val rewritten = windowed
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
          $"l_extendedprice")
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(plan.contains("GroupedTopKPartial"), plan)
      val got = rewritten
        .orderBy($"l_suppkey", $"l_extendedprice".desc, $"l_orderkey")
        .collect().toSeq
      // rank column kept -> rule must NOT fire, results identical
      val kept = windowed
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
          $"l_extendedprice", $"rn")
      assert(!kept.queryExecution.executedPlan.toString
        .contains("GroupedTopK"))
      val want = kept.drop("rn")
        .orderBy($"l_suppkey", $"l_extendedprice".desc, $"l_orderkey")
        .collect().toSeq
      assert(got == want)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.RowNumberTopKRewrite)
    }
  }

  test("k < 1 is rejected at plan construction, not mid-task") {
    val li = Tables(spark, sf, "lineitem")
    val child = li.queryExecution.analyzed
    def attr(n: String) = child.output.find(_.name == n).get
    intercept[IllegalArgumentException] {
      GroupedTopKNode(Seq(attr("l_suppkey")),
        Seq(SortOrder(attr("l_extendedprice"), Descending)), 0, child)
    }
  }
}
