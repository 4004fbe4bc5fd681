package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the r10 wave-29 operators: time-decay credit weights
  * must follow the exact half-life ladder, and the Hilbert layout must
  * beat the Morton/z-order layout on the metric the audit exists to
  * measure (total per-bucket bounding-box area). */
class Wave29Spec extends AnyFunSuite {
  import TestSpark._

  private def q(name: String) =
    try SparkEntry.queries(name)(spark, sf).collect()
    finally CacheScope.release()

  test("time-decay attribution: weight ladder and bucket bounds") {
    val rows = q("q_attr_timedecay")
    assert(rows.nonEmpty)
    val ladder = Map(0L -> 1000L, 1L -> 500L, 2L -> 250L, 3L -> 125L,
      4L -> 62L)
    rows.foreach { r =>
      val k = r.getAs[Long]("k")
      assert(k >= 0 && k <= 4, s"decay bucket out of 30-day range: $k")
      val n = r.getAs[Long]("n_touches")
      assert(r.getAs[Long]("credit_total") == n * ladder(k),
        s"credit not on the power-of-two ladder: $r")
      assert(Set("view", "click")(r.getAs[String]("event_type")))
    }
  }

  test("hilbert curve: valid index, tighter boxes than z-order") {
    // sf0.01: the geometric claims below (full 0..63 bucket coverage,
    // connected-segment boxes) need the 64x64 grid actually occupied;
    // sf0.001's ~10 suppliers leave most y-rows empty.
    val sf01 = "/root/testdata/sf0.01"
    def q01(name: String) =
      try SparkEntry.queries(name)(spark, sf01).collect()
      finally CacheScope.release()
    val h = q01("q_hilbert_cluster")
    // 64x64 grid -> 4096 curve positions -> 43 buckets of <=96 cells
    assert(h.map(_.getAs[Long]("bucket")).toSet ==
      (0L until 43L).toSet, "hilbert index does not cover 0..4095")
    def area(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getAs[Long]("max_a") - r.getAs[Long]("min_a") + 1) *
        (r.getAs[Long]("max_b") - r.getAs[Long]("min_b") + 1)
    }.sum
    // z-order boxes at the SAME 96-cell bucketing (q_zorder_cluster
    // itself stays on its aligned-tile 64 bucketing, where both curves
    // are trivially 8x8; 96 = 1.5 tiles is where locality differs)
    GraftSession.install(spark)
    val z = Tables(spark, sf01, "lineitem")
      .select((col("l_partkey") % 64).cast("long").as("a"),
        (col("l_suppkey") % 64).cast("long").as("b"))
      .withColumn("bucket", expr("zorder64(a, b) div 96"))
      .groupBy(col("bucket"))
      .agg(min(col("a")).as("min_a"), max(col("a")).as("max_a"),
        min(col("b")).as("min_b"), max(col("b")).as("max_b"))
      .collect()
    val (ha, za) = (area(h), area(z))
    // connectedness of Hilbert segments => strictly tighter bboxes
    // than Morton's jumpy segments on the same filled grid
    // (expected on the full grid: 4640 vs 8576)
    assert(ha < za, s"hilbert total bbox area $ha !< z-order $za")
    // every 96-cell Hilbert segment is connected, so it spans at most
    // two adjacent 8x8 subsquares => bbox area <= 128 (measured max)
    h.foreach { r =>
      val w = r.getAs[Long]("max_a") - r.getAs[Long]("min_a") + 1
      val ht = r.getAs[Long]("max_b") - r.getAs[Long]("min_b") + 1
      assert(w * ht <= 128, s"hilbert bucket box too large: $r")
    }
  }
}
