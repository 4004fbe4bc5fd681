package graft

import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Graft
import graft.ops.{CorpusOps22, Dedup}

/** [[Dedup.componentsOf]] solves an edge set at or below
  * `spark.sql.autoBroadcastJoinThreshold` by union-find on the driver
  * and a larger one by the pointer-jumping loop. These tests run each
  * input down both paths (the loop with the threshold at -1) and hold
  * them to the same rows under the same schema. */
class ComponentsGateSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val sf01 = new java.io.File(sf).toPath.resolveSibling("sf0.01").toString

  private def withThreshold[T](t: String)(body: => T): T = {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", t)
    try body
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  /** Sorted rows and schema of `cc(edges)`, and whether the result is
    * the loop's last checkpoint (the driver path returns local rows). */
  private def solve(cc: => DataFrame): (Seq[Row], StructType, Boolean) =
    try {
      val df = cc
      (df.orderBy(df.columns.map(col): _*).collect().toSeq, df.schema,
        CacheScope.checkpointRdd(df).isDefined)
    } finally CacheScope.release()

  /** Both paths of `cc`; fails unless they agree. Returns the rows. */
  private def samePaths(cc: => DataFrame): Seq[Row] = {
    val (driverRows, driverSchema, driverLooped) = solve(cc)
    val (loopRows, loopSchema, looped) = withThreshold("-1")(solve(cc))
    assert(!driverLooped && looped, "the gate did not pick both paths")
    assert(driverSchema == loopSchema)
    assert(driverRows == loopRows)
    driverRows
  }

  private def cc(edges: DataFrame) = Dedup.componentsOf(edges)

  private def chain(ids: Seq[Long]) =
    ids.zip(ids.tail).toDF("da", "db")

  test("jaccard pair graphs at sf0.001 and sf0.01: both paths agree") {
    for (dir <- Seq(sf, sf01)) {
      val rows = samePaths(cc(Dedup.jaccardPairs(spark, dir)
        .select(col("da"), col("db"))))
      assert(rows.nonEmpty, dir)
    }
  }

  test("the q_er_clusters match graph: both paths agree") {
    assert(samePaths(cc(CorpusOps22.erPairs(spark, sf01))).nonEmpty)
  }

  test("hand-built graphs: empty, self-loops, duplicates, bridged largest ids, a 64-vertex chain") {
    val empty = samePaths(cc(Seq.empty[(Long, Long)].toDF("da", "db")))
    assert(empty.isEmpty)
    // a self-loop alone is its own component; duplicates change nothing
    val loops = samePaths(cc(Seq((5L, 5L), (7L, 8L), (8L, 7L), (7L, 8L),
      (8L, 8L)).toDF("da", "db")))
    assert(loops == Seq(Row(5L, 5L), Row(7L, 7L), Row(8L, 7L)))
    // {1, 2, 100} and {3, 4, 200} touch only through 100 - 200
    val bridged = samePaths(cc(Seq((1L, 100L), (2L, 100L), (3L, 200L),
      (4L, 200L), (100L, 200L)).toDF("da", "db")))
    assert(bridged.map(_.getLong(1)).distinct == Seq(1L))
    val ids = 1L to 64L
    val chained = samePaths(cc(chain(ids)))
    assert(chained == ids.map(Row(_, 1L)))
  }

  test("string vertices are labeled in UTF-8 order through Graft.connectedComponents") {
    // U+1F600 sorts before U+FF61 in UTF-16 (Java's String order) and
    // after it in UTF-8 (Spark's order), so the label is U+FF61
    val (cjk, emoji) = ("｡", "😀")
    val edges = Seq((emoji, cjk), (emoji, "￼"), ("b", "a")).toDF("s", "d")
    val rows = samePaths(Graft.connectedComponents(edges, "s", "d"))
    assert(rows.map(r => r.getString(0) -> r.getString(1)).toMap == Map(
      "a" -> "a", "b" -> "a", cjk -> cjk, emoji -> cjk, "￼" -> cjk))
  }

  test("binary and double vertices stay on the loop, where Spark compares them") {
    // collected byte arrays compare by identity and boxed doubles tell
    // -0.0 from 0.0, while Spark groups both by value
    val bin = Seq((Array[Byte](2), Array[Byte](1)),
      (Array[Byte](3), Array[Byte](2))).toDF("da", "db")
    val (binRows, _, binLooped) = solve(cc(bin))
    assert(binLooped && binRows.size == 3)
    assert(binRows.forall(_.getAs[Array[Byte]](1).sameElements(Array[Byte](1))))
    val dbl = Seq((-0.0, 1.0), (0.0, 2.0)).toDF("da", "db")
    val (dblRows, _, dblLooped) = solve(cc(dbl))
    assert(dblLooped && dblRows.size == 3 &&
      dblRows.forall(_.getDouble(1) == 0.0))
  }

  test("a null endpoint takes its neighbors' smallest label and joins nothing") {
    // the loop's joins never match a null key, so null is a vertex that
    // keeps the smallest label among the components it touches (null if
    // it touches none) and does not merge them: {1, 2} and {3} stay apart
    val edges = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L),
      (2L, null), (3L, null), (null, null)).toDF("da", "db")
    val rows = samePaths(cc(edges))
    assert(rows == Seq(Row(null, 1L), Row(1L, 1L), Row(2L, 1L),
      Row(3L, 3L)))
    val alone = samePaths(cc(Seq[(java.lang.Long, java.lang.Long)](
      (null, null), (4L, 4L)).toDF("da", "db")))
    assert(alone == Seq(Row(null, null), Row(4L, 4L)))
  }

  test("a small graph too deep for the loop's round cap is solved on the driver") {
    // 0, 63, 62, ..., 1: every seed label points away from 0, so 0
    // travels one hop per round and the loop hits its 20-round cap
    val deep = chain(0L +: (63L to 1L by -1L))
    val (rows, _, _) = solve(cc(deep))
    assert(rows == (0L to 63L).map(Row(_, 0L)))
    val err = intercept[IllegalStateException](
      withThreshold("-1")(solve(cc(deep))))
    assert(err.getMessage.contains("did not converge"))
  }

  test("on the driver path the job count does not grow with the chain or the query's rounds") {
    def jobs(edges: DataFrame) =
      try JobCounter(spark.sparkContext)(cc(edges).collect())
      finally CacheScope.release()
    val two = jobs(chain(Seq(1L, 2L)))
    assert(two > 0)
    assert(jobs(chain(1L to 64L)) == two)
    // warm q_dedup_components at sf0.01: 25 jobs at the loop-only parent
    def query() =
      try JobCounter(spark.sparkContext)(
        SparkEntry.queries("q_dedup_components")(spark, sf01).collect())
      finally CacheScope.release()
    query()
    val warm = Seq(query(), query())
    assert(warm.forall(_ <= 10), warm)
  }
}
