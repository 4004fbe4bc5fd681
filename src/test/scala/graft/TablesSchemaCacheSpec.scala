package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` infers a table file's schema once and reads it with
  * `.schema(...)` afterwards; these pin what the cache key covers. */
class TablesSchemaCacheSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def jobs(body: => Any) = JobCounter(spark.sparkContext)(body)

  /** Writes `df` as one parquet file at `target` (replacing it). */
  private def writeFile(df: DataFrame, target: Path): Unit = {
    val out = Files.createTempDirectory("graft_tables_out")
    df.coalesce(1).write.mode("overwrite").parquet(out.resolve("d").toString)
    val part = Files.list(out.resolve("d")).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).head
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second read of a table file starts no footer job") {
    Tables(spark, sf, "lineitem")
    assert(jobs(Tables(spark, sf, "lineitem")) == 0)
    // the control: inference on the same file does start a job
    assert(jobs(spark.read.parquet(s"$sf/lineitem.parquet")) > 0)
    // still a fresh, correct frame
    assert(Tables(spark, sf, "lineitem").count() ==
      spark.read.parquet(s"$sf/lineitem.parquet").count())
  }

  test("a rewritten table file is inferred again") {
    val dir = Files.createTempDirectory("graft_tables")
    writeFile(Seq((1L, "a")).toDF("k", "v"), dir.resolve("t.parquet"))
    assert(Tables(spark, dir.toString, "t").columns.toSeq == Seq("k", "v"))
    writeFile(Seq((2L, 3.5, "b")).toDF("k", "w", "v"), dir.resolve("t.parquet"))
    val t = Tables(spark, dir.toString, "t")
    assert(t.columns.toSeq == Seq("k", "w", "v"))
    assert(t.collect().map(_.toSeq).toSeq == Seq(Seq(2L, 3.5, "b")))
  }

  test("events.ts has one type whether nanosAsLong was set or not") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      val unset = Tables.events(spark, sf).schema("ts").dataType
      spark.conf.set(key, "true")
      val set = Tables.events(spark, sf).schema("ts").dataType
      assert(unset == TimestampType && set == TimestampType)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a directory table path still reads, and sees new schemas") {
    val dir = Files.createTempDirectory("graft_tables_dir")
    val path = dir.resolve("t.parquet").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(path)
    val t = Tables(spark, dir.toString, "t")
    assert(t.orderBy("k").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, "a"), Seq(2L, "b")))
    Seq((3L, 1.5)).toDF("k", "w").write.mode("overwrite").parquet(path)
    assert(Tables(spark, dir.toString, "t").columns.toSeq == Seq("k", "w"))
  }
}
