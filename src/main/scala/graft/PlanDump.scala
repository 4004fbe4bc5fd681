package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Per-query formatted-plan dump for the optimization-round evidence
  * files (`plans/r17/<query>_<suffix>.txt`). Unlike [[Plans]] (one big
  * PLANS.md), this writes one file per query so before/after diffs of a
  * touched query stay reviewable in isolation. Dump at the bench's scale
  * and `SPARK_GRAFT_CPUS`: at a tiny SF size estimates broadcast-convert
  * every join, so the dump would not show the strategies the measured
  * plans pick.
  *
  * Run: sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").toSeq
    val spark = GraftSession.local(logLevel = "ERROR")
    // first line of every dump: what the plan was taken under, so a
    // before/after diff of two dumps describes itself
    val header = s"-- cpus=${spark.sparkContext.defaultParallelism} " +
      s"shuffle.partitions=${spark.conf.get("spark.sql.shuffle.partitions")} " +
      s"sf=$sfDir\n"
    // same explain discipline as Plans: no oracle-replay dumps, so the
    // artifact shows the full lineage instead of /tmp-dependent cache state
    System.setProperty("graft.noDumps", "1")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val p = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), header + p)
      graft.CacheScope.release()
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
