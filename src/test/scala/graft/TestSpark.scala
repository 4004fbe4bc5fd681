package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (SURVEY.md §5.2). The suites
  * pin 8 threads and partitions whatever `SPARK_GRAFT_CPUS` says, so test
  * plans and timings do not move with the host's core count. */
object TestSpark {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toFile
    wh.deleteOnExit()
    GraftSession.local(cpus = 8, logLevel = "ERROR",
      conf = Map("spark.sql.warehouse.dir" -> wh.getAbsolutePath))
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with the graph family's one join-path limit set:
    * 0 forces every graph operator onto its shuffle path,
    * `Long.MaxValue` onto broadcast. */
  def withEdgeLimit[T](limit: Long)(body: => T): T = {
    spark.conf.set("spark.graft.graph.broadcastEdgeLimit", limit.toString)
    try body finally spark.conf.unset("spark.graft.graph.broadcastEdgeLimit")
  }
}
