package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.GraftFunctions
import graft.plans.{AsOfJoinStrategy, GroupedTopKStrategy}

/** How a session gets the engine. [[local]] builds the local session that
  * every main and the test suites run on; [[install]] wires the custom
  * functions and planner strategies into any session, the same set
  * [[GraftExtensions]] injects when a session is built with it.
  */
object GraftSession {

  /** Worker threads and shuffle partitions: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Registers every function of [[GraftFunctions.all]] and appends the
    * GroupedTopK and AS-OF strategies unless the session already has
    * them. Idempotent and thread-safe: the read-modify-write of
    * `extraStrategies` runs under the session's `experimental` lock, so
    * concurrent callers never append a strategy twice. Optimizer rules
    * ([[graft.plans.RowNumberTopKRewrite]],
    * [[graft.plans.MaterializedViewRewrite]]) stay extension-only: they
    * would change the plans and tie-breaks of ordinary queries. */
  def install(spark: SparkSession): SparkSession = {
    val x = spark.experimental
    x.synchronized {
      // a name already bound to the table's own builder is left alone,
      // so repeat installs neither replace nor log anything
      val reg = spark.sessionState.functionRegistry
      GraftFunctions.all.foreach { case (name, builder) =>
        if (!reg.lookupFunctionBuilder(FunctionIdentifier(name)).contains(builder))
          reg.createOrReplaceTempFunction(name, builder, "built-in")
      }
      val missing = Seq(GroupedTopKStrategy, AsOfJoinStrategy)
        .filterNot(x.extraStrategies.contains)
      if (missing.nonEmpty) x.extraStrategies = x.extraStrategies ++ missing
    }
    spark
  }

  /** The local session: `local[cpus]` with as many shuffle partitions,
    * UTC, no UI, the given log level and extra confs, then [[install]]. */
  def local(cpus: Int = GraftSession.cpus, logLevel: String = "WARN",
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) =>
        b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    install(spark)
  }
}
