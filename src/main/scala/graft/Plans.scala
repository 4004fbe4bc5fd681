package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dumps the formatted physical plan of every headline query to PLANS.md —
  * the reviewable evidence that each plan has its pushdowns, broadcasts,
  * partial aggregations, and codegen stages where intended (these
  * properties are asserted mechanically in PlanSpec; this artifact makes
  * them human-auditable). Run: sbt "runMain graft.Plans [sfDir] [out]". */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession.local(logLevel = "ERROR")
    // Skip oracle-replay dumps (q_dedup_minhash): the dump is an ACTION at
    // plan-build time that materializes the persisted signature frame, so
    // with it on the explain collapses to an InMemoryTableScan whose shape
    // depends on /tmp state — with it off the artifact always shows the
    // full lineage.
    System.setProperty("graft.noDumps", "1")
    val sb = new StringBuilder
    sb.append("# Physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` over `$sfDir` " +
      "(formatted explain; AQE shown pre-execution).\n")
    // headline set + the scale-pattern queries whose plan shape is the
    // point (blocked simhash join, multi-probe ANN, stream-stream twin)
    val audited = Bench.headline ++ Seq(
      "q_sim_ann_lsh", "q_load_data", "q_decimal_e2e",
      "q_join_asof", "q_join_salted", "q_recursive_cte")
    audited.foreach { name =>
      val p = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n```\n$p```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
