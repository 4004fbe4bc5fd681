package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local targeted
    // re-verification; the driver always passes exactly two args)
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, Option.empty[Set[String]])
      case Array(a, b, c) => (a, b, Some(c.split(",").toSet))
    }
    // Scope test-artifact dumps (minhash oracle signatures) NEXT TO this
    // run's outDir BEFORE any query or oracle SQL is built, so concurrent
    // verifies on one box write disjoint trees (VERDICT r8 item 8). A
    // SIBLING of outDir, not inside it: the driver's compare iterates
    // outDir subdirectories as query results, so a dump dir there would
    // read as a bogus query.
    if (!sys.props.contains("graft.dumpDir"))
      sys.props("graft.dumpDir") =
        new java.io.File(outDir.stripSuffix("/") + "_dumps",
          "minhash_sigs").getAbsolutePath
    val spark = GraftSession.local()
    // Oracle-incompatible confs fail FAST (ADVICE r14): these knobs
    // change query OUTPUT (the policy-picked banding, a different IVF
    // cell count) while the DuckDB oracles replay the fixed defaults,
    // so a verify run with one set would red-flag queries that never
    // drifted. Plan-shape knobs (the broadcast limits) stay legal —
    // those paths are bit-identical by contract.
    Seq("spark.graft.minhash.autoBanding", "spark.graft.ivf.cells",
      "spark.graft.audit.sampleShards",
      // r17: q_dedup_semantic's coarse K rides the shared resolver,
      // so the cell-size dial now changes declared output too
      "spark.graft.ivf.targetCellSize")
      .foreach { k =>
        require(spark.conf.getOption(k).isEmpty,
          s"$k is set: this conf changes query output away from the " +
            "fixed-default DuckDB oracles (q_dedup_minhash_tuned / " +
            "the IVF family verify the policy-picked points). Unset " +
            "it for verification runs.")
      }
    FixtureCheck.warn(spark, sfDir) // one readable line per drifted column
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally CacheScope.release() // drop per-invocation persists
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
