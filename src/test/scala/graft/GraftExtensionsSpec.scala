package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SparkSessionExtensions deployment path: a FRESH session built with
  * `.withExtensions(new GraftExtensions)` gets every custom function of
  * `GraftFunctions.all` and the planner strategies with no registration.
  *
  * A SparkSession with extensions must be the first in its JVM
  * (getOrCreate reuses the suite-shared session and ignores extensions,
  * and stopping the shared context would kill the other suites), so this
  * spec drives a child JVM running [[ExtCheckMain]] with the same
  * classpath and module flags as the test JVM.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("withExtensions wires functions + strategy into a fresh session") {
    import scala.jdk.CollectionConverters._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports"))
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq(
      "-Xmx2g", "-cp", System.getProperty("java.class.path"),
      "graft.ExtCheckMain")
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes())
    val rc = proc.waitFor()
    assert(rc == 0 && out.contains("EXTCHECK_OK"), out.takeRight(4000))
  }
}

/** Child-JVM probe for GraftExtensionsSpec. */
object ExtCheckMain {
  def main(args: Array[String]): Unit = {
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // every name of the one function table resolves with no registration
    val missing = graft.functions.GraftFunctions.all.map(_._1)
      .filterNot(s.catalog.functionExists)
    require(missing.isEmpty, s"not injected: $missing")
    val dl = s.sql(
      """SELECT edit_dl('abcd', 'acbd') AS t, edit_dl('kitten', 'sitting') AS k""")
      .collect().head
    require(dl.getInt(0) == 1 && dl.getInt(1) == 3, s"edit_dl: $dl")
    val wavg = s.sql(
      """SELECT wavg(x, w) FROM VALUES (1.0D, 1L), (3.0D, 3L) AS t(x, w)""")
      .collect().head.getDouble(0)
    require(wavg == 2.5, s"wavg: $wavg")
    val r = s.sql(
      """SELECT field('b', 'a', 'b') AS f,
                dotq(array(1L, 2L), array(3L, 4L)) AS d""").collect().head
    require(r.getInt(0) == 2 && r.getLong(1) == 11L, "scalar functions")
    val mh = s.sql(
      """SELECT size(minhash32(h)) FROM
         (SELECT xxhash64(CAST(id AS STRING)) AS h FROM range(100))""")
      .collect().head.getInt(0)
    require(mh == 32, "minhash aggregate")
    val kmv = s.sql(
      """SELECT size(kmv(xxhash64(CAST(id AS STRING)), 64)) FROM range(100)""")
      .collect().head.getInt(0)
    require(kmv == 64, s"kmv sketch via extensions: $kmv")
    val host = s.sql(
      """SELECT t.host FROM (SELECT 'https://x.example.com/p?q=1' AS u)
         LATERAL VIEW parse_url_tuple(u) t AS pr, host, pa, q""")
      .collect().head.getString(0)
    require(host == "x.example.com", "generator")
    // optimizer rule: a plain SQL QUALIFY-style top-k-per-group lowers to
    // the GroupedTopK operator with zero user-side registration
    val topk = s.sql(
      """SELECT g, v FROM (
           SELECT id % 5 AS g, id AS v,
             row_number() OVER (PARTITION BY id % 5 ORDER BY id DESC) AS rn
           FROM range(1000)) WHERE rn <= 2""")
    require(topk.queryExecution.executedPlan.toString
      .contains("GroupedTopKPartial"), "optimizer rule did not fire:\n" +
      topk.queryExecution.executedPlan)
    require(topk.collect().map(r => r.getLong(1)).sorted.toSeq ==
      (990L to 999L).toSeq, "rewritten top-k rows wrong")
    println("EXTCHECK_OK")
    s.stop()
  }
}
