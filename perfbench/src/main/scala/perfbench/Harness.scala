package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse => parseJson, pretty}

import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CacheScope, SparkEntry}

/** Released-cache, closed-loop benchmark over one workload.
  *
  * One client, one query at a time: each declared query is built through
  * `SparkEntry.queries(name)(spark, fixtures)` and then materialized into
  * the workload's sink. After every query the harness calls
  * `CacheScope.release()` and waits until Spark holds no persisted blocks,
  * so every timed execution pays what a one-shot user pays. The seed only
  * permutes the query order within each pass.
  *
  * Pass 0 is the cold pass; it also yields every result's row count and
  * hash (a `parquet` workload reads back the files it wrote), which are
  * checked against the recorded values. Warm passes follow until
  * `--seconds` have elapsed since pass 0 began and the workload's warm
  * pass count is reached. The last stdout line is the result object.
  */
object Harness {
  /** Longest wait for released blocks before the query counts as leaking. */
  val ReleaseTimeoutMs = 30000L

  /** `fixtures` is the directory holding one subdirectory per scale. */
  final case class Opts(
      workload: Workload, seed: Long, seconds: Double, trace: Boolean,
      fixtures: String, work: File, expected: File, record: Boolean,
      train: Boolean = false)

  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    val m = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad option '$k'")
      k.drop(2) -> v
    }.toMap
    val known = Set("workload", "queries", "seed", "seconds", "trace",
      "fixtures", "work", "expected", "record", "train")
    require(m.keySet.subsetOf(known), s"unknown options ${(m.keySet -- known).mkString(", ")}")
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val train = m.get("train").contains("1")
    val wl = m.get("queries") match {
      case Some(qs) => Workload("adhoc", "noop", "sf0.1", 1,
        qs.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case None if train => Workloads.all.head
      case None => Workloads(need("workload"))
    }
    val unknown = wl.queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"undeclared queries: ${unknown.mkString(", ")}")
    val work = new File(need("work")).getAbsoluteFile
    Opts(wl, m.getOrElse("seed", "0").toLong, m.getOrElse("seconds", "0").toDouble,
      m.get("trace").contains("1"), new File(need("fixtures")).getAbsolutePath, work,
      new File(m.getOrElse("expected", new File(work, "expected.json").getPath)),
      m.get("record").contains("1"), train)
  }

  /** The order of one pass: a seeded permutation of the workload. */
  def order(queries: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  def cpus: Int = Runtime.getRuntime.availableProcessors

  def newSession(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.range(1000).selectExpr("sum(id)").collect() // same warm-up as graft.Bench
    s
  }

  /** Fixed-work, no-I/O task: sort 1M pseudo-random longs on one thread. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    val a = new Array[Long](1 << 20)
    var x = 42L
    var i = 0
    while (i < a.length) { x = x * 6364136223846793005L + 1442695040888963407L; a(i) = x; i += 1 }
    java.util.Arrays.sort(a)
    require(a(0) <= a(a.length - 1))
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  def deleteTree(f: File): Unit = if (f.exists()) {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Class-data-sharing training: one cold pass of every workload, so
    * that the JVM running it can archive every class a measured run
    * loads. A failing query or workload only costs the archive its
    * classes; failures are counted by the measured runs. */
  def train(o: Opts): Unit = {
    val spark = newSession(o.work)
    for (wl <- Workloads.all) {
      try new Run(spark, o.copy(workload = wl)).runPass(0)
      catch {
        case t: Throwable =>
          System.err.println(s"[perfbench] training on ${wl.name} failed: ${t.getClass.getName}: ${t.getMessage}")
      }
    }
    spark.stop()
  }

  def jsonStr(kv: Iterable[(String, String)]): JObject =
    JObject(kv.map { case (k, v) => k -> (JString(v): JValue) }.toList)

  def jsonNum(d: Double): JDouble = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    JDouble(d)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    o.work.mkdirs()
    System.setProperty("graft.noDumps", "1")
    System.setProperty("graft.dumpDir", new File(o.work, "dumps").getPath)
    if (o.train) { train(o); sys.exit(0) }

    val spark = newSession(o.work)
    val setup = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val run = new Run(spark, o)
    val env = Map(
      "workload" -> o.workload.name, "seed" -> o.seed.toString,
      "cpus" -> cpus.toString,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "spark" -> spark.version,
      "commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
      "fixtures" -> run.fixtures, "trace" -> (if (o.trace) "1" else "0"))
    System.err.println("[perfbench] env " + compact(jsonStr(env)))
    val result = run.all(setup)
    Files.writeString(new File(o.work, s"trace-${o.workload.name}-${o.seed}.json").toPath,
      compact(JObject("env" -> jsonStr(env), "spans" -> run.spansJson)))
    spark.stop()
    println(result)
  }
}

/** One benchmark run: timed passes, optional tracing, output check. */
final class Run(spark: SparkSession, o: Harness.Opts) {
  import Harness._

  val fixtures: String = new File(o.fixtures, o.workload.scale).getPath
  private val sc = spark.sparkContext
  private val wl = o.workload
  private val outDir = new File(o.work, "out")
  private val builders = wl.queries.map(q => q -> SparkEntry.queries(q)).toMap

  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var failures = 0
  private var attempted = 0
  private var peakCachedBytes = 0L
  private var heldAtStart = 0L
  private val cachedBytes = ArrayBuffer.empty[(Int, Long, Int)] // pass, bytes, rdds
  private val outputBytes = ArrayBuffer.empty[(Int, Long, Int)] // pass, bytes, files
  private val gcMs = ArrayBuffer.empty[(Int, Long)]
  private val digests = scala.collection.mutable.Map.empty[String, Digest.Result]
  private val failedCold = scala.collection.mutable.Set.empty[String]
  private val tracer = new Tracer

  private def now = (System.nanoTime(), System.currentTimeMillis())

  private def timed[T](kind: String, q: String, pass: Int, parent: Long)(body: Long => T): (T, Span) = {
    nextId += 1
    val id = nextId
    val (s0, m0) = now
    val r = body(id)
    val (s1, m1) = now
    val span = Span(id, parent, kind, q, pass, s0, s1, m0, m1)
    spans += span
    (r, span)
  }

  private def layer[T](kind: String, q: String, pass: Int, parent: Long)(body: => T): (T, Span) =
    timed(kind, q, pass, parent) { id =>
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      try body finally sc.setLocalProperty(Tracer.SpanKey, null)
    }

  private def gcTotalMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** RDD blocks, their bytes and persisted RDDs still held by Spark. */
  private[perfbench] def held: (Int, Long, Int) = {
    val (blocks, bytes) = PerfbenchAccess.rddBlocks(sc)
    (blocks, bytes, sc.getPersistentRDDs.size)
  }

  /** Wait until no persisted data is left; false on timeout. */
  private def awaitReleased(): Boolean = {
    val deadline = System.currentTimeMillis() + ReleaseTimeoutMs
    def clean = { val (b, _, r) = held; b == 0 && r == 0 && spark.sharedState.cacheManager.isEmpty }
    while (!clean && System.currentTimeMillis() < deadline) Thread.sleep(2)
    clean
  }

  private def sink(df: DataFrame, q: String): Unit = wl.sink match {
    case "noop" => df.write.mode("overwrite").format("noop").save()
    case "parquet" => df.write.mode("overwrite").parquet(new File(outDir, q).getPath)
  }

  /** One closed-loop execution: build, action, then release and wait.
    * The cold pass of a `noop` workload uses the digest as its action. */
  private def runQuery(q: String, pass: Int): Unit = {
    attempted += 1
    val (b0, bytes0, r0) = held
    if (b0 > 0 || r0 > 0) {
      heldAtStart = math.max(heldAtStart, bytes0 max 1L)
      System.err.println(s"[perfbench] $q started with $b0 blocks / $r0 persisted RDDs held")
    }
    timed("query", q, pass, 0L) { root =>
      val gc0 = gcTotalMs
      try {
        val (df, b) = layer("build", q, pass, root)(builders(q)(spark, fixtures))
        val (_, e) = layer("exec", q, pass, root) {
          if (pass == 0 && wl.sink == "noop") digests(q) = Digest(df) else sink(df, q)
        }
        System.err.println(f"[perfbench] pass $pass $q ${(e.endNs - b.startNs) / 1e9}%.3f s (build ${b.seconds}%.3f s)")
      } catch {
        case t: Throwable =>
          failures += 1
          if (pass == 0) failedCold += q
          System.err.println(s"[perfbench] $q failed: ${t.getClass.getName}: ${t.getMessage}")
      }
      gcMs += pass -> (gcTotalMs - gc0)
      val (_, bytes, rdds) = held
      cachedBytes += ((pass, bytes, rdds))
      peakCachedBytes = math.max(peakCachedBytes, bytes)
      if (wl.sink == "parquet") {
        val files = Option(new File(outDir, q).listFiles).toSeq.flatten
          .filter(f => f.isFile && f.getName.startsWith("part-"))
        outputBytes += ((pass, files.map(_.length).sum, files.size))
      }
      val (ok, _) = layer("release", q, pass, root) {
        CacheScope.release()
        awaitReleased()
      }
      if (!ok) {
        failures += 1
        System.err.println(s"[perfbench] $q left persisted blocks after release")
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
    }
  }

  private[perfbench] def runPass(pass: Int): Double = {
    if (wl.sink == "parquet") deleteTree(outDir)
    System.gc() // a pass should not pay for the garbage of the one before
    val t0 = System.nanoTime()
    order(wl.queries, o.seed, pass).foreach(runQuery(_, pass))
    (System.nanoTime() - t0) / 1e9
  }

  /** Untimed read-back of the files the cold pass of a `parquet` workload wrote. */
  private def readBack(): Unit = wl.queries.filterNot(failedCold).foreach { q =>
    try digests(q) = Digest(spark.read.parquet(new File(outDir, q).getPath))
    catch {
      case t: Throwable =>
        System.err.println(s"[perfbench] read-back of $q failed: ${t.getClass.getName}: ${t.getMessage}")
    }
  }

  def all(setup: Double): String = {
    val calibStart = calibrate()
    val passWall = ArrayBuffer.empty[(Int, Boolean, Double)] // pass, traced, seconds
    val t0 = System.nanoTime()
    passWall += ((0, false, runPass(0)))
    if (wl.sink == "parquet") readBack()
    // traced runs keep the first warm pass untraced, as it is still warming
    // up, then alternate traced and untraced passes and need one of each
    val minPasses = 1 + (if (o.trace) math.max(3, wl.warmPasses) else wl.warmPasses)
    var pass = 1
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val traced = o.trace && pass % 2 == 0
      if (traced) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
      val secs = runPass(pass)
      if (traced) {
        PerfbenchAccess.drainListenerBus(sc)
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      passWall += ((pass, traced, secs))
      pass += 1
    }
    val calibEnd = calibrate()
    val mismatched = checkAgainstExpected(digests.toMap.map { case (q, r) => s"${wl.scale}/$q" -> r })
    val failed = failures + mismatched.count(q => !failedCold(q.split('/').last))
    val metrics =
      if (!o.trace) endToEnd(setup, passWall.toSeq)
      else perLayer(passWall.toSeq, calibStart, calibEnd)
    compact(JObject(
      "correct" -> JBool(failed == 0 && heldAtStart == 0),
      "attempted" -> JInt(attempted),
      "failed" -> JInt(failed),
      "metrics" -> JObject(metrics.map { case (k, (v, unit)) =>
        k -> (JObject("value" -> jsonNum(v), "unit" -> JString(unit)): JValue)
      }.toList)))
  }

  /** Reads `{"<scale>/<query>": {"rows": n, "hash": "hex"}, ...}`. */
  private def readExpected(): Map[String, Digest.Result] =
    if (!o.expected.exists()) Map.empty
    else parseJson(Files.readString(o.expected.toPath)) match {
      case JObject(fields) => fields.map {
        case (q, JObject(List(("rows", JInt(rows)), ("hash", JString(hash))))) =>
          q -> Digest.Result(rows.toLong, hash)
        case (q, v) => throw new IllegalArgumentException(s"bad entry $q: ${compact(v)} in ${o.expected}")
      }.toMap
      case other => throw new IllegalArgumentException(s"${o.expected} is not an object: ${compact(other)}")
    }

  /** Names of the queries whose digest differs from the recorded one. */
  private def checkAgainstExpected(got: Map[String, Digest.Result]): Seq[String] = {
    if (o.record) {
      val merged = (readExpected() ++ got).toSeq.sortBy(_._1)
      Files.writeString(o.expected.toPath, pretty(JObject(merged.map { case (q, r) =>
        q -> (JObject("rows" -> JInt(r.rows), "hash" -> JString(r.hash)): JValue)
      }.toList)) + "\n")
    }
    val expected = readExpected()
    // an ad-hoc query with nothing recorded is reported, not failed
    wl.queries.sorted.map(q => s"${wl.scale}/$q")
      .filterNot(q => got.get(q).isDefined && got.get(q) == expected.get(q))
      .filter(q => expected.contains(q) || wl.name != "adhoc").map { q =>
      System.err.println(s"[perfbench] check $q: got ${got.get(q).map(r => s"rows=${r.rows} hash=${r.hash}").getOrElse("no result")}, " +
        s"expected ${expected.get(q).map(e => s"rows=${e.rows} hash=${e.hash}").getOrElse("nothing recorded")}")
      q
    }
  }

  private def endToEnd(setup: Double, passes: Seq[(Int, Boolean, Double)]): Seq[(String, (Double, String))] = {
    System.err.println(f"[perfbench] setup $setup%.3f s; " +
      f"passes ${passes.map(p => f"${p._3}%.2f").mkString(" ")} s")
    Seq(
      "setup_s" -> (setup, "s"),
      "pass_s" -> (median(passes.drop(1).map(_._3)), "s"),
      "first_pass_s" -> (passes.head._3, "s"))
  }

  /** Each planning record with the build or exec span whose wall-clock
    * interval holds its start. */
  private def placedPlans: Seq[(Span, Planned)] = {
    val inner = spans.filter(s => s.kind == "build" || s.kind == "exec")
    tracer.planned.asScala.toSeq.flatMap(p =>
      inner.find(s => p.startMs >= s.startMs && p.startMs <= s.endMs).map(_ -> p))
  }

  /** Every span, with the Spark work and planning time traced to it. */
  def spansJson: JArray = {
    val planMs = placedPlans.groupMapReduce(_._1.id)(_._2.planMs)(_ + _)
    JArray(spans.toList.map { s =>
      val w = tracer.work.get(s.id).toList.flatMap(w => List[JField](
        "jobs" -> JInt(w.jobs), "stages" -> JInt(w.stages), "tasks" -> JInt(w.tasks),
        "task_cpu_s" -> jsonNum(w.taskCpuNs / 1e9),
        "shuffle_write_mb" -> jsonNum(w.shuffleWriteBytes / 1048576.0)))
      JObject(List[JField]("id" -> JInt(s.id), "parent" -> JInt(s.parent), "kind" -> JString(s.kind),
        "query" -> JString(s.query), "pass" -> JInt(s.pass),
        "start_ms" -> JInt(s.startMs), "seconds" -> jsonNum(s.seconds)) ++
        planMs.get(s.id).map(ms => "plan_s" -> jsonNum(ms / 1e3)) ++ w)
    })
  }

  private def perLayer(passes: Seq[(Int, Boolean, Double)],
                       calibStart: Double, calibEnd: Double): Seq[(String, (Double, String))] = {
    val tracedPasses = passes.filter(_._2).map(_._1).toSet
    val untracedWarm = passes.drop(2).filterNot(_._2).map(_._3)
    val n = tracedPasses.size.toDouble
    val ts = spans.filter(s => tracedPasses(s.pass)).toSeq
    def kind(k: String) = ts.filter(_.kind == k)
    def sumS(k: String) = kind(k).map(_.seconds).sum / n
    def work(k: String)(f: SpanWork => Long): Double =
      kind(k).flatMap(s => tracer.work.get(s.id)).map(f).sum / n
    val plans = placedPlans.filter(p => tracedPasses(p._1.pass))
    def planS(k: String) = plans.filter(_._1.kind == k).map(_._2.planMs).sum / 1e3 / n
    val buildS = sumS("build"); val execS = sumS("exec"); val releaseS = sumS("release")
    val queryS = sumS("query")
    val taskRunS = work("exec")(_.taskRunMs) / 1e3
    val commitS = kind("exec").flatMap(s => tracer.work.get(s.id).filter(_.lastJobEndMs > 0)
      .map(w => math.max(0L, s.endMs - w.lastJobEndMs))).sum / 1e3 / n
    val resultRows = digests.values.map(_.rows).filter(_ > 0).sum.toDouble
    val inputRows = work("build")(_.inputRows) + work("exec")(_.inputRows)
    val mb = 1048576.0
    val cache = cachedBytes.filter(c => tracedPasses(c._1))
    val out = outputBytes.filter(c => tracedPasses(c._1))
    Seq(
      "ops.build_s" -> (buildS, "s"),
      "ops.self_s" -> (buildS - planS("build"), "s"),
      "ops.build_jobs" -> (work("build")(_.jobs), "count"),
      "ops.build_share" -> (buildS / (buildS + execS), "ratio"),
      "plan.plan_s" -> (planS("build") + planS("exec"), "s"),
      "plan.nodes" -> (plans.map(_._2.nodes.toDouble).sum / n, "count"),
      "exec.exec_s" -> (execS, "s"),
      "exec.self_s" -> (execS - planS("exec"), "s"),
      "exec.jobs" -> (work("exec")(_.jobs), "count"),
      "exec.stages" -> (work("exec")(_.stages), "count"),
      "exec.tasks" -> (work("exec")(_.tasks), "count"),
      "exec.task_cpu_s" -> (work("exec")(_.taskCpuNs) / 1e9, "s"),
      "exec.idle_core_s" -> (execS * cpus - taskRunS, "s"),
      "exec.shuffle_write_mb" -> (work("exec")(_.shuffleWriteBytes) / mb, "MB"),
      "exec.shuffle_read_mb" -> (work("exec")(_.shuffleReadBytes) / mb, "MB"),
      "exec.spill_mb" -> (work("exec")(_.spillBytes) / mb, "MB"),
      "exec.gc_s" -> (gcMs.filter(g => tracedPasses(g._1)).map(_._2).sum / 1e3 / n, "s"),
      "scan.input_mb" -> ((work("build")(_.inputBytes) + work("exec")(_.inputBytes)) / mb, "MB"),
      "scan.input_rows" -> (inputRows, "count"),
      "scan.rows_per_result" -> (if (resultRows > 0) inputRows / resultRows else 0.0, "ratio"),
      "cache.persisted_mb" -> (cache.map(_._2).sum / mb / n, "MB"),
      "cache.peak_mb" -> (peakCachedBytes / mb, "MB"),
      "cache.rdds" -> (cache.map(_._3.toDouble).sum / n, "count"),
      "cache.release_s" -> (releaseS, "s"),
      "cache.held_at_start_mb" -> (heldAtStart / mb, "MB"),
      "sink.output_mb" -> (out.map(_._2).sum / mb / n, "MB"),
      "sink.output_rows" -> (work("exec")(_.outputRows), "count"),
      "sink.files" -> (out.map(_._3.toDouble).sum / n, "count"),
      "sink.commit_s" -> (commitS, "s"),
      "harness.query_s" -> (queryS, "s"),
      "harness.unaccounted_s" -> (queryS - buildS - execS - releaseS, "s"),
      "harness.calib_start_s" -> (calibStart, "s"),
      "harness.calib_end_s" -> (calibEnd, "s"),
      "harness.trace_overhead" ->
        (median(passes.filter(_._2).map(_._3)) / median(untracedWarm), "ratio"))
  }
}
