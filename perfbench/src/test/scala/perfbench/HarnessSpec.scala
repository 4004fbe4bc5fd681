package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse}
import org.scalatest.funsuite.AnyFunSuite

/** Self-test of the harness (run with `sbt test` inside perfbench/). */
class HarnessSpec extends AnyFunSuite {
  private val bench = new File(sys.props.getOrElse("perfbench.dir", "."))
  private lazy val work = new File(bench, ".work/selftest")
  private lazy val spark: SparkSession = Harness.newSession(work)

  test("one seed always gives the same order; two seeds give different orders") {
    for (wl <- Workloads.all) {
      for (pass <- 0 to 3) {
        val a = Harness.order(wl.queries, 1, pass)
        assert(a == Harness.order(wl.queries, 1, pass))
        assert(a.sorted == wl.queries.sorted)
      }
      val bySeed = (1 to 4).map(seed => (0 to 3).map(Harness.order(wl.queries, seed, _)))
      assert(bySeed.distinct.size == bySeed.size, s"${wl.name}: two seeds gave the same orders")
    }
  }

  test("the block census sees persisted data until it is released") {
    val run = new Run(spark, opts(Workload("adhoc", "noop", "sf0.01", 1, Seq("q_eval_elo")), trace = false))
    val df = spark.range(10000).toDF("id").persist()
    df.count()
    val (blocks, bytes, rdds) = run.held
    assert(blocks > 0 && bytes > 0 && rdds == 1)
    df.unpersist(blocking = true)
    assert(run.held == ((0, 0L, 0)))
  }

  test("no timed query starts with blocks held, though the queries persist") {
    val wl = Workload("adhoc", "noop", "sf0.01", 1, Seq("q_bpe_train", "q_eval_elo"))
    val out = parse(new Run(spark, opts(wl, trace = true)).all(0.0))
    def metric(name: String): Double = out \ "metrics" \ name \ "value" match {
      case JDouble(v) => v
      case other => fail(s"no $name in ${compact(out)}: $other")
    }
    assert(out \ "correct" == JBool(true), compact(out))
    assert(out \ "failed" == JInt(0), compact(out))
    assert(metric("cache.peak_mb") > 0, "the queries persisted nothing; the guard went unexercised")
    assert(metric("cache.held_at_start_mb") == 0.0)
  }

  private def opts(wl: Workload, trace: Boolean) = Harness.Opts(
    wl, seed = 1, seconds = 0, trace = trace,
    fixtures = new File(bench, "fixtures").getAbsolutePath, work = work,
    expected = new File(bench, "expected.json"), record = false)
}
