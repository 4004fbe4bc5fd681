package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.plans.{AsOfJoinStrategy, GroupedTopKStrategy}

/** [[GraftSession.install]] is the one way functions and strategies reach
  * a session: idempotent under concurrent callers, and implied by every
  * `SparkEntry.queries` builder. */
class GraftSessionSpec extends AnyFunSuite {
  import TestSpark._

  test("concurrent installs append each strategy exactly once") {
    val s = spark.newSession()
    val go = new CountDownLatch(1)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 8).map(_ => new Thread(() =>
      try { go.await(); GraftSession.install(s) }
      catch { case e: Throwable => errors.add(e) }))
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join())
    assert(errors.isEmpty, errors)
    Seq(GroupedTopKStrategy, AsOfJoinStrategy).foreach { st =>
      assert(s.experimental.extraStrategies.count(_ == st) == 1, st)
    }
    GraftFunctions.all.foreach { case (name, _) =>
      assert(s.catalog.functionExists(name), name)
    }
  }

  test("queries run on a fresh session with no other setup") {
    val s = spark.newSession()
    assert(!s.catalog.functionExists("edit_dl"))
    assert(s.experimental.extraStrategies.isEmpty)
    Seq("q_fn_edit_dl", "q_udf_field").foreach { q =>
      assert(SparkEntry.queries(q)(s, sf).collect().nonEmpty, q)
    }
  }
}
