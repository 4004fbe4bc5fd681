package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom sort-merge AS-OF operator (plans/AsOfJoin.scala):
  * result equality against the window formulation, plan shape, and
  * the null/no-match edge. */
class AsOfJoinSpec extends AnyFunSuite {
  import TestSpark._

  test("custom as-of join == tagged-union window formulation, row for row") {
    val custom = SparkEntry.queries("q_join_asof_custom")(spark, sf)
      .collect().toSeq
    val window = SparkEntry.queries("q_join_asof")(spark, sf)
      .collect().toSeq
    assert(custom.nonEmpty && custom == window,
      s"custom ${custom.size} rows != window ${window.size}")
  }

  test("plan: AsOfJoinExec with per-side sorts, no union, no window") {
    val p = SparkEntry.queries("q_join_asof_custom")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), p)
    // the whole point vs the composable spelling: no union-wide stream,
    // no window lattice — each side sorted independently
    assert(!p.contains("Union"), p)
    assert(!p.contains("Window"), p)
    assert("Sort ".r.findAllIn(p).size >= 2, p)
  }

  test("custom as-of == reference on generated data (dup times, null keys)") {
    // Edges the fixture never exercises: duplicate right timestamps per
    // key (the tiebreak must decide deterministically), duplicate LEFT
    // timestamps, null keys on both sides (window partitioning groups
    // nulls — the operator must too), and keys present on one side only.
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(20260814L)
    def gen(n: Int, idBase: Long) = (0 until n).map { i =>
      val k: java.lang.Long =
        if (rnd.nextInt(10) == 0) null
        else java.lang.Long.valueOf(rnd.nextInt(6).toLong)
      (k, rnd.nextInt(8).toLong, idBase + i)
    }
    val lRows = gen(120, 1000)
    val rRows = gen(80, 5000)
    val lDf = lRows.toDF("k", "t", "lid")
    val rDf = rRows.toDF("k", "t", "rid")
      .select(col("k").as("rk"), col("t").as("rt"), col("rid"))
    // reference: tagged union + last-ignoring-nulls window, rid as the
    // same-time tiebreak the operator is given
    val tagged = lDf.withColumn("rid", lit(null).cast("long"))
      .withColumn("is_r", lit(0)).withColumn("srt", lit(Long.MaxValue))
      .unionByName(rDf.select(col("rk").as("k"), col("rt").as("t"),
        col("rid")).withColumn("lid", lit(null).cast("long"))
        .withColumn("is_r", lit(1)).withColumn("srt", col("rid")))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t"), col("is_r").desc, col("srt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = tagged
      .withColumn("asof_rid", last(col("rid"), ignoreNulls = true).over(w))
      .filter(col("is_r") === 0)
      .select(col("lid"), col("asof_rid"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val lPlan = lDf.queryExecution.analyzed
    val rPlan = rDf.queryExecution.analyzed
    def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        n: String) = p.output.find(_.name == n).get
    GraftSession.install(spark)
    val node = graft.plans.AsOfJoinNode(lPlan, rPlan,
      leftKeys = Seq(a(lPlan, "k")), rightKeys = Seq(a(rPlan, "rk")),
      leftTime = a(lPlan, "t"), rightTime = a(rPlan, "rt"),
      rightTiebreak = Seq(SortOrder(a(rPlan, "rid"), Ascending)))
    val got = org.apache.spark.sql.graft.PlanBridge.ofRows(spark, node)
      .select(col("lid"), col("rid"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got.size == lRows.size)
    val diffs = want.keys.filter(k => want(k) != got(k))
    assert(diffs.isEmpty,
      diffs.take(5).map(k => s"lid=$k want=${want(k)} got=${got(k)}")
        .mkString(", "))
  }

  test("left rows with no at-or-before match emit null, not a dropped row") {
    // every click by a user whose FIRST purchase is later (or who never
    // purchases) must still appear with asof_pid null
    val ev = Tables(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click").count()
    val out = SparkEntry.queries("q_join_asof_custom")(spark, sf)
    assert(out.count() == clicks, "as-of join must preserve every left row")
    assert(out.filter(col("asof_pid").isNull).count() > 0,
      "fixture should contain clicks before any purchase")
  }

  test("forward custom as-of == FOLLOWING-window formulation, row for row") {
    val custom = SparkEntry.queries("q_join_asof_forward_custom")(spark, sf)
      .collect().toSeq
    val window = SparkEntry.queries("q_join_asof_forward")(spark, sf)
      .collect().toSeq
    assert(custom.nonEmpty && custom == window,
      s"custom ${custom.size} rows != window ${window.size}")
  }

  test("forward == reference on generated data (dup times, null keys)") {
    // mirror of the backward generated-data proof: earliest right row
    // at-or-after, ties on equal right time resolved by LOWEST rid
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(20260815L)
    def gen(n: Int, idBase: Long) = (0 until n).map { i =>
      val k: java.lang.Long =
        if (rnd.nextInt(10) == 0) null
        else java.lang.Long.valueOf(rnd.nextInt(6).toLong)
      (k, rnd.nextInt(8).toLong, idBase + i)
    }
    val lRows = gen(120, 1000)
    val rRows = gen(80, 5000)
    val lDf = lRows.toDF("k", "t", "lid")
    val rDf = rRows.toDF("k", "t", "rid")
      .select(col("k").as("rk"), col("t").as("rt"), col("rid"))
    // reference: tagged union, FOLLOWING frame, first-ignoring-nulls;
    // right rows sort AFTER left on equal t (inclusive >=), rid asc
    val tagged = lDf.withColumn("rid", lit(null).cast("long"))
      .withColumn("is_r", lit(0)).withColumn("srt", lit(Long.MinValue))
      .unionByName(rDf.select(col("rk").as("k"), col("rt").as("t"),
        col("rid")).withColumn("lid", lit(null).cast("long"))
        .withColumn("is_r", lit(1)).withColumn("srt", col("rid")))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t"), col("is_r"), col("srt"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val want = tagged
      .withColumn("next_rid", first(col("rid"), ignoreNulls = true).over(w))
      .filter(col("is_r") === 0)
      .select(col("lid"), col("next_rid"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val got = api.Graft.asofJoin(lDf, rDf, Seq("k"), Seq("rk"),
        "t", "rt", Seq("rid"), forward = true)
      .select(col("lid"), col("rid"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got.size == lRows.size)
    val diffs = want.keys.filter(k => want(k) != got(k))
    assert(diffs.isEmpty,
      diffs.take(5).map(k => s"lid=$k want=${want(k)} got=${got(k)}")
        .mkString(", "))
  }

  test("forward edges: no later match emits null; boundary + tolerance") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (1L, 25L, 101L), (2L, 5L, 102L))
      .toDF("k", "t", "lid")
    val right = Seq((1L, 10L, 900L), (1L, 20L, 901L))
      .toDF("rk", "rt", "rid")
    def run(tol: Option[Long]) =
      api.Graft.asofJoin(left, right, Seq("k"), Seq("rk"),
          "t", "rt", Seq("rid"), toleranceUs = tol, forward = true)
        .orderBy(col("lid")).select(col("lid"), col("rid")).collect()
        .map(r => (r.getLong(0), Option(r.getAs[Any]("rid")))).toSeq
    // exact boundary rt == t matches; t past the last right emits null;
    // a key absent on the right emits null
    assert(run(None) == Seq((100L, Some(900L)), (101L, None), (102L, None)))
    // tolerance: rt - t <= tol; 900 is 0 away from lid 100
    val tolLeft = Seq((1L, 15L, 200L), (1L, 16L, 201L)).toDF("k", "t", "lid")
    val gotTol = api.Graft.asofJoin(tolLeft, right, Seq("k"), Seq("rk"),
        "t", "rt", Seq("rid"), toleranceUs = Some(5L), forward = true)
      .orderBy(col("lid")).select(col("lid"), col("rid")).collect()
      .map(r => (r.getLong(0), Option(r.getAs[Any]("rid")))).toSeq
    // lid 200: next right at 20, gap 5 == tol -> kept; lid 201: gap 4? no:
    // 20 - 16 = 4 <= 5 -> kept too; push past: t=26 has no next at all
    assert(gotTol == Seq((200L, Some(901L)), (201L, Some(901L))))
    val past = api.Graft.asofJoin(Seq((1L, 14L, 300L)).toDF("k", "t", "lid"),
        right, Seq("k"), Seq("rk"), "t", "rt", Seq("rid"),
        toleranceUs = Some(5L), forward = true)
      .select(col("lid"), col("rid")).collect()
      .map(r => (r.getLong(0), Option(r.getAs[Any]("rid")))).toSeq
    // next right at 20, gap 6 > 5 -> stale, null
    assert(past == Seq((300L, None)))
  }

  test("tolerance gate: boundary match kept, one microsecond past dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val left = Seq((1L, 10_000_000L, 100L), (1L, 10_000_001L, 101L))
      .toDF("k", "t_us", "lid")
      .withColumn("t", timestamp_micros(col("t_us"))).drop("t_us")
    val right = Seq((1L, 5_000_000L, 900L))
      .toDF("rk", "rt_us", "rid")
      .withColumn("rt", timestamp_micros(col("rt_us"))).drop("rt_us")
    // gap of left row 100 is exactly 5_000_000 us; row 101 is 1 us past
    val got = api.Graft.asofJoin(left, right, Seq("k"), Seq("rk"),
        "t", "rt", Seq("rid"), toleranceUs = Some(5_000_000L))
      .orderBy(col("lid"))
      .select(col("lid"), col("rid")).collect()
      .map(r => (r.getLong(0), Option(r.getAs[Any]("rid")))).toSeq
    assert(got == Seq((100L, Some(900L)), (101L, None)))
  }

  test("nearest == brute force on generated data (dup times, ties, tol)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    def gen(n: Int, idBase: Long) = (0 until n).map { i =>
      val k: java.lang.Long =
        if (rnd.nextInt(10) == 0) null
        else java.lang.Long.valueOf(rnd.nextInt(6).toLong)
      (k, rnd.nextInt(8).toLong, idBase + i)
    }
    val lRows = gen(120, 1000)
    val rRows = gen(80, 5000)
    val lDf = lRows.toDF("k", "t", "lid")
    val rDf = rRows.toDF("k", "t", "rid")
      .select(col("k").as("rk"), col("t").as("rt"), col("rid"))
    // operator contract, replayed literally: backward = max (t, rid)
    // with rt <= t (same-time rows are backward); forward = min (t,
    // rid) with rt > t; closer wins, exact ties to backward; with a
    // tolerance each side gates on its own distance
    def brute(tol: Option[Long]): Map[Long, Long] = lRows.map {
      case (k, t, lid) =>
        val cands = rRows.filter(r => Option(r._1) == Option(k))
        val back = cands.filter(_._2 <= t)
          .sortBy(c => (c._2, c._3)).lastOption
          .filter(c => tol.forall(t - c._2 <= _))
        val fwd = cands.filter(_._2 > t)
          .sortBy(c => (c._2, c._3)).headOption
          .filter(c => tol.forall(c._2 - t <= _))
        val pick = (back, fwd) match {
          case (Some(b), Some(f)) =>
            Some(if (t - b._2 <= f._2 - t) b else f)
          case (b, f) => b.orElse(f)
        }
        lid -> pick.map(_._3).getOrElse(-1L)
    }.toMap
    for (tol <- Seq(None, Some(2L))) {
      val got = api.Graft.asofJoin(lDf, rDf, Seq("k"), Seq("rk"),
          "t", "rt", Seq("rid"), toleranceUs = tol, nearest = true)
        .select(col("lid"), col("rid")).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(got == brute(tol), s"nearest diverges at tol=$tol")
    }
  }

  test("nearest at extreme timestamps: unsigned distance, no wrap (no tol)") {
    // ADVICE r13: the no-tolerance nearest path had no test with
    // extreme long times. True time distances live in [0, 2^64), so
    // the operator compares the wrapped difference UNSIGNED; a signed
    // comparison wraps negative once a span passes 2^63 and picks the
    // FARTHER side / passes a tiny tolerance it should fail.
    import spark.implicits._
    val MIN = Long.MinValue; val MAX = Long.MaxValue
    // key 1: only a forward candidate, span ~2^64 (subtraction wraps)
    // key 2: back at MIN+5 (dist 2^63-15 fits signed), fwd at MAX-5
    //        (dist 2^63+4 wraps) — backward is truly closer
    val left = Seq((1L, MIN + 10L, 100L), (2L, -10L, 200L))
      .toDF("k", "t", "lid")
    val right = Seq((1L, MAX - 10L, 901L),
        (2L, MIN + 5L, 902L), (2L, MAX - 5L, 903L))
      .toDF("rk", "rt", "rid")
    val got = api.Graft.asofJoin(left, right, Seq("k"), Seq("rk"),
        "t", "rt", Seq("rid"), nearest = true)
      .orderBy(col("lid")).select(col("lid"), col("rid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // BigInt ground truth: k=1 dist(903-side) n/a, only 901 matches;
    // k=2 back dist = -10-(MIN+5) = 2^63-15 < fwd dist = (MAX-5)+10
    assert(got == Seq((100L, 901L), (200L, 902L)), got.toString)
    // tolerance gate at the same extremes: a tiny tolerance must
    // reject the ~2^64 forward span (the wrapped signed diff is -21,
    // which a signed gate would wrongly accept)
    val gated = api.Graft.asofJoin(
        Seq((1L, MIN + 10L, 100L)).toDF("k", "t", "lid"), right,
        Seq("k"), Seq("rk"), "t", "rt", Seq("rid"),
        toleranceUs = Some(5L), nearest = true)
      .select(col("lid"), col("rid")).collect()
      .map(r => (r.getLong(0), Option(r.getAs[Any]("rid")))).toSeq
    assert(gated == Seq((100L, None)), gated.toString)
  }

  test("forward+nearest is rejected at node construction") {
    import spark.implicits._
    val d = Seq((1L, 1L, 1L)).toDF("k", "t", "id")
    val e = intercept[IllegalArgumentException](
      api.Graft.asofJoin(d, d.select(col("k").as("rk"),
          col("t").as("rt"), col("id").as("rid")),
        Seq("k"), Seq("rk"), "t", "rt",
        forward = true, nearest = true))
    assert(e.getMessage.contains("direction"))
  }
}
