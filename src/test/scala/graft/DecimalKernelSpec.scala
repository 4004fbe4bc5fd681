package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DecimalKernels, DoubleToDecimal, Int128Sum}

/** Differential test of the exact-decimal kernels against the Spark
  * expressions they replace, under ANSI on and off: equal values and
  * nullability, or equal error classes. */
class DecimalKernelSpec extends AnyFunSuite {
  import TestSpark._

  private val modes = Seq(EvalMode.ANSI, EvalMode.LEGACY)

  private def withAnsi[T](on: Boolean)(f: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try f finally spark.conf.set(key, old)
  }

  /** A value, or the error class that evaluating it raised. */
  private def outcome(f: => Any): Either[String, Any] =
    try Right(f) catch {
      case t: Throwable =>
        val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .collectFirst { case s: SparkThrowable => s.getCondition }
        Left(root.getOrElse(t.getClass.getName))
    }

  // ---- cast ------------------------------------------------------------------

  /** Both casts of one double, interpreted, at every listed (p, s). */
  private def castMismatches(ds: Iterator[Double], ps: Seq[(Int, Int)]): Seq[String] = {
    val in = BoundReference(0, DoubleType, nullable = false)
    val pairs = for (m <- modes; (p, s) <- ps) yield {
      val t = DecimalType(p, s)
      (DoubleToDecimal(in, t, m), Cast(in, t, None, m), s"($p,$s) $m")
    }
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    ds.flatMap { d =>
      row.update(0, d)
      pairs.iterator.flatMap { case (k, c, what) =>
        val (a, b) = (outcome(k.eval(row)), outcome(c.eval(row)))
        if (a == b) None else Some(s"$d $what: kernel $a, Spark $b")
      }
    }.take(20).toSeq
  }

  private val scales = 0 to 12

  /** Doubles on both sides of each rounding tie (k + 0.5) / 10^s. */
  private def ties(rnd: scala.util.Random): Seq[(Double, Int)] =
    for {
      s <- scales
      k <- Seq.fill(40)(rnd.nextLong(1L << (50 - 4 * (s / 3)))) ++ Seq(0L, 1L, 2L, 267L)
      base = (k + 0.5) / math.pow(10, s)
      steps <- -3 to 3
      sign <- Seq(1.0, -1.0)
    } yield {
      var d = base
      for (_ <- 0 until steps.abs) d = if (steps > 0) math.nextUp(d) else math.nextDown(d)
      (sign * d, s)
    }

  test("the known half-cases round as Spark does") {
    // the exact binary value of 2.675 lies below the tie
    assert(new java.math.BigDecimal(2.675).setScale(2, java.math.RoundingMode.HALF_UP)
      .unscaledValue.longValue == 267)
    for (m <- modes; sign <- Seq(1, -1)) {
      val in = BoundReference(0, DoubleType, nullable = false)
      def k(d: Double, s: Int) =
        DoubleToDecimal(in, DecimalType(18, s), m).eval(InternalRow(sign * d))
      assert(k(2.675, 2) == Decimal(sign * 268L, 18, 2))
      assert(k(1.00005, 4) == Decimal(sign * 10001L, 18, 4))
    }
  }

  test("cast: 10^6 seeded random doubles across magnitudes at scales 0-12") {
    val rnd = new scala.util.Random(8)
    val ds = Iterator.tabulate(1000000) { i =>
      val mag = math.pow(10, rnd.nextInt(32) - 14)
      if (i % 10 == 9) java.lang.Double.longBitsToDouble(rnd.nextLong()) // any bits
      else if (i % 2 == 0) (rnd.nextDouble() * 2 - 1) * mag
      else rnd.nextLong(100000000L) / math.pow(10, rnd.nextInt(9)) // money-like
    }
    val bad = ds.grouped(scales.size).flatMap(g => g.zip(scales).flatMap { case (d, s) =>
      castMismatches(Iterator(d), Seq((18, s)))
    }).take(20).toSeq
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("cast: constructed ties +-1-3 ulps, both signs, every scale") {
    val bad = ties(new scala.util.Random(9)).iterator.flatMap { case (d, s) =>
      castMismatches(Iterator(d), Seq((18, s)))
    }.take(20).toSeq
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("cast: zeros, subnormals, NaN, infinities, precision edges, 1e15 at (18,4)") {
    val edges = for {
      (p, s) <- Seq((18, 4), (10, 4), (5, 4), (18, 0), (18, 12), (12, 12))
      e = math.pow(10, p - s)
      d <- Seq(e, math.nextUp(e), math.nextDown(e), e - math.pow(10, -s) / 2)
    } yield (d, (p, s))
    val specials = Seq(0.0, -0.0, Double.MinPositiveValue, 1e-310, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.MaxValue, 1e15, 4.5e15,
      9007199254740993.0, 0.5, 1.5, 2.5)
    val ps = Seq((18, 4), (10, 4), (5, 4), (18, 0), (18, 12))
    val bad = castMismatches(specials.iterator ++ specials.iterator.map(-_), ps) ++
      edges.flatMap { case (d, p) => castMismatches(Iterator(d, -d), Seq(p)) }
    assert(bad.isEmpty, bad.mkString("\n"))
    // the parent's `dec` raised this; the kernel must too
    val e = outcome(DoubleToDecimal(BoundReference(0, DoubleType, false),
      DecimalType(18, 4), EvalMode.ANSI).eval(InternalRow(1e15)))
    assert(e.left.exists(_.startsWith("NUMERIC_VALUE_OUT_OF_RANGE")), e)
  }

  /** `spark.createDataFrame` over an RDD, so projections run in generated
    * code rather than being folded into a local relation. */
  private def frame(rows: Seq[Row], schema: StructType, parts: Int = 4): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  test("cast: generated code agrees with Spark's Cast, values and errors") {
    val rnd = new scala.util.Random(10)
    // all below 10^6, so no (10,4) cast overflows in ANSI mode
    val vals = ties(rnd).filter(_._2 == 2).map(_._1).filter(math.abs(_) < 1e5) ++
      Seq.fill(20000)(rnd.nextLong(1000000000L) / math.pow(10, 4 + rnd.nextInt(4))) ++
      Seq(2.675, -2.675, 1.00005, 0.0, -0.0, 1e-310)
    val df = frame(vals.map(Row(_)) :+ Row(null),
      StructType(Seq(StructField("d", DoubleType))))
    for (ansi <- Seq(true, false)) withAnsi(ansi) {
      for ((p, s) <- Seq((18, 4), (10, 4), (18, 2), (18, 0))) {
        val k = DecimalKernels.cast(col("d"), p, s)
        val c = col("d").cast(DecimalType(p, s))
        val q = df.select(k.as("k"), c.as("c"))
        assert(q.schema("k").copy(name = "c") == q.schema("c"), q.schema)
        assert(q.filter(!(col("k") <=> col("c"))).count() == 0, s"ansi=$ansi ($p,$s)")
        assert(q.queryExecution.executedPlan.toString.contains("double_to_decimal"))
      }
      for (d <- Seq(Double.NaN, Double.PositiveInfinity, 1e15, -1e15)) {
        val one = frame(Seq(Row(d)), StructType(Seq(StructField("d", DoubleType))), 1)
        val a = outcome(one.select(DecimalKernels.cast(col("d"), 18, 4)).collect().toSeq)
        val b = outcome(one.select(col("d").cast(DecimalType(18, 4))).collect().toSeq)
        assert(a == b, s"ansi=$ansi $d")
      }
    }
  }

  // ---- sum -------------------------------------------------------------------

  private def dec(v: String) = new java.math.BigDecimal(v)

  private def decFrame(t: DecimalType, vals: Seq[(Int, String)], parts: Int): DataFrame =
    frame(vals.map { case (g, v) => Row(g, if (v == null) null else dec(v)) },
      StructType(Seq(StructField("g", IntegerType), StructField("v", t))), parts)

  /** Kernel and Spark `sum` over one frame, global and grouped, both modes:
    * equal schemas, and equal rows or equal error classes. */
  private def sameSums(df: DataFrame, kernel: Column => Column = DecimalKernels.sum): Unit =
    for (ansi <- Seq(true, false)) withAnsi(ansi) {
      def both(f: Column => Column) = Seq(
        df.agg(f(col("v")).as("s")),
        df.groupBy("g").agg(f(col("v")).as("s")).orderBy("g"))
      for ((k, s) <- both(kernel).zip(both(sum))) {
        assert(k.schema == s.schema, s"ansi=$ansi")
        val (a, b) = (outcome(k.collect().toSeq), outcome(s.collect().toSeq))
        assert(a == b, s"ansi=$ansi ${k.queryExecution.analyzed}")
      }
    }

  test("sum: nulls, an all-null group, empty input, mixed signs, global and grouped") {
    val rnd = new scala.util.Random(11)
    val vals = Seq.fill(4000) {
      val v = BigDecimal(rnd.nextLong(200000000000L) - 100000000000L, 4)
      (rnd.nextInt(5), if (rnd.nextInt(10) == 0) null else v.toString)
    } ++ Seq((7, null), (7, null))
    val df = decFrame(DecimalType(18, 4), vals, 4)
    sameSums(df)
    sameSums(df.filter(lit(false)))
    sameSums(df.filter(col("g") === 7))
    for (t <- Seq(DecimalType(9, 2), DecimalType(16, 8), DecimalType(22, 12), DecimalType(28, 4)))
      sameSums(df.select(col("g"), col("v").cast(t).as("v")))
  }

  test("sum: 20 rows of 10^18 - 1 at (18,0) carry into the high word") {
    val big = "999999999999999999"
    for (parts <- Seq(1, 4); sign <- Seq("", "-")) {
      val df = decFrame(DecimalType(18, 0),
        Seq.tabulate(20)(i => (i % 2, sign + big)) ++ Seq((0, "1"), (1, "-1")), parts)
      sameSums(df)
    }
  }

  test("sum: (38,0) and (37,0) inputs passing 10^38 partway and at the end") {
    def n(d: String, zeros: Int) = d + "0" * zeros
    val cases = Seq(
      DecimalType(38, 0) -> Seq(
        Seq(n("6", 37), n("6", 37), n("-6", 37)),       // past 10^38, then back
        Seq(n("9", 37), n("9", 37), n("-9", 37)),       // past 2^127, then back
        Seq(n("6", 37), n("6", 37)),                    // past 10^38 at the end
        Seq(n("9", 37), n("-9", 37), n("9", 37))),      // never past it
      DecimalType(37, 0) -> Seq(
        Seq.fill(12)(n("9", 36)) ++ Seq.fill(2)(n("-9", 36)),
        Seq.fill(12)(n("9", 36)),
        Seq.fill(11)(n("9", 36))))
    for ((t, vs) <- cases; c <- vs) {
      val df = decFrame(t, c.map(v => (1, v)), 1)
      sameSums(df)
      // the 128-bit kernel itself, where Spark checks every row (grouped)
      for (ansi <- Seq(true, false)) withAnsi(ansi) {
        val k = df.groupBy("g").agg(
          PlanBridge.column(Int128Sum(PlanBridge.expression(col("v"))).toAggregateExpression())
            .as("s"))
        val s = df.groupBy("g").agg(sum("v").as("s"))
        assert(k.schema == s.schema)
        assert(outcome(k.collect().toSeq) == outcome(s.collect().toSeq), s"ansi=$ansi $t $c")
      }
    }
  }
}
