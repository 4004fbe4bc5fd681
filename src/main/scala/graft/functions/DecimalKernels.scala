package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.QueryContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Fixed-point kernels behind the exact-decimal helpers of [[graft.Tables]].
  *
  * Spark's decimal cast, multiply and sum build a `java.math.BigDecimal`
  * per row (the double cast goes through `Double.toString`, the multiply
  * always uses BigDecimal, and a sum buffer wider than 18 digits is stored
  * as BigInteger bytes). The kernels here keep the unscaled value in
  * primitive longs instead, inside whole-stage codegen, and give the same
  * values, types, nullability and errors:
  *
  *   - [[cast]]: a double becomes `round-half-up(d * 10^s)` when that is
  *     provably Spark's answer; NaN, infinities, overflow and values too
  *     close to a rounding tie run Spark's own `Cast`.
  *   - [[multiply]]: a product of two compact decimals is a long product
  *     (`Math.multiplyHigh` detects the rare one that needs BigInteger).
  *   - [[sum]]: a 128-bit accumulator in two long buffer slots.
  *
  * Grounding: Shark (SIGMOD 2013) keeps columns as JVM primitives rather
  * than per-row objects, because object overhead dominated its scans.
  */
object DecimalKernels {

  // ---- Column builders -----------------------------------------------------

  /** `c.cast(DecimalType(p, s))`; a double column runs the fixed-point
    * kernel, any other type stays a plain `Cast`. */
  def cast(c: Column, precision: Int, scale: Int): Column =
    PlanBridge.column(ExactCast(PlanBridge.expression(c), DecimalType(precision, scale)))

  /** `sum(c)` with Spark's result type and overflow behaviour. */
  def sum(c: Column): Column =
    PlanBridge.column(ExactSum(PlanBridge.expression(c)).toAggregateExpression())

  /** `a * b` for two compact decimal columns: the exact product, typed
    * (p1 + p2 + 1, s1 + s2) as Spark types it. */
  def multiply(a: Column, b: Column): Column =
    PlanBridge.column(CompactMultiply(PlanBridge.expression(a), PlanBridge.expression(b)))

  // ---- scalar kernels (called from generated code) -------------------------

  /** Returned when a kernel declines: the fast cast path leaves the value to
    * Spark's `Cast`, and the accumulator marks an overflowed sum. Never a
    * valid high word: |unscaled| < 10^38 keeps it within ±5.5e18. */
  final val Slow: Long = Long.MinValue

  private val pow10d = Array.tabulate(19)(i => math.pow(10, i)) // exact to 10^22
  private val two52 = math.scalb(1.0, 52)
  private val tieMargin = math.scalb(1.0, -50)
  private val pow10 = Array.tabulate(39)(i => BigInteger.TEN.pow(i))
  private val pow10Hi = pow10.map(_.shiftRight(64).longValue)
  private val pow10Lo = pow10.map(_.longValue)

  /** The unscaled value of `CAST(d AS DECIMAL(p, s))`, or [[Slow]].
    *
    * Spark rounds the digits of `Double.toString(d)` half-up. Those digits
    * D round-trip to d, so |D - d| <= ulp(d)/2, and x = d * 10^s in double
    * adds at most ulp(x)/2: together under |x| * 2^-52. When x is more than
    * |x| * 2^-50 from every half-integer, D * 10^s and x round to the same
    * integer. Below 2^52 the fraction of x is exact. Needs p, s <= 18. */
  def castUnscaled(d: Double, precision: Int, scale: Int): Long = {
    val x = d * pow10d(scale)
    val a = math.abs(x)
    if (!(a < two52)) return Slow // NaN, infinities, and too large
    val f = math.floor(a)
    val frac = a - f
    if (math.abs(frac - 0.5) <= a * tieMargin) return Slow
    val r = if (frac > 0.5) f.toLong + 1 else f.toLong
    if (r >= pow10Lo(precision)) Slow else if (x < 0) -r else r
  }

  /** Low word of a decimal's unscaled value as a 128-bit integer. */
  def unscaledLo(d: Decimal): Long =
    try d.toUnscaledLong catch { case _: ArithmeticException => wide(d).longValue }

  /** High word of a decimal's unscaled value as a 128-bit integer. */
  def unscaledHi(d: Decimal): Long =
    try d.toUnscaledLong >> 63
    catch { case _: ArithmeticException => wide(d).shiftRight(64).longValue }

  private def wide(d: Decimal): BigInteger = d.toJavaBigDecimal.unscaledValue

  /** High word of (hi, lo) + (xh, xl), or [[Slow]] when either side has
    * overflowed or the sum's magnitude reaches 10^precision. The low word
    * is `lo + xl`, wrapping. */
  def addHi(hi: Long, lo: Long, xh: Long, xl: Long, precision: Int): Long = {
    if (hi == Slow || xh == Slow) return Slow
    val l = lo + xl
    val carry = if (java.lang.Long.compareUnsigned(l, lo) < 0) 1L else 0L
    val h = hi + xh + carry
    if (((hi ^ h) & (xh ^ h)) < 0) Slow // past 2^127
    else if (below(h, l, precision)) h else Slow
  }

  /** |(h, l)| < 10^precision, for a two's-complement 128-bit (h, l). */
  private def below(h: Long, l: Long, precision: Int): Boolean = {
    val neg = h < 0
    val mh = if (neg) ~h + (if (l == 0) 1 else 0) else h
    val c = java.lang.Long.compareUnsigned(mh, pow10Hi(precision))
    c < 0 || (c == 0 &&
      java.lang.Long.compareUnsigned(if (neg) -l else l, pow10Lo(precision)) < 0)
  }

  /** The 128-bit unscaled (hi, lo) as a DECIMAL(precision, scale); null
    * when the accumulator overflowed. */
  def toDecimal(hi: Long, lo: Long, precision: Int, scale: Int): Decimal =
    if (hi == Slow) null
    else if (hi == lo >> 63) Decimal(lo, precision, scale)
    else Decimal(new JBigDecimal(bigInteger(hi, lo), scale), precision, scale)

  /** The 128-bit two's-complement integer (hi, lo). */
  def bigInteger(hi: Long, lo: Long): BigInteger =
    new BigInteger(java.nio.ByteBuffer.allocate(16).putLong(hi).putLong(lo).array)

  /** The exact product of two unscaled longs as a DECIMAL(precision, scale). */
  def multiply(a: Long, b: Long, precision: Int, scale: Int): Decimal = {
    val lo = a * b
    if (Math.multiplyHigh(a, b) == lo >> 63) Decimal(lo, precision, scale)
    else Decimal(new JBigDecimal(BigInteger.valueOf(a).multiply(BigInteger.valueOf(b)),
      scale), precision, scale)
  }

  private[functions] def isCompact(e: Expression): Boolean = e.dataType match {
    case d: DecimalType => d.precision <= Decimal.MAX_LONG_DIGITS
    case _ => false
  }
}

/** `CAST(child AS DECIMAL(p, s))`, chosen once the child's type is known:
  * [[DoubleToDecimal]] for a double child with p <= 18, a plain `Cast`
  * otherwise. */
case class ExactCast(child: Expression, override val dataType: DecimalType)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override lazy val replacement: Expression =
    if (child.dataType == DoubleType && dataType.precision <= Decimal.MAX_LONG_DIGITS)
      DoubleToDecimal(child, dataType)
    else Cast(child, dataType)

  override def checkInputDataTypes(): TypeCheckResult = replacement.checkInputDataTypes()
  override def sql: String = s"CAST(${child.sql} AS ${dataType.sql})"
  override def toString: String = s"cast($child as ${dataType.simpleString})"
  override protected def withNewChildInternal(c: Expression): ExactCast = copy(child = c)
}

/** The double-to-decimal cast kernel (see [[DecimalKernels.castUnscaled]]).
  * The fallback is Spark's own `Cast` in the same eval mode, so NaN,
  * infinities, overflow and near-ties give Spark's value, null or error. */
case class DoubleToDecimal(child: Expression, dataType: DecimalType,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends UnaryExpression {

  @transient private lazy val fallback =
    Cast(BoundReference(0, DoubleType, nullable = false), dataType, None, evalMode)

  override lazy val nullable: Boolean = Cast(child, dataType, None, evalMode).nullable

  /** Spark's cast of one double (the kernel's slow path). */
  def slow(d: Double): Decimal =
    fallback.eval(InternalRow(d)).asInstanceOf[Decimal]

  override protected def nullSafeEval(input: Any): Any = {
    val d = input.asInstanceOf[Double]
    val u = DecimalKernels.castUnscaled(d, dataType.precision, dataType.scale)
    if (u != DecimalKernels.Slow) Decimal.createUnsafe(u, dataType.precision, dataType.scale)
    else slow(d)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("doubleToDecimal", this)
    val u = ctx.freshName("unscaled")
    val (p, s) = (dataType.precision, dataType.scale)
    val setNull = if (nullable) s"${ev.isNull} = ${ev.value} == null;" else ""
    nullSafeCodeGen(ctx, ev, d =>
      s"""long $u = graft.functions.DecimalKernels.castUnscaled($d, $p, $s);
         |if ($u != ${Long.MinValue}L) {
         |  ${ev.value} = org.apache.spark.sql.types.Decimal.createUnsafe($u, $p, $s);
         |} else {
         |  ${ev.value} = $self.slow($d);
         |  $setNull
         |}""".stripMargin)
  }

  override def toString: String = s"double_to_decimal($child, ${dataType.simpleString})"
  override protected def withNewChildInternal(c: Expression): DoubleToDecimal = copy(child = c)
}

/** The exact product of two compact decimals, typed as Spark's decimal
  * `Multiply` types it (which can never overflow for these operands).
  * Built for `Tables.charge`, whose (16,8) x (5,4) product is typed
  * (22,12) and so cannot be a plain long multiply. */
case class CompactMultiply(left: Expression, right: Expression) extends BinaryExpression {

  override lazy val nullable: Boolean = Multiply(left, right).nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (DecimalKernels.isCompact(left) && DecimalKernels.isCompact(right) &&
      dataType.precision <= DecimalType.MAX_PRECISION) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"compact decimal multiply needs two decimals of precision <= 18 whose product " +
        s"fits 38 digits, got (${left.dataType.sql}, ${right.dataType.sql})")

  override def dataType: DecimalType = (left.dataType, right.dataType) match {
    case (a: DecimalType, b: DecimalType) =>
      DecimalType(math.min(a.precision + b.precision + 1, DecimalType.MAX_PRECISION),
        a.scale + b.scale)
    case _ => DecimalType.SYSTEM_DEFAULT
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = DecimalKernels.multiply(
    a.asInstanceOf[Decimal].toUnscaledLong, b.asInstanceOf[Decimal].toUnscaledLong,
    dataType.precision, dataType.scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.DecimalKernels.multiply($a.toUnscaledLong(), " +
        s"$b.toUnscaledLong(), ${dataType.precision}, ${dataType.scale})")

  override def sql: String = s"(${left.sql} * ${right.sql})"
  override def toString: String = s"($left * $right)"
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CompactMultiply = copy(left = l, right = r)
}

/** One word of a decimal's unscaled value as a 128-bit integer. */
case class Unscaled128(child: Expression, highWord: Boolean) extends UnaryExpression {
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any = {
    val d = input.asInstanceOf[Decimal]
    if (highWord) DecimalKernels.unscaledHi(d) else DecimalKernels.unscaledLo(d)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, d =>
      if (DecimalKernels.isCompact(child)) {
        if (highWord) s"($d.toUnscaledLong() >> 63)" else s"$d.toUnscaledLong()"
      } else {
        s"graft.functions.DecimalKernels.unscaled${if (highWord) "Hi" else "Lo"}($d)"
      })

  override protected def withNewChildInternal(c: Expression): Unscaled128 = copy(child = c)
}

/** One word of the 128-bit sum (hi, lo) + (xh, xl): the high word (or
  * [[DecimalKernels.Slow]] past 10^precision), or the wrapping low word. */
case class Add128(hi: Expression, lo: Expression, xh: Expression, xl: Expression,
    highWord: Boolean, precision: Int) extends QuaternaryExpression {
  override def first: Expression = hi
  override def second: Expression = lo
  override def third: Expression = xh
  override def fourth: Expression = xl
  override def dataType: DataType = LongType

  override protected def nullSafeEval(h: Any, l: Any, yh: Any, yl: Any): Any =
    if (highWord) DecimalKernels.addHi(
      h.asInstanceOf[Long], l.asInstanceOf[Long], yh.asInstanceOf[Long],
      yl.asInstanceOf[Long], precision)
    else l.asInstanceOf[Long] + yl.asInstanceOf[Long]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l, yh, yl) =>
      if (highWord) s"graft.functions.DecimalKernels.addHi($h, $l, $yh, $yl, $precision)"
      else s"($l + $yl)")

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): Add128 = copy(hi = a, lo = b, xh = c, xl = d)
}

/** The accumulator (hi, lo) as the sum's decimal; null once it overflowed. */
case class Int128ToDecimal(hi: Expression, lo: Expression, dataType: DecimalType)
    extends BinaryExpression {
  override def left: Expression = hi
  override def right: Expression = lo
  override def nullable: Boolean = true

  override protected def nullSafeEval(h: Any, l: Any): Any = DecimalKernels.toDecimal(
    h.asInstanceOf[Long], l.asInstanceOf[Long], dataType.precision, dataType.scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, l) =>
      s"""${ev.value} = graft.functions.DecimalKernels.toDecimal(
         |  $h, $l, ${dataType.precision}, ${dataType.scale});
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Int128ToDecimal = copy(hi = l, lo = r)
}

/** Exact decimal SUM on a 128-bit accumulator: two long buffer slots and
  * an emptiness flag, so `HashAggregateExec` keeps whole-stage codegen.
  *
  * Matches Spark's decimal `Sum` (result type `bounded(p + 10, s)`, null
  * for all-null input) and its overflow rule where that rule is a row
  * rule: Spark writes every update into an `UnsafeRow` buffer at the
  * result precision, so a running sum that reaches 10^P becomes null and
  * stays null, and the final value then raises `ARITHMETIC_OVERFLOW`
  * (ANSI) or is null (legacy) through Spark's own `CheckOverflowInSum`.
  * Spark's codegen'd global aggregate keeps its buffer in locals and only
  * checks each partition's partial, so the two can differ on a partition
  * whose running sum passes 10^P and comes back; [[ExactSum]] therefore
  * routes the inputs where that is reachable (p > 28) to Spark's `Sum`. */
case class Int128Sum(child: Expression,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends DeclarativeAggregate with UnaryLike[Expression] with SupportQueryContext {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: DecimalType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"exact decimal sum needs a decimal, got ${t.sql}")
  }

  override def dataType: DecimalType = child.dataType match {
    case d: DecimalType =>
      DecimalType(math.min(d.precision + 10, DecimalType.MAX_PRECISION), d.scale)
    case _ => DecimalType.SYSTEM_DEFAULT
  }
  override def nullable: Boolean = true
  override def prettyName: String = "sum"
  override def initQueryContext(): Option[QueryContext] = Some(origin.context)

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, isEmpty)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  private def add(h: Expression, l: Expression, xh: Expression, xl: Expression) =
    Seq(Add128(h, l, xh, xl, highWord = true, dataType.precision),
      Add128(h, l, xh, xl, highWord = false, dataType.precision))

  override lazy val updateExpressions: Seq[Expression] = {
    val sums = add(hi, lo, Unscaled128(child, highWord = true), Unscaled128(child, highWord = false))
    if (!child.nullable) sums :+ Literal(false)
    else sums.zip(Seq(hi, lo)).map { case (s, b) => If(IsNull(child), b, s) } :+
      And(isEmpty, IsNull(child))
  }

  override lazy val mergeExpressions: Seq[Expression] =
    add(hi.left, lo.left, hi.right, lo.right) :+ And(isEmpty.left, isEmpty.right)

  override lazy val evaluateExpression: Expression = If(isEmpty,
    Literal(null, dataType),
    CheckOverflowInSum(Int128ToDecimal(hi, lo, dataType), dataType,
      evalMode != EvalMode.ANSI, getContextOrNull()))

  override protected def withNewChildInternal(c: Expression): Int128Sum = copy(child = c)
}

/** `sum(child)`, chosen once the child's type is known: [[Int128Sum]] for
  * a decimal of precision 9..28, Spark's `Sum` otherwise (at p <= 8 Spark
  * already sums the unscaled long; above 28 see [[Int128Sum]]). */
case class ExactSum(child: Expression) extends AggregateFunction
    with RuntimeReplaceableAggregate with UnaryLike[Expression] {

  override lazy val replacement: Expression = child.dataType match {
    case d: DecimalType if d.precision > 8 && d.precision <= 28 => Int128Sum(child)
    case _ => Sum(child)
  }

  override def checkInputDataTypes(): TypeCheckResult = replacement.checkInputDataTypes()
  override def prettyName: String = "sum"
  override protected def withNewChildInternal(c: Expression): ExactSum = copy(child = c)
}
