package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed `Aggregator` exemplar (the user-facing UDAF surface, analogue of
  * Hive's GenericUDAFResolver2 [hive: ql/src/java/org/apache/hadoop/hive/
  * ql/udf/generic/GenericUDAFEvaluator.java]): exact weighted average.
  *
  * Each value is rounded half-up to scale 4 by the same conversion as
  * `Tables.dec` (`DecimalKernels.castUnscaled`, whose declined cases take
  * `BigDecimal(x).setScale(4, HALF_UP)`, unbounded), and the running
  * numerator is the exact integer sum of unscaled value times weight in
  * the kernels' 128-bit form (hi, lo), so partial/merge order cannot
  * change the result — the same discipline as Tables.dsum, proven by the
  * DuckDB oracle on q_udaf_weighted_avg. A numerator of 10^34 or more
  * (at scale 4) raises an ArithmeticException.
  */
case class WAIn(x: Double, w: Long)
case class WABuf(hi: Long, lo: Long, den: Long)

object WeightedAvg extends Aggregator[WAIn, WABuf, Double] {
  override def zero: WABuf = WABuf(0L, 0L, 0L)

  override def reduce(b: WABuf, a: WAIn): WABuf =
    // BigDecimal(NaN/Infinity) throws NumberFormatException and would
    // abort the whole aggregation; SQL AVG semantics skip non-values the
    // way they skip NULLs (ADVICE r02)
    if (a.x.isNaN || a.x.isInfinite) b
    else {
      val u = DecimalKernels.castUnscaled(a.x, 18, 4)
      if (u != DecimalKernels.Slow) add(b, Math.multiplyHigh(u, a.w), u * a.w, a.w)
      else {
        val p = JBigDecimal.valueOf(a.x).setScale(4, RoundingMode.HALF_UP)
          .unscaledValue.multiply(BigInteger.valueOf(a.w))
        if (p.bitLength > 126) throw new ArithmeticException("wavg numerator overflow")
        add(b, p.shiftRight(64).longValue, p.longValue, a.w)
      }
    }

  private def add(b: WABuf, xh: Long, xl: Long, w: Long): WABuf = {
    val hi = DecimalKernels.addHi(b.hi, b.lo, xh, xl, 38)
    if (hi == DecimalKernels.Slow) throw new ArithmeticException("wavg numerator overflow")
    WABuf(hi, b.lo + xl, b.den + w)
  }

  override def merge(b1: WABuf, b2: WABuf): WABuf = add(b1, b2.hi, b2.lo, b2.den)

  override def finish(b: WABuf): Double =
    if (b.den == 0) Double.NaN
    else new JBigDecimal(DecimalKernels.bigInteger(b.hi, b.lo), 4).doubleValue / b.den.toDouble

  override def bufferEncoder: Encoder[WABuf] = Encoders.product[WABuf]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}
