package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Row count plus an order-insensitive 64-bit content hash of a result.
  * Floating values are rounded to [[Digits]] significant digits first, so
  * a last-bit difference in a double sum does not read as a wrong answer,
  * while any real change in a value, a row or a row count does. */
object Digest {
  val Digits = 6
  private val mc = new MathContext(Digits)

  final case class Result(rows: Long, hash: String)

  def apply(df: DataFrame): Result = {
    val (n, h) = df.rdd
      .mapPartitions { it =>
        var n = 0L
        var h = 0L
        it.foreach { r => n += 1; h += rowHash(r) }
        Iterator.single((n, h))
      }
      .fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
    Result(n, f"$h%016x")
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x2a).toLong & 0xffffffffL)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite || d == 0.0) d.abs.toString
    else new JBigDecimal(d).round(mc).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: JBigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
