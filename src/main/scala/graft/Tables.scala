package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{MakeDecimal, Multiply, UnscaledValue}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}
import graft.functions.DecimalKernels

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}

/** Fixture-table access + hash-stability helpers shared by every query.
  *
  * Table layout follows the driver contract (`/root/repo/TESTDATA.md`,
  * `/root/repo/FIXTURES.md`): one parquet file per table under the
  * scale-factor directory. This mirrors Hive's table-as-directory model
  * ([hive: ql/src/java/org/apache/hadoop/hive/ql/exec/TableScanOperator.java])
  * expressed Spark-first as a vectorized parquet `FileSourceScanExec`.
  *
  * Scale note: reads go through `spark.read.parquet`, so Catalyst predicate
  * pushdown / column pruning / partition pruning all apply unchanged when the
  * path is a 100 TB partitioned directory instead of a single file.
  *
  * Schema cache: inferring a parquet file's schema starts a one-task footer
  * job, so the `StructType` inferred for a table FILE is kept and later reads
  * pass it to `.schema(...)`. The key is the file's real path, its NIO file
  * key, size and last-modified time, and every `spark.sql.parquet.*` /
  * `spark.sql.legacy.parquet.*` conf the session sets (`nanosAsLong`, which
  * [[events]] sets, among them): a rewritten file or a changed conf is
  * inferred again. A directory path is never cached, since files can appear
  * in it without touching the directory's own attributes. Every call still
  * builds a fresh DataFrame and file index.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") events(spark, dir) else
      read(spark, s"$dir/$name.parquet")
  }

  private final case class SchemaKey(path: String, fileKey: AnyRef,
      size: Long, modified: FileTime, confs: Map[String, String])
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]()

  /** `spark.read.parquet(path)`, with the schema cache described above. */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val file = scala.util.Try {
      val real = Paths.get(path).toRealPath()
      (real, Files.readAttributes(real, classOf[BasicFileAttributes]))
    }.toOption.filter(_._2.isRegularFile)
    file match {
      case None => spark.read.parquet(path)
      case Some((real, a)) =>
        val key = SchemaKey(real.toString, a.fileKey, a.size,
          a.lastModifiedTime, spark.conf.getAll.filter { case (k, _) =>
            k.startsWith("spark.sql.parquet.") ||
              k.startsWith("spark.sql.legacy.parquet.")
          })
        val schema = Option(schemas.get(key)).getOrElse {
          val inferred = spark.read.parquet(path).schema
          schemas.put(key, inferred)
          inferred
        }
        spark.read.schema(schema).parquet(path)
    }
  }

  /** The events fixture has shipped with two physical types for `ts` across
    * driver fixture generations: parquet TIMESTAMP(NANOS) (rounds 1-7) and
    * TIMESTAMP(MICROS) (round 8+). Normalize both to a session-TZ
    * TimestampType (LTZ) column so every downstream query and the driver's
    * parquet-schema compare see one stable type:
    *   - NANOS surfaces as int64 under `nanosAsLong` → truncate to micros
    *     (exactly DuckDB's nanos→micros conversion, so both engines agree);
    *   - MICROS without isAdjustedToUTC surfaces as TIMESTAMP_NTZ → cast to
    *     LTZ (value-identical under the UTC-pinned session TZ, and keeps the
    *     output parquet schema identical to what the oracle compare expects);
    *   - MICROS adjusted-to-UTC surfaces as TimestampType → pass through.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // Conf must be set before the read so a NANOS-generation file loads as
    // int64 instead of failing; harmless for MICROS files. Guarded so the
    // common path does not mutate session conf on every call.
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(read(spark, s"$dir/events.parquet"))
  }

  /** Apply the generation-conditional `ts` normalization described on
    * [[events]]. Public so streaming reads (which build the stream from the
    * same file) normalize identically. */
  def normalizeEventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType            => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                   => raw
    }

  /** Register every fixture table as a temp view (for spark.sql queries). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    registerViews(spark, dir, all: _*)

  /** Register only the named tables — queries should register exactly what
    * they read, so a malformed UNRELATED fixture cannot break them (the r8
    * events regeneration took down the subquery family solely through this
    * eager all-tables registration). */
  def registerViews(spark: SparkSession, dir: String, names: String*): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))

  // ---- hash-stability helpers (SURVEY.md §5.4) -----------------------------
  // Money columns in the fixtures are doubles; raw sum(double) is
  // partition-order dependent, so aggregate in exact decimal and only cast
  // to double at the very end. Every helper runs on the fixed-point kernels
  // of `graft.functions.DecimalKernels`, which keep unscaled values in
  // primitive longs inside whole-stage codegen and give Spark's own values,
  // types, nullability and errors; each kernel's fallback is the Spark
  // expression it replaces.

  /** Exact-decimal view of a double column for order-independent sums.
    * `DecimalKernels.cast`: a double rounds half-up in long arithmetic
    * wherever that is provably Spark's answer, and NaN, infinities,
    * overflow and near-ties run Spark's `Cast`; other types are a `Cast`. */
  def dec(c: Column): Column = DecimalKernels.cast(c, 18, 4)

  /** Narrower decimal for products: Spark's multiply rule is
    * (p1,s1)*(p2,s2) -> (p1+p2+1, s1+s2), so (10,4)-width operands keep a
    * two-term product chain (price * (1-disc) * (1+tax)) inside the 38-digit
    * cap with no precision loss: (10,4)*(11,4)->(22,8); (22,8)*(11,4)->(34,12).
    * Same kernel as [[dec]].
    */
  def dec10(c: Column): Column = DecimalKernels.cast(c, 10, 4)

  /** sum(x) as exact decimal, emitted as double — same bits both engines.
    * `DecimalKernels.sum` over [[dec]]: a 128-bit accumulator in two long
    * buffer slots, with Spark's result type and overflow error or null. */
  def dsum(c: Column): Column = DecimalKernels.sum(dec(c)).cast("double")

  /** Sum a column that is ALREADY decimal (e.g. discPrice output) without
    * re-casting (re-casting would round each row — ADVICE.md r01).
    * The exact sum is rounded to scale 4 BEFORE the double cast: a
    * high-scale decimal (scale 8/12) scaled past 2^53 is not correctly
    * rounded by DuckDB's int128/10^s double conversion, producing
    * adjacent-double mismatches (caught by the r02 sf0.001 probe). At
    * scale 4 the numerator is exact in double and one IEEE division is
    * correctly rounded on both engines. Same sum kernel as [[dsum]]; a
    * decimal wider than 28 digits, or a non-decimal, gets Spark's `sum`. */
  def dsumExact(c: Column): Column = round(DecimalKernels.sum(c), 4).cast("double")

  /** Deterministic average mirroring SQL AVG null semantics: exact-decimal
    * sum divided by count(col) (nulls excluded — ADVICE.md r01), in double.
    * Same kernels as [[dsum]]. */
  def davg(c: Column): Column = DecimalKernels.sum(dec(c)).cast("double") / count(c)

  /** Exact extended price net of discount: price * (1 - discount).
    * The (1-d) factor is computed in double and cast to DECIMAL(5,4) —
    * identical on both engines — keeping the product at (16,8) so that
    * Spark's sum (which adds +10 precision) stays within the 38-digit cap
    * with NO precision loss. A wider operand chain silently truncates the
    * sum's scale via allowPrecisionLoss (caught by the r02 sf0.001 probe).
    * Both casts are [[dec]]'s kernel; the product is Spark's own
    * `MakeDecimal(UnscaledValue(a) * UnscaledValue(b), 16, 8)`, exact in a
    * long since it stays below 10^15. Sum with [[dsumExact]]. */
  def discPrice(price: Column, discount: Column): Column = {
    val (a, b) = (PlanBridge.expression(dec10(price)),
      PlanBridge.expression(DecimalKernels.cast(lit(1.0) - discount, 5, 4)))
    PlanBridge.column(MakeDecimal(Multiply(UnscaledValue(a), UnscaledValue(b)), 16, 8))
  }

  /** TPC-H Q1 "charge": price * (1-disc) * (1+tax), exact Decimal(22,12);
    * sum precision 32 <= 38, so the sum is exact. The (22,12) product is
    * `DecimalKernels.multiply` (a long product; BigInteger only past
    * 2^63), over [[discPrice]] and [[dec]]'s kernel. Sum with [[dsumExact]]. */
  def charge(price: Column, discount: Column, tax: Column): Column =
    DecimalKernels.multiply(discPrice(price, discount),
      DecimalKernels.cast(lit(1.0) + tax, 5, 4))

  /** Timestamp literal parsed in the (UTC-pinned) session time zone; matches
    * a naive DuckDB TIMESTAMP literal of the same wall-clock text. */
  def ts(s: String): Column = lit(s).cast("timestamp")

  /** Render a timestamp column as 'yyyy-MM-dd HH:mm:ss' text so the driver
    * hash-compares strings, not engine-dependent timestamp encodings. */
  def fmtTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Same, with microseconds (events.ts carries sub-second precision). */
  def fmtTsUs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
}
