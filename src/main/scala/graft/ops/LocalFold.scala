package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The two ends of a driver fold over a dimension-bounded frame
  * (players², sources², a vocabulary — never corpus-sized): pack the
  * frame in ONE Spark action, fold it in exact integers on the driver,
  * and hand the result back as a one-partition local frame. An
  * iteration over a few hundred rows then costs one job instead of a
  * job chain per step. */
private[graft] object LocalFold {

  /** The rows of `df` projected to `cols`, in the order an
    * `ORDER BY cols` gives (Spark's order for every type, e.g. UTF-8
    * byte order for strings): one action that sorts them inside ONE
    * partition, so no exchange (an extra job under AQE) sits between
    * `df` and the driver. The driver holds every row;
    * `spark.driver.maxResultSize` fails loudly past that. */
  def packSorted(df: DataFrame, cols: String*): Seq[Row] =
    df.select(cols.map(col): _*).coalesce(1)
      .sortWithinPartitions(cols.map(col): _*).collect().toSeq

  /** `rows` as a one-partition local frame sorted by `order`: a local
    * table scans one partition per row, and a sort across them plans a
    * sampled range exchange (5 jobs for 6 rows). */
  def frame(spark: SparkSession, schema: StructType, rows: Seq[Row],
      order: Column*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).orderBy(order: _*)
}
