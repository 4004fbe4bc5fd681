package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables

/** Extension-surface exemplars (SURVEY.md §2.K): every Hive UDF extension
  * API re-expressed the Spark-native way and pinned by the oracle —
  *
  *   GenericUDF      -> native Catalyst Expression with codegen (FieldExpr)
  *   GenericUDAF     -> TypedImperativeAggregate (MinHashAgg; exercised by
  *                      q_dedup_minhash) and typed Aggregator (WeightedAvg)
  *   GenericUDTF     -> Catalyst Generator (ParseUrlTuple)
  *   TRANSFORM USING -> Spark SQL TRANSFORM (exercised in ExtensionsSpec;
  *                      process-pipe, not declared as an oracle query)
  */
object Extensions {

  /** Custom scalar expression: Hive field() with real codegen. */
  val qUdfField: Q = (s, dir) => {
    Tables(s, dir, "orders").createOrReplaceTempView("ext_orders")
    s.sql("""
      SELECT field(o_orderstatus, 'F', 'O', 'P') AS status_idx,
             count(1) AS cnt,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_price
      FROM ext_orders
      GROUP BY field(o_orderstatus, 'F', 'O', 'P')
      ORDER BY status_idx""")
  }

  /** Typed Aggregator: exact weighted average (price weighted by size). */
  val qUdafWeightedAvg: Q = (s, dir) => {
    Tables(s, dir, "part")
      .groupBy(col("p_brand"))
      .agg(expr("wavg(p_retailprice, CAST(p_size AS BIGINT))").as("wavg_price"),
        count(lit(1)).as("cnt"))
      .orderBy(col("p_brand"))
  }

  /** Custom Generator: parse_url_tuple over constructed URLs. */
  val qUdtfParseUrl: Q = (s, dir) => {
    Tables(s, dir, "documents").createOrReplaceTempView("ext_docs")
    s.sql("""
      SELECT doc_id, t.protocol, t.host, t.path, t.query
      FROM (SELECT doc_id,
              concat('https://', source, '.example.com/docs/', doc_id,
                     '?lang=', lang) AS url
            FROM ext_docs WHERE doc_id < 100) u
      LATERAL VIEW parse_url_tuple(url) t AS protocol, host, path, query
      ORDER BY doc_id""")
  }

  /** Z-order clustering quality (custom codegen expression ZOrder64 —
    * the Delta/Iceberg OPTIMIZE ZORDER BY layout primitive): rows keyed
    * by the Morton interleave of two 6-bit dims, tiled into 64 z-range
    * buckets. Each bucket's bounding box must stay an 8x8 tile — the
    * property that keeps per-file min/max zone maps selective on BOTH
    * columns after a z-ordered write (ExtensionsSpec asserts the bbox
    * bound; the oracle replays the interleave bit-exactly). */
  val qZorderCluster: Q = (s, dir) => {
    Tables(s, dir, "lineitem")
      .select((col("l_partkey") % 64).cast("long").as("a"),
        (col("l_suppkey") % 64).cast("long").as("b"))
      .withColumn("z", expr("zorder64(a, b)"))
      .withColumn("bucket", expr("z div 64"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"),
        min(col("a")).as("min_a"), max(col("a")).as("max_a"),
        min(col("b")).as("min_b"), max(col("b")).as("max_b"))
      .orderBy(col("bucket"))
  }

  val queries: Map[String, Q] = Map(
    "q_udf_field" -> qUdfField,
    "q_udaf_weighted_avg" -> qUdafWeightedAvg,
    "q_udtf_parse_url" -> qUdtfParseUrl,
    "q_zorder_cluster" -> qZorderCluster)

  val oracle: Map[String, String] = Map(
    "q_zorder_cluster" -> """
      WITH t AS (
        SELECT CAST(l_partkey % 64 AS BIGINT) AS a,
               CAST(l_suppkey % 64 AS BIGINT) AS b
        FROM lineitem),
      z AS (
        SELECT a, b,
          (((a >> 0) & 1) * 1 + ((b >> 0) & 1) * 2 +
           ((a >> 1) & 1) * 4 + ((b >> 1) & 1) * 8 +
           ((a >> 2) & 1) * 16 + ((b >> 2) & 1) * 32 +
           ((a >> 3) & 1) * 64 + ((b >> 3) & 1) * 128 +
           ((a >> 4) & 1) * 256 + ((b >> 4) & 1) * 512 +
           ((a >> 5) & 1) * 1024 + ((b >> 5) & 1) * 2048) AS zv
        FROM t)
      SELECT zv // 64 AS bucket, count(*) AS cnt,
        min(a) AS min_a, max(a) AS max_a,
        min(b) AS min_b, max(b) AS max_b
      FROM z GROUP BY 1 ORDER BY bucket""",
    "q_udf_field" -> """
      SELECT CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2
                                WHEN 'P' THEN 3 ELSE 0 END AS status_idx,
             count(*) AS cnt,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_price
      FROM orders GROUP BY 1 ORDER BY status_idx""",
    "q_udaf_weighted_avg" -> """
      SELECT p_brand,
        CAST(sum(CAST(p_retailprice AS DECIMAL(12,4)) * p_size) AS DOUBLE)
          / CAST(sum(p_size) AS DOUBLE) AS wavg_price,
        count(*) AS cnt
      FROM part GROUP BY p_brand ORDER BY p_brand""",
    "q_udtf_parse_url" -> """
      SELECT doc_id, 'https' AS protocol,
        source || '.example.com' AS host,
        '/docs/' || doc_id AS path,
        'lang=' || lang AS query
      FROM documents WHERE doc_id < 100 ORDER BY doc_id""")
}
