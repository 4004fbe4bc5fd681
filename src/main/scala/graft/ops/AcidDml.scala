package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables._

/** ACID DML analogue (SURVEY.md §2.L): UPDATE / DELETE / MERGE with
  * copy-on-write parquet rewrites — the result semantics of Hive 3 full
  * ACID [hive: ql/src/java/org/apache/hadoop/hive/ql/io/AcidUtils.java]
  * re-expressed Spark-first, without delta files or a compactor.
  *
  * Scale design (the Iceberg/Delta COW strategy in plain Spark):
  *  - The table is partitioned; a DML whose predicate pins the partition
  *    column rewrites ONLY the affected partitions
  *    (`partitionOverwriteMode=dynamic`), so a DELETE touching one
  *    partition of a 100 TB table costs one partition's scan + write, not
  *    a full rewrite. The scan's partition filter prunes at file-listing
  *    time (asserted in DmlSpec).
  *  - MERGE lowers to one full-outer shuffle join on the merge key — the
  *    minimal data movement for an upsert; no driver-side row handling.
  *  - The rewrite set is materialized (localCheckpoint) before the
  *    overwrite commits, standing in for the write-new-then-atomic-swap
  *    protocol a production table format uses: Spark refuses to overwrite
  *    a path that is still a lazy source of the same plan, for exactly the
  *    torn-read reason the real protocol exists.
  *
  * Each query seeds a temp COW table from the fixture, applies the DML,
  * re-reads the final table state and aggregates it; the DuckDB oracle
  * computes the same post-DML aggregate directly from the fixture —
  * proving result-equivalence of the DML, not just that files moved.
  */
object AcidDml {

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    // deleteOnExit would only remove the (empty) parent dir; the COW table
    // seeded under it is a full copy of orders, so without a recursive
    // cleanup every driver run leaks it on disk (ADVICE r4).
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
        f.delete(): Unit
      }
      rm(d)
    }))
    new java.io.File(d, "table").getAbsolutePath
  }

  /** Seed a partitioned COW table: orders partitioned by o_orderstatus,
    * money as exact decimal so rewrites cannot perturb doubles. */
  private def seedOrders(s: org.apache.spark.sql.SparkSession,
                         dir: String, table: String): Unit = {
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        dec(col("o_totalprice")).as("o_totalprice"),
        col("o_orderpriority"), col("o_orderstatus"))
      .write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(table)
  }

  /** DELETE FROM orders WHERE o_orderstatus = 'F' AND o_totalprice < 50000
    * — predicate pins partition 'F', so only that partition is rewritten
    * with its survivors; 'O' and 'P' files are untouched (DmlSpec). */
  val qDmlDelete: Q = (s, dir) => {
    val table = tmp("graft_acid_del")
    seedOrders(s, dir, table)
    val doomed = col("o_orderstatus") === "F" && col("o_totalprice") < 50000
    s.read.parquet(table)
      .filter(col("o_orderstatus") === "F").filter(!doomed)
      .localCheckpoint()
      // dynamic overwrite scoped to THIS write via the per-writer option —
      // setting it on the session leaked the changed overwrite semantics
      // into every later query in the shared session (VERDICT r4)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_orderstatus").parquet(table)
    s.read.parquet(table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        dsumExact(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** UPDATE orders SET o_orderpriority = '0-REPRICED'
    * WHERE o_orderstatus = 'P' AND o_totalprice > 400000 — same
    * partition-pruned COW shape, rewriting rows instead of dropping. */
  val qDmlUpdate: Q = (s, dir) => {
    val table = tmp("graft_acid_upd")
    seedOrders(s, dir, table)
    val hit = col("o_totalprice") > 400000
    s.read.parquet(table)
      .filter(col("o_orderstatus") === "P")
      .withColumn("o_orderpriority",
        when(hit, lit("0-REPRICED")).otherwise(col("o_orderpriority")))
      .localCheckpoint()
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_orderstatus").parquet(table)
    s.read.parquet(table)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
        dsumExact(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** MERGE INTO target USING source ON o_orderkey
    *   WHEN MATCHED THEN UPDATE SET status = 'U', price = price + 1000
    *   WHEN NOT MATCHED THEN INSERT — the upsert lowered to ONE full-outer
    * shuffle join (rows only in the target pass through untouched). */
  val qDmlMerge: Q = (s, dir) => {
    val table = tmp("graft_acid_mrg")
    val orders = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec(col("o_totalprice")).as("o_totalprice"))
    val target = orders.filter(col("o_orderkey") % 3 === 0)
    val source = orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), lit("U").as("s_status"),
        (col("o_totalprice") + 1000).as("s_price"))
    target.join(source, Seq("o_orderkey"), "full_outer")
      .select(col("o_orderkey"),
        coalesce(col("s_status"), col("o_orderstatus")).as("o_orderstatus"),
        coalesce(col("s_price"), col("o_totalprice")).as("o_totalprice"))
      .write.mode("overwrite").parquet(table)
    s.read.parquet(table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        dsumExact(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Snapshot isolation / time travel over versioned COW commits — the
    * read side of the ACID story (Hive ACID readers pick a write-id
    * snapshot; Iceberg/Delta expose it as VERSION AS OF). A commit here
    * is manifest-style: the UPDATE writes ONLY the rewritten partition
    * into a new version dir; v1 readers take the changed partition from
    * v1 and every untouched partition from v0 — shared, never copied.
    * At 100 TB that is the whole point: a commit costs the changed
    * partition, old snapshots stay readable for free, and a reader of
    * v0 is never torn by the v1 writer. The query aggregates BOTH
    * versions; the oracle recomputes each from the fixture. */
  val qDmlTimeTravel: Q = (s, dir) => {
    val base = tmp("graft_acid_tt")
    val v0 = s"$base/v0"
    val v1 = s"$base/v1"
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        dec(col("o_totalprice")).as("o_totalprice"),
        col("o_orderpriority"), col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(v0)
    // the UPDATE: bump every price in partition 'P'; commit touches only
    // that partition's files, written under the NEW version dir
    s.read.parquet(v0).filter(col("o_orderstatus") === "P")
      .withColumn("o_totalprice",
        (col("o_totalprice") + lit(1000)).cast("decimal(18,4)"))
      .write.mode("overwrite").parquet(v1)
    val readV0 = s.read.parquet(v0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val readV1 = s.read.parquet(v0).filter(col("o_orderstatus") =!= "P")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .union(s.read.parquet(v1)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus")))
    def snap(tag: String, df: DataFrame) = df.agg(
      count(lit(1)).as("cnt"),
      dsumExact(col("o_totalprice")).as("sum_price"))
      .select(lit(tag).as("version"), col("cnt"), col("sum_price"))
    snap("v0", readV0).union(snap("v1", readV1)).orderBy(col("version"))
  }

  /** SCD Type-2 dimension build: compress each customer's order-status
    * stream into versioned rows — a new version opens only when the
    * attribute CHANGES (lag filter), valid_to = next version's start,
    * open versions flagged current. The standard slowly-changing-
    * dimension history table (Kimball SCD2), built in two window
    * passes over ONE per-key shuffle.
    *
    * Scale: both windows partition by c_custkey — one exchange, per-key
    * sorts, no global ordering anywhere; the change filter compresses
    * before the second (lead) pass. */
  val qDimScd2: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val changes = Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderstatus"))
      .withColumn("prev_st", lag(col("o_orderstatus"), 1).over(w))
      .filter(col("prev_st").isNull ||
        col("o_orderstatus") =!= col("prev_st"))
    val w2 = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    changes
      .withColumn("ver", row_number().over(w2))
      .withColumn("next_from", lead(col("o_orderdate"), 1).over(w2))
      .select(col("o_custkey"), col("ver"),
        col("o_orderstatus").as("status"),
        fmtTs(col("o_orderdate")).as("valid_from"),
        coalesce(fmtTs(col("next_from")), lit("9999-12-31 00:00:00"))
          .as("valid_to"),
        col("next_from").isNull.as("is_current"))
      .orderBy(col("o_custkey"), col("ver"))
  }

  /** Change-data-feed snapshot diff — Delta's `table_changes` / Iceberg's
    * changelog scan over two COW versions: the v0→v1 commit updates,
    * deletes and inserts rows in partition 'P', and the diff classifies
    * every change with pre/post images, reported as per-class counts and
    * exact-decimal sums.
    *
    * Scale: the diff scans ONLY the partition the commit's manifest
    * touched — unchanged partitions are shared between versions by
    * construction (same files), so they cannot contribute changes and
    * are never read. The classification itself is one full-outer join
    * on the key, co-partitioned on both sides. */
  val qDmlSnapshotDiff: Q = (s, dir) => {
    val base = tmp("graft_acid_cdf")
    val v0 = s"$base/v0"
    val v1 = s"$base/v1"
    seedOrders(s, dir, v0)
    // the commit, all three change classes in partition 'P':
    // custkey % 3 == 0 deleted, the rest price-bumped (update), plus
    // re-keyed copies of custkey % 7 == 0 rows appended (insert)
    val p0 = s.read.parquet(v0).filter(col("o_orderstatus") === "P")
    p0.filter(col("o_custkey") % 3 =!= 0)
      .withColumn("o_totalprice",
        (col("o_totalprice") + lit(1000)).cast("decimal(18,4)"))
      .union(p0.filter(col("o_custkey") % 7 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
      .write.mode("overwrite").parquet(v1)
    // CDF: only the rewritten partition is diffed; the join is keyed
    val pre = s.read.parquet(v0).filter(col("o_orderstatus") === "P")
      .select(col("o_orderkey").as("k0"),
        col("o_totalprice").as("price0"))
    val post = s.read.parquet(v1)
      .select(col("o_orderkey").as("k1"),
        col("o_totalprice").as("price1"))
    val diff = pre.join(post, col("k0") === col("k1"), "full_outer")
      .withColumn("change", when(col("k0").isNull, "insert")
        .when(col("k1").isNull, "delete")
        .when(col("price0") =!= col("price1"), "update")
        .otherwise("unchanged"))
    diff.groupBy(col("change"))
      .agg(count(lit(1)).as("cnt"),
        dsumExact(col("price0")).as("sum_pre"),
        dsumExact(col("price1")).as("sum_post"))
      .orderBy(col("change"))
  }

  val queries: Map[String, Q] = Map(
    "q_dml_snapshot_diff" -> qDmlSnapshotDiff,
    "q_dim_scd2" -> qDimScd2,
    "q_dml_delete" -> qDmlDelete,
    "q_dml_update" -> qDmlUpdate,
    "q_dml_merge" -> qDmlMerge,
    "q_dml_timetravel" -> qDmlTimeTravel)

  val oracle: Map[String, String] = Map(
    "q_dml_snapshot_diff" -> """
      WITH p AS (
        SELECT o_orderkey, o_custkey,
          CAST(o_totalprice AS DECIMAL(18,4)) AS price
        FROM orders WHERE o_orderstatus = 'P'),
      pre AS (SELECT o_orderkey AS k0, price AS price0 FROM p),
      post AS (
        SELECT o_orderkey AS k1, price + 1000 AS price1
        FROM p WHERE o_custkey % 3 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000, price FROM p WHERE o_custkey % 7 = 0),
      d AS (
        SELECT price0, price1,
          CASE WHEN k0 IS NULL THEN 'insert'
               WHEN k1 IS NULL THEN 'delete'
               WHEN price0 <> price1 THEN 'update'
               ELSE 'unchanged' END AS change
        FROM pre FULL OUTER JOIN post ON k0 = k1)
      SELECT change, count(*) AS cnt,
        CAST(round(sum(price0), 4) AS DOUBLE) AS sum_pre,
        CAST(round(sum(price1), 4) AS DOUBLE) AS sum_post
      FROM d GROUP BY 1 ORDER BY change""",
    "q_dim_scd2" -> """
      WITH ordered AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
          lag(o_orderstatus) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS prev_st
        FROM orders),
      changes AS (
        SELECT * FROM ordered
        WHERE prev_st IS NULL OR o_orderstatus <> prev_st),
      v AS (
        SELECT o_custkey,
          CAST(row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS INT) AS ver,
          o_orderstatus AS status, o_orderdate,
          lead(o_orderdate) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS next_from
        FROM changes)
      SELECT o_custkey, ver, status,
        strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
        coalesce(strftime(next_from, '%Y-%m-%d %H:%M:%S'),
          '9999-12-31 00:00:00') AS valid_to,
        next_from IS NULL AS is_current
      FROM v ORDER BY o_custkey, ver""",
    "q_dml_timetravel" -> """
      SELECT 'v0' AS version, count(*) AS cnt,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
          AS sum_price
      FROM orders
      UNION ALL
      SELECT 'v1', count(*),
        CAST(sum(CASE WHEN o_orderstatus = 'P'
          THEN CAST(o_totalprice AS DECIMAL(18,4)) + 1000
          ELSE CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE)
      FROM orders
      ORDER BY version""",
    "q_dml_delete" -> """
      SELECT o_orderstatus, count(*) AS cnt,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
          AS sum_price
      FROM orders
      WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_dml_update" -> """
      SELECT CASE WHEN o_orderstatus = 'P' AND o_totalprice > 400000
                  THEN '0-REPRICED' ELSE o_orderpriority END
               AS o_orderpriority,
             count(*) AS cnt,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
          AS sum_price
      FROM orders
      GROUP BY 1 ORDER BY o_orderpriority""",
    "q_dml_merge" -> """
      WITH tgt AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(18,4)) AS p
        FROM orders WHERE o_orderkey % 3 = 0),
      src AS (
        SELECT o_orderkey, 'U' AS s_status,
               CAST(o_totalprice AS DECIMAL(18,4)) + 1000 AS s_price
        FROM orders WHERE o_orderkey % 2 = 0),
      merged AS (
        SELECT coalesce(s.s_status, t.o_orderstatus) AS o_orderstatus,
               coalesce(s.s_price, t.p) AS p
        FROM tgt t FULL JOIN src s ON t.o_orderkey = s.o_orderkey)
      SELECT o_orderstatus, count(*) AS cnt,
        CAST(sum(p) AS DOUBLE) AS sum_price
      FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""")
}
