package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables._

/** Aggregation surface (SURVEY.md §2.D): hash aggregation with map-side
  * partials, multi-DISTINCT, ROLLUP/CUBE/GROUPING SETS, statistical
  * aggregates, exact/approx percentiles, arg-min/arg-max, ordered collect.
  *
  * Hive lineage: GroupByOperator partial/merge modes
  * [hive: ql/src/java/org/apache/hadoop/hive/ql/exec/GroupByOperator.java],
  * grouping sets via row replication, UDAFs in [hive: ql/.../udf/generic/].
  * Spark-first: everything here lowers to HashAggregateExec with partial
  * aggregation before the shuffle (map-side combine), which is exactly the
  * shape that scales — at 100 TB the shuffle carries one row per
  * (group, partition), not per input row.
  *
  * Hash-stability: money doubles are summed as exact DECIMAL and emitted as
  * double (SURVEY.md §5.4); every query ends in a total ORDER BY. The
  * `Tables` helpers doing this run on `graft.functions.DecimalKernels`, so
  * q1's cast, multiply and sum keep their unscaled values in longs and its
  * partial aggregate stays one whole-stage-codegen `HashAggregateExec`
  * (PlanSpec pins both).
  */
object Aggregates {

  /** TPC-H Q1-style pricing summary — the flagship end-to-end slice. */
  val q1Pricing: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") <= ts("1998-09-01 00:00:00"))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsumExact(discPrice(col("l_extendedprice"), col("l_discount")))
          .as("sum_disc_price"),
        dsumExact(charge(col("l_extendedprice"), col("l_discount"), col("l_tax")))
          .as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Multiple DISTINCT aggregates in one GROUP BY (Catalyst
    * RewriteDistinctAggregates expands to a single multi-stage plan).
    * An r18 pre-aggregate-to-(flag, part, supp)-grain rewrite was
    * measured a WASH here and reverted: TPC-H's pair domain keeps the
    * grain at ~40% of base rows, so the saved Expand volume only just
    * pays for the added grain exchange (interleaved mins 1.452 vs
    * 1.439 s; the same rewrite is a 2x win on q_agg_cube, whose grain
    * is ~6 rows). */
  val qAggDistinct: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("nd_part"),
        countDistinct(col("l_suppkey")).as("nd_supp"),
        countDistinct(col("l_partkey"), col("l_suppkey")).as("nd_pair"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"))
  }

  /** ROLLUP with NULL grouping keys made hash-stable via COALESCE. */
  val qAggRollup: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("cnt"))
      .orderBy(col("rf"), col("ls"))
  }

  /** Hive's GROUPING__ID virtual column (the multi-bit mask, leftmost
    * grouping column = most significant bit — Spark's grouping_id()
    * and DuckDB's multi-arg GROUPING share the convention): the
    * aggregation-level discriminator that tells rollup consumers WHICH
    * grouping set a row belongs to without coalescing sentinel values
    * into the keys. Null keys stay null; the deterministic total order
    * pins NULLS FIRST explicitly on both engines (their defaults
    * differ). */
  val qAggGroupingId: Q = (s, dir) => {
    Tables(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"),
        count(lit(1)).as("cnt"))
      .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
        col("g_rf"), col("g_ls"), col("cnt"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  /** CUBE + per-column GROUPING indicator (cast to int on both
    * engines). The cube runs over the (flag, status)-grain partial
    * sums, not raw lineitem (optimization r18, guide §2.3): CUBE's
    * Expand replicates every input row once per grouping set (4x
    * here) and re-evaluates the decimal cast + aggregate on each
    * replica, so collapsing to the ~6-row grain first does the
    * per-row work once. Value-identical: exact-decimal partial sums
    * re-aggregate associatively (decimal(28,4) partials into a
    * 38-digit sum — no overflow, no rounding before the final double
    * cast), counts sum, and grouping() indicators are computed by the
    * cube itself either way. */
  val qAggCube: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    val grain = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_extendedprice"))).as("ps"),
        count(lit(1)).as("c"))
    grain.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("ps")).cast("double").as("sum_price"),
        sum(col("c")).as("cnt"),
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_price"), col("cnt"), col("g_rf"), col("g_ls"))
      .orderBy(col("rf"), col("ls"))
  }

  /** Explicit GROUPING SETS through the SQL front-end. */
  val qAggGroupingSets: Q = (s, dir) => {
    Tables(s, dir, "orders").createOrReplaceTempView("gs_orders")
    s.sql("""
      SELECT coalesce(o_orderstatus, 'ALL') AS st,
             coalesce(CAST(year(o_orderdate) AS STRING), 'ALL') AS yr,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
             count(1) AS cnt
      FROM gs_orders
      GROUP BY GROUPING SETS ((o_orderstatus), (year(o_orderdate)), ())
      ORDER BY st, yr""")
  }

  /** Statistical aggregates (Welford-merged in both engines; rounded to
    * absorb last-ulp differences between JVM and C math). */
  val qAggStats: Q = (s, dir) => {
    val c = Tables(s, dir, "customer")
    c.groupBy(col("c_mktsegment"))
      .agg(
        round(stddev_samp(col("c_acctbal")), 4).as("sd_samp"),
        round(stddev_pop(col("c_acctbal")), 4).as("sd_pop"),
        round(var_samp(col("c_acctbal")), 4).as("v_samp"),
        round(var_pop(col("c_acctbal")), 4).as("v_pop"),
        round(corr(col("c_acctbal"), col("c_custkey").cast("double")), 4).as("r"),
        round(covar_samp(col("c_acctbal"), col("c_custkey").cast("double")), 4)
          .as("cov_samp"),
        round(covar_pop(col("c_acctbal"), col("c_custkey").cast("double")), 4)
          .as("cov_pop"),
        count(lit(1)).as("cnt"))
      .orderBy(col("c_mktsegment"))
  }

  /** Exact percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`). */
  val qAggPercentile: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_quantity"), lit(0.5)).as("p50"),
        percentile(col("l_quantity"), lit(0.9)).as("p90"),
        percentile(col("l_quantity"), lit(0.99)).as("p99"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)")
          .as("p25_disc"),
        min(col("l_quantity")).as("qmin"),
        max(col("l_quantity")).as("qmax"))
      .orderBy(col("l_returnflag"))
  }

  /** Boolean/conditional aggregate family (Hive/ANSI every-any-some). */
  val qAggBool: Q = (s, dir) => {
    Tables(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        bool_and(col("o_totalprice") > 900).as("all_over_900"),
        bool_or(col("o_totalprice") > 400000).as("any_over_400k"),
        count_if(col("o_orderpriority") === "1-URGENT").as("n_urgent"),
        count_if(month(col("o_orderdate")) === 1).as("n_january"))
      .orderBy(col("o_orderstatus"))
  }

  /** Approximate aggregates (HLL++ distinct, GK percentile, streaming
    * histogram). The ONE remaining declared no-oracle query, and its
    * surface is sketch values ONLY (VERDICT r14 item 7 — the
    * deterministic histogram slice was carved into q_agg_hist_numeric
    * in r9, and the exact `cnt` column is dropped here so nothing
    * oracle-able hides behind the declaration): HLL++ register
    * estimates, GK-summary percentiles and merged float centroids are
    * engine-specific by construction — no cross-engine oracle can
    * exist. The driver records a rows-only check; PropertySpec pins
    * run-to-run determinism, partitioning invariance (the partial/
    * merge path that survives 100 TB) and error bounds vs exact. */
  val qAggApprox: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_nd_part"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("approx_p50"),
        // streaming b-bin histogram (Hive GenericUDAFHistogramNumeric);
        // rendered to a stable string since bin centroids are float-y
        expr("""array_join(transform(histogram_numeric(l_quantity, 5),
                 h -> concat(round(h.x, 2), ':', round(h.y, 0))), '|')""")
          .as("hist5"))
      .orderBy(col("l_returnflag"))
  }

  /** The DETERMINISTIC slice of histogram_numeric, split out of
    * [[qAggApprox]] so it gains a hash-matched oracle (VERDICT r8 item 6):
    * when the column's distinct-value count (l_linenumber: exactly 7) is
    * <= the bin count, NumericHistogram never merges DISTINCT x's — each
    * partial holds one exact (x, count) bin per value, and the final merge
    * combines equal-x bins first (distance 0), weight-summing them with x
    * unchanged — so the result is the exact per-value frequency table,
    * reconstructable by any engine with GROUP BY. Only the genuinely
    * engine-specific sketch values (HLL, GK, merged centroids) remain
    * spec-bounded in q_agg_approx. Still exercises the full
    * TypedImperativeAggregate partial/merge path that survives 100 TB. */
  val qAggHistNumeric: Q = (s, dir) => {
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("""array_join(transform(histogram_numeric(l_linenumber, 7),
                 h -> concat(h.x, ':', cast(h.y as bigint))), '|')""")
          .as("hist7"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"))
  }

  /** Heavy hitters via the Spark 4.1 approx_top_k sketch (frequent-items
    * / Misra-Gries family — the modern form of Hive's ngrams-style
    * estimation). Sized EXACT here: maxItemsTracked (10000) exceeds the
    * corpus vocabulary, so every count is precise and the DuckDB oracle
    * can replay it — the query still exercises the sketch's
    * partial-aggregable merge path, which is what survives 100 TB (a
    * bounded sketch per partition, merged; never a full groupBy when
    * only the head of the distribution is wanted). Deterministic
    * re-rank (freq desc, item) after the sketch, then top 10. */
  val qAggTopkSketch: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    Tables(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(expr("approx_top_k(tok, 100, 10000)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("item"), col("e.count").as("freq"))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("freq").desc, col("item"))))
      .filter(col("rk") <= 10)
      .select(col("item"), col("freq"))
      .orderBy(col("item"))
  }

  /** Theta-sketch distinct-count set algebra (the Hive 4 DataSketches
    * integration analogue — Hive registers theta sketch_union /
    * sketch_intersect UDAFs; here one custom KMV
    * TypedImperativeAggregate carries the whole algebra): per-source
    * KMV sketches over the 3-gram shingle space, then pairwise
    * overlap / union NDV computed declaratively on the sketch arrays
    * (array_intersect + inclusion-exclusion — codegen'd, no second
    * custom function). k = 16384 >= every per-source shingle NDV at
    * bench scale, so the sketch is EXACT below its cap and fully
    * DuckDB-oracled; the k << NDV estimator path (the 100 TB shape:
    * 128 KiB bounded state per group, map-side mergeable) is
    * error-bounded in SketchSpec. */
  val qAggThetaSketch: Q = (s, dir) => {
    val sh = Tables(s, dir, "documents")
      .filter(col("source").isin("src0", "src1", "src2", "src3"))
      .select(col("source"), split(col("text"), " ").as("t"))
      .select(col("source"),
        explode(when(size(col("t")) >= 3,
          expr("""transform(sequence(1, size(t) - 2),
                  i -> concat_ws(' ', element_at(t, i),
                                 element_at(t, i + 1),
                                 element_at(t, i + 2)))"""))
          .otherwise(array())).as("g"))
    // persist the sketch frame (4 rows x one <=16K-slot array): without
    // it the pairwise self-join recomputes the whole shingle+agg subtree
    // per side — TWO full documents scans where one suffices (VERDICT
    // r7 item 4). The set algebra then runs over the cached sketches;
    // at 100 TB the corpus is scanned exactly once and the join moves
    // kilobytes. CacheScope releases it after materialization.
    val sk = graft.CacheScope.track(
      sh.groupBy(col("source"))
        .agg(expr("kmv(xxhash64(g), 16384)").as("sk"))
        .persist())
    sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        size(col("a.sk")).as("ndv_a"), size(col("b.sk")).as("ndv_b"),
        size(array_intersect(col("a.sk"), col("b.sk"))).as("overlap"))
      .withColumn("union_ndv", col("ndv_a") + col("ndv_b") - col("overlap"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Bitwise aggregates (bit_or/bit_and/bit_xor) — presence-bitmap
    * building blocks (e.g. "which line numbers ever occur per order
    * class" as one int): trivially partial-aggregable, exact. */
  val qAggBitwise: Q = (s, dir) => {
    Tables(s, dir, "lineitem")
      .select(col("l_returnflag"),
        expr("shiftleft(1, l_linenumber)").as("m"),
        col("l_linenumber"))
      .groupBy(col("l_returnflag"))
      .agg(bit_or(col("m")).as("line_mask"),
        bit_and(col("m")).as("common_mask"),
        bit_xor(col("l_linenumber")).as("xor_lines"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"))
  }

  /** Equi-depth (height-balanced) histogram — the Hive column-stats
    * histogram ANALYZE builds for the CBO (Hive 4 computes it from a
    * KLL sketch; classic Hive from a sample). Mirrors that practice:
    * ntile(32) over a DETERMINISTIC ~5% hash sample, so the global
    * sort the ranking needs runs on sample-sized data by design —
    * never on the full 100 TB column. Bucket min/max/count are exact
    * over the sample on both engines (min/max of doubles, no sums). */
  val qAggHistogram: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val sample = Tables(s, dir, "lineitem")
      .filter(((col("l_orderkey") % 1000000007L) * 2654435761L) % 1000 < 50)
      .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val w = Window.orderBy(col("l_extendedprice"), col("l_orderkey"),
      col("l_linenumber"))
    sample.withColumn("bucket", ntile(32).over(w))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
      .orderBy(col("bucket"))
  }

  /** SQL:2016 LISTAGG (Spark 4 native; Hive expresses the same via
    * concat_ws(collect_list)) with DISTINCT + WITHIN GROUP ordering so
    * the string is deterministic cross-engine. */
  val qAggListagg: Q = (s, dir) => {
    Tables(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("listagg(DISTINCT o_orderstatus, ',') " +
          "WITHIN GROUP (ORDER BY o_orderstatus)").as("statuses"),
        count(lit(1)).as("cnt"))
      .orderBy(col("o_orderpriority"))
  }

  /** min_by / max_by with a struct ordering key so ties are impossible
    * (oracle expresses the same thing with window row_number). */
  val qAggMinMaxBy: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
    o.groupBy(col("o_orderstatus"))
      .agg(
        max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
          .as("top_order"),
        min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
          .as("bot_order"),
        count(lit(1)).as("cnt"))
      .orderBy(col("o_orderstatus"))
  }

  /** Ordered collect_list → string (collect_set order is unstable, so the
    * stable spelling is sort_array(collect_list) — SURVEY.md §5.4). */
  val qAggCollect: Q = (s, dir) => {
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region")
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy(col("r_name"))
  }

  /** Two-stage (salted) aggregation: groupBy(key, salt) partial, then
    * groupBy(key) merge. Semantically identical to a direct groupBy — that
    * is what the oracle checks — but the first stage spreads a hot key over
    * 16 reducers, the pattern that survives skew at 100 TB. */
  val qAggSalted: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    val salted = li.withColumn("salt", pmod(col("l_orderkey"), lit(16)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(dec(col("l_quantity"))).as("part_qty"),
        count(lit(1)).as("part_cnt"))
    salted.groupBy(col("l_returnflag"))
      .agg(sum(col("part_qty")).cast("double").as("sum_qty"),
        sum(col("part_cnt")).as("cnt"))
      .orderBy(col("l_returnflag"))
  }

  /** Market-basket association mining (the Apriori support/lift step,
    * Agrawal & Srikant 1994): top part pairs co-purchased in the same
    * order, ranked by support then lift. Lift is kept in exact integer
    * micro-units (supp·N·1e6 div cnt_a·cnt_b) so both engines agree
    * bit-for-bit — no float division.
    *
    * Scale: the pair fan-out partial-aggregates on (a, b) before the
    * support>=2 prune (same market-basket discipline as
    * q_graph_triangles); per-item order counts are |parts|-sized and
    * broadcast to the surviving pairs. One corpus-sized stage. */
  val qBasketPairs: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val liP = graft.CacheScope.track(
      li.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // scalar total as a 1-row broadcast, not a driver-side count()
    val nOrders = liP.agg(
      countDistinct(col("l_orderkey")).as("n_orders"))
    val itemCnt = liP.groupBy(col("l_partkey").as("p"))
      .agg(count(lit(1)).as("cnt"))
    val pairs = liP.as("a")
      .join(liP.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= 2)
    pairs
      .join(broadcast(itemCnt.as("ca")), col("pa") === col("ca.p"))
      .join(broadcast(itemCnt.as("cb")), col("pb") === col("cb.p"))
      .crossJoin(broadcast(nOrders))
      .select(col("pa"), col("pb"), col("supp"),
        expr("(supp * n_orders * 1000000L) div " +
          "(`ca`.cnt * `cb`.cnt)").as("lift_micro"))
      .orderBy(col("supp").desc, col("lift_micro").desc,
        col("pa"), col("pb"))
      .limit(20)
      .orderBy(col("pa"), col("pb"))
  }

  val queries: Map[String, Q] = Map(
    "q_basket_pairs" -> qBasketPairs,
    "q1_pricing_summary" -> q1Pricing,
    "q_agg_distinct" -> qAggDistinct,
    "q_agg_rollup" -> qAggRollup,
    "q_agg_grouping_id" -> qAggGroupingId,
    "q_agg_cube" -> qAggCube,
    "q_agg_grouping_sets" -> qAggGroupingSets,
    "q_agg_stats" -> qAggStats,
    "q_agg_percentile" -> qAggPercentile,
    "q_agg_bool" -> qAggBool,
    "q_agg_approx" -> qAggApprox,
    "q_agg_hist_numeric" -> qAggHistNumeric,
    "q_agg_minmax_by" -> qAggMinMaxBy,
    "q_agg_collect" -> qAggCollect,
    "q_agg_salted" -> qAggSalted,
    "q_agg_topk_sketch" -> qAggTopkSketch,
    "q_agg_theta_sketch" -> qAggThetaSketch,
    "q_agg_listagg" -> qAggListagg,
    "q_agg_histogram" -> qAggHistogram,
    "q_agg_bitwise" -> qAggBitwise)

  private val q1Sql = """
    SELECT l_returnflag, l_linestatus,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(5,4))), 4) AS DOUBLE) AS sum_disc_price,
      CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(5,4)) * CAST(1 + l_tax AS DECIMAL(5,4))), 4) AS DOUBLE) AS sum_charge,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(l_quantity) AS avg_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
      CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(l_discount) AS avg_disc,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  val oracle: Map[String, String] = Map(
    "q_basket_pairs" -> """
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
      ic AS (SELECT l_partkey AS p, count(*) AS cnt FROM li GROUP BY 1),
      pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS supp
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2),
      t AS (
        SELECT pa, pb, supp,
          CAST((supp * n.n_orders * 1000000) // (ca.cnt * cb.cnt)
            AS BIGINT) AS lift_micro
        FROM pairs JOIN ic ca ON pairs.pa = ca.p
                   JOIN ic cb ON pairs.pb = cb.p
                   CROSS JOIN n
        ORDER BY supp DESC, lift_micro DESC, pa, pb LIMIT 20)
      SELECT pa, pb, supp, lift_micro FROM t ORDER BY pa, pb""",
    "q1_pricing_summary" -> q1Sql,
    "q_agg_bitwise" -> """
      SELECT l_returnflag,
        bit_or(1 << l_linenumber) AS line_mask,
        bit_and(1 << l_linenumber) AS common_mask,
        bit_xor(l_linenumber) AS xor_lines,
        count(*) AS cnt
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // exact reconstruction of the <=bins histogram_numeric slice: per-value
    // frequency table rendered to the same 'x:y|x:y' string
    "q_agg_hist_numeric" -> """
      WITH g AS (SELECT l_returnflag, l_linenumber AS x, count(*) AS y
                 FROM lineitem GROUP BY 1, 2)
      SELECT l_returnflag,
        string_agg(CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR),
                   '|' ORDER BY x) AS hist7,
        CAST(sum(y) AS BIGINT) AS cnt
      FROM g GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_agg_histogram" -> """
      WITH s AS (
        SELECT l_extendedprice, l_orderkey, l_linenumber
        FROM lineitem
        WHERE ((l_orderkey % 1000000007) * 2654435761) % 1000 < 50),
      b AS (
        SELECT l_extendedprice,
          ntile(32) OVER (ORDER BY l_extendedprice, l_orderkey,
            l_linenumber) AS bucket
        FROM s)
      SELECT CAST(bucket AS INT) AS bucket, count(*) AS n,
        min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      FROM b GROUP BY bucket ORDER BY bucket""",
    "q_agg_listagg" -> """
      SELECT o_orderpriority,
        string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
          AS statuses,
        count(*) AS cnt
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_agg_theta_sketch" -> """
      WITH toks AS (SELECT source, string_split(text, ' ') AS t
                    FROM documents
                    WHERE source IN ('src0','src1','src2','src3')),
      sh AS (SELECT DISTINCT source,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
             FROM (SELECT *, unnest(range(1, len(t) - 1)) AS i FROM toks)),
      nd AS (SELECT source, count(*) AS c FROM sh GROUP BY source),
      ov AS (SELECT a.source AS sa, b.source AS sb, count(*) AS o
             FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
             GROUP BY 1, 2)
      SELECT na.source AS src_a, nb.source AS src_b,
        CAST(na.c AS INT) AS ndv_a, CAST(nb.c AS INT) AS ndv_b,
        CAST(coalesce(o, 0) AS INT) AS overlap,
        CAST(na.c + nb.c - coalesce(o, 0) AS INT) AS union_ndv
      FROM nd na JOIN nd nb ON na.source < nb.source
      LEFT JOIN ov ON sa = na.source AND sb = nb.source
      ORDER BY src_a, src_b""",
    "q_agg_topk_sketch" -> """
      WITH c AS (
        SELECT tok AS item, count(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY tok),
      t AS (SELECT * FROM c ORDER BY freq DESC, item LIMIT 10)
      SELECT item, freq FROM t ORDER BY item""",
    "q_agg_distinct" -> """
      SELECT l_returnflag,
        count(DISTINCT l_partkey) AS nd_part,
        count(DISTINCT l_suppkey) AS nd_supp,
        count(DISTINCT ROW(l_partkey, l_suppkey)) AS nd_pair,
        count(*) AS cnt
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_agg_rollup" -> """
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             count(*) AS cnt
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY rf, ls""",
    "q_agg_grouping_id" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
             CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
             count(*) AS cnt
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q_agg_cube" -> """
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
             count(*) AS cnt,
             CAST(grouping(l_returnflag) AS INT) AS g_rf,
             CAST(grouping(l_linestatus) AS INT) AS g_ls
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY rf, ls""",
    "q_agg_grouping_sets" -> """
      SELECT coalesce(o_orderstatus, 'ALL') AS st,
             coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS yr,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
             count(*) AS cnt
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (year(o_orderdate)), ())
      ORDER BY st, yr""",
    "q_agg_stats" -> """
      SELECT c_mktsegment,
        round(stddev_samp(c_acctbal), 4) AS sd_samp,
        round(stddev_pop(c_acctbal), 4) AS sd_pop,
        round(var_samp(c_acctbal), 4) AS v_samp,
        round(var_pop(c_acctbal), 4) AS v_pop,
        round(corr(c_acctbal, CAST(c_custkey AS DOUBLE)), 4) AS r,
        round(covar_samp(c_acctbal, CAST(c_custkey AS DOUBLE)), 4) AS cov_samp,
        round(covar_pop(c_acctbal, CAST(c_custkey AS DOUBLE)), 4) AS cov_pop,
        count(*) AS cnt
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_agg_percentile" -> """
      SELECT l_returnflag,
        quantile_cont(l_quantity, 0.5) AS p50,
        quantile_cont(l_quantity, 0.9) AS p90,
        quantile_cont(l_quantity, 0.99) AS p99,
        quantile_disc(l_quantity, 0.25) AS p25_disc,
        min(l_quantity) AS qmin,
        max(l_quantity) AS qmax
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_agg_bool" -> """
      SELECT o_orderstatus,
        bool_and(o_totalprice > 900) AS all_over_900,
        bool_or(o_totalprice > 400000) AS any_over_400k,
        CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
        CAST(count_if(month(o_orderdate) = 1) AS BIGINT) AS n_january
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_agg_minmax_by" -> """
      WITH ranked AS (
        SELECT o_orderstatus, o_orderkey,
          row_number() OVER (PARTITION BY o_orderstatus
                             ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
          row_number() OVER (PARTITION BY o_orderstatus
                             ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin,
          count(*) OVER (PARTITION BY o_orderstatus) AS cnt
        FROM orders)
      SELECT o_orderstatus,
        max(CASE WHEN rmax = 1 THEN o_orderkey END) AS top_order,
        max(CASE WHEN rmin = 1 THEN o_orderkey END) AS bot_order,
        max(cnt) AS cnt
      FROM ranked GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_agg_collect" -> """
      SELECT r_name,
        string_agg(n_name, ',' ORDER BY n_name) AS nations,
        count(*) AS n_nations
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name""",
    "q_agg_salted" -> """
      SELECT l_returnflag,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        count(*) AS cnt
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
}
