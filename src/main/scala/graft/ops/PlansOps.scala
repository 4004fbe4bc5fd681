package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables

/** Queries backed by the engine's custom plan nodes (SURVEY.md §2.F /
  * §7.3 tier (c): LogicalPlan + SparkStrategy + SparkPlan). */
object PlansOps {

  /** Top-3 line items per supplier via the GroupedTopK operator — same
    * semantics as q_window_topk_group (the oracle is that formulation)
    * but executed with bounded per-partition heaps + candidate-only
    * shuffle instead of a full shuffle + sort. */
  val qTopKGrouped: Q = (s, dir) =>
    graft.api.Graft.groupedTopK(Tables(s, dir, "lineitem"), Seq("l_suppkey"),
        Seq("l_extendedprice" -> false, "l_orderkey" -> true,
          "l_linenumber" -> true), k = 3)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
      .orderBy(col("l_suppkey"), col("l_extendedprice").desc,
        col("l_orderkey"), col("l_linenumber"))

  /** Results-cache hit path as a declared query (VERDICT r7 item 3):
    * the same aggregate runs twice through
    * [[graft.plans.ResultsCache]]; the returned frame is the SECOND
    * run, served from the materialized parquet (require()-pinned), so
    * the driver's oracle compare covers the cache-serve path — values
    * must survive the round trip bit-exact — not just the spec. */
  val qResultsCacheHit: Q = (s, dir) => {
    import graft.plans.ResultsCache
    def q = Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(Tables.dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("cnt"))
    ResultsCache.run(q) // fill (or hit, if a prior run already filled)
    val served = ResultsCache.run(q)
    require(ResultsCache.lastHit, "results cache must serve the rerun")
    served.orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** The q_join_asof semantics executed by the custom
    * [[graft.plans.AsOfJoinExec]] sort-merge operator instead of the
    * tagged-union + window formulation: each side hash-clusters on
    * user_id and sorts (user_id, ts) independently, then one O(1)-state
    * forward merge per partition picks the latest purchase at-or-before
    * each click. Same oracle SQL as q_join_asof — the two engines AND
    * the two Spark formulations must all agree. */
  val qJoinAsofCustom: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"),
        col("event_id").as("pid"))
    graft.api.Graft.asofJoin(clicks, buys,
        Seq("user_id"), Seq("b_user"), "ts", "b_ts", Seq("pid"))
      .select(col("user_id"), col("event_id").as("click_id"),
        Tables.fmtTsUs(col("ts")).as("click_ts"),
        col("pid").as("asof_pid"))
      .orderBy(col("user_id"), col("click_id"))
  }

  /** The q_join_asof_tol semantics (1-hour staleness gate) executed by
    * the native operator's tolerance parameter instead of the window
    * formulation's carried-timestamp gate — same DuckDB oracle, so the
    * operator extension is value-proven, not just spec'd. */
  val qJoinAsofTolCustom: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"),
        col("event_id").as("pid"))
    graft.api.Graft.asofJoin(clicks, buys,
        Seq("user_id"), Seq("b_user"), "ts", "b_ts", Seq("pid"),
        toleranceUs = Some(3600000000L))
      .select(col("user_id"), col("event_id").as("click_id"),
        col("pid").as("pid_tol"),
        (expr("unix_micros(ts)") - expr("unix_micros(b_ts)"))
          .as("wait_us"))
      .orderBy(col("user_id"), col("click_id"))
  }

  /** The q_join_asof_forward semantics (earliest purchase at-or-after
    * each click) executed by the native operator's FORWARD direction
    * instead of the FOLLOWING-frame window formulation — same DuckDB
    * forward-ASOF oracle, so all three agree: window form, native op,
    * DuckDB. */
  val qJoinAsofForwardCustom: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"),
        col("event_id").as("pid"))
    graft.api.Graft.asofJoin(clicks, buys,
        Seq("user_id"), Seq("b_user"), "ts", "b_ts", Seq("pid"),
        forward = true)
      .select(col("user_id"), col("event_id").as("click_id"),
        col("pid").as("next_pid"))
      .orderBy(col("user_id"), col("click_id"))
  }

  /** Nearest-event join through the native operator's NEAREST
    * direction (Pandas merge_asof direction="nearest"): for every
    * error, the temporally closest purchase by the same user — the
    * O(1)-state sort-merge pass keeps the backward candidate AND the
    * forward lookahead and emits the closer one (exact microsecond
    * distance, ties backward). Contract note vs the window form
    * (q_join_nearest): a purchase at EXACTLY the error's timestamp is
    * a backward candidate here (highest pid among equal times wins),
    * so this query carries its own oracle encoding the operator's
    * precise tie rules rather than borrowing the window form's.
    *
    * Scale: same cost class as q_join_asof_custom — co-partitioned
    * hash exchanges + per-side external sorts + one merge pass; the
    * window formulation's union-wide sort and TWO full-frame walks
    * (backward + forward IGNORE NULLS) are gone. */
  val qJoinNearestCustom: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val errs = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"),
        col("event_id").as("pid"))
    graft.api.Graft.asofJoin(errs, buys,
        Seq("user_id"), Seq("b_user"), "ts", "b_ts", Seq("pid"),
        nearest = true)
      .filter(col("pid").isNotNull)
      .select(col("user_id"), col("event_id").as("error_id"),
        Tables.fmtTsUs(col("ts")).as("error_ts"),
        col("pid").as("nearest_purchase_id"),
        Tables.fmtTsUs(col("b_ts")).as("purchase_ts"),
        abs(expr("unix_micros(ts)") - expr("unix_micros(b_ts)"))
          .as("distance_us"))
      .orderBy(col("user_id"), col("error_id"))
  }

  val queries: Map[String, Q] = Map(
    "q_topk_grouped_custom" -> qTopKGrouped,
    "q_join_asof_custom" -> qJoinAsofCustom,
    "q_join_asof_tol_custom" -> qJoinAsofTolCustom,
    "q_join_asof_forward_custom" -> qJoinAsofForwardCustom,
    "q_join_nearest_custom" -> qJoinNearestCustom,
    "q_results_cache_hit" -> qResultsCacheHit)

  val oracle: Map[String, String] = Map(
    // identical semantics and output contract as q_join_asof — the
    // custom operator must agree with the window formulation AND DuckDB
    "q_join_asof_custom" -> Joins.oracle("q_join_asof"),
    "q_join_asof_tol_custom" -> CorpusOps29.oracle("q_join_asof_tol"),
    "q_join_asof_forward_custom" -> CorpusOps34.oracle("q_join_asof_forward"),
    "q_join_nearest_custom" -> """
      WITH err AS (SELECT user_id, ts, event_id FROM events
                   WHERE event_type = 'error'),
      pur AS (SELECT user_id, ts AS pts, event_id AS pid FROM events
              WHERE event_type = 'purchase'),
      pairs AS (SELECT e.user_id, e.event_id AS error_id, e.ts AS ets,
                  p.pid, p.pts
                FROM err e JOIN pur p USING (user_id)),
      bw AS (SELECT user_id, error_id, pid, pts
             FROM pairs WHERE pts <= ets
             QUALIFY row_number() OVER (PARTITION BY user_id, error_id
               ORDER BY pts DESC, pid DESC) = 1),
      fw AS (SELECT user_id, error_id, pid, pts
             FROM pairs WHERE pts > ets
             QUALIFY row_number() OVER (PARTITION BY user_id, error_id
               ORDER BY pts ASC, pid ASC) = 1),
      pick AS (SELECT a.user_id, a.event_id AS error_id, a.ts AS ets,
          CASE WHEN b.pid IS NOT NULL AND (f.pid IS NULL OR
                 date_diff('microsecond', b.pts, a.ts) <=
                 date_diff('microsecond', a.ts, f.pts))
               THEN b.pid ELSE f.pid END AS nearest_purchase_id,
          CASE WHEN b.pid IS NOT NULL AND (f.pid IS NULL OR
                 date_diff('microsecond', b.pts, a.ts) <=
                 date_diff('microsecond', a.ts, f.pts))
               THEN b.pts ELSE f.pts END AS pts
        FROM err a
        LEFT JOIN bw b ON b.user_id = a.user_id
          AND b.error_id = a.event_id
        LEFT JOIN fw f ON f.user_id = a.user_id
          AND f.error_id = a.event_id)
      SELECT user_id, error_id,
        strftime(ets, '%Y-%m-%d %H:%M:%S.%f') AS error_ts,
        nearest_purchase_id,
        strftime(pts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
        CAST(abs(date_diff('microsecond', pts, ets)) AS BIGINT)
          AS distance_us
      FROM pick WHERE nearest_purchase_id IS NOT NULL
      ORDER BY user_id, error_id""",
    "q_topk_grouped_custom" -> """
      SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice
      FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
              row_number() OVER (PARTITION BY l_suppkey
                ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
                AS rn
            FROM lineitem)
      WHERE rn <= 3
      ORDER BY l_suppkey, l_extendedprice DESC, l_orderkey, l_linenumber""",
    "q_results_cache_hit" -> """
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        count(*) AS cnt
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")
}
