package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Measured-cardinality broadcast↔shuffle gate — the shared discipline
  * behind the graph family's one `broadcastEdgeLimit` (every graph
  * operator's join hints go through it; r14), the IVF
  * rebalance's hot-cell member joins, and the LM-table joins of the
  * perplexity/RHO family (r15): a join side that is small at bench
  * scale but does NOT stay proportional to a dimension (edges densify
  * quadratically over a fixed catalog, a trigger-eligible IVF hot cell
  * is ~7% of the corpus, bigram TYPE counts grow with the corpus per
  * Heaps' law) must not ride an unconditional `broadcast()` — at 100×
  * that silently becomes a driver/executor-memory killer. The gate
  * reads a bounded scalar the operator already has (or a count() of
  * its own persisted intermediate) and flips every broadcast hint to a
  * co-partitioned shuffled-hash join past the limit.
  *
  * Values are bit-identical on both paths — only the plan shape
  * changes (pinned per-family in GraphSpec / SimilaritySpec /
  * CorpusSpec). Limits are per-family confs with measured-crossover
  * defaults; setting a limit to 0 forces the shuffle path, to a huge
  * value the broadcast path — the only override there is.
  */
object AutoBroadcast {

  /** Hint `df` as the small side of an upcoming equi-join: broadcast
    * at or below the limit, shuffled-hash (co-partitioned on the join
    * key) above it. */
  def gate(df: DataFrame, measured: Long, limit: Long): DataFrame =
    if (measured <= limit) df.hint("broadcast")
    else df.hint("shuffle_hash")

  /** Conf-with-default reader for gate limits. */
  def limit(s: SparkSession, key: String, default: Long): Long =
    s.conf.getOption(key).map(_.toLong).getOrElse(default)
}
