package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Tables

/** Corpus + analytics operators, r10 wave 27 (SURVEY.md §2.M):
  * Bradley-Terry strength estimation over the cross-source quality
  * tournament (the preference-data analysis primitive), and Kendall
  * tau-b rank correlation between two per-source rankings.
  *
  * Determinism contract as the other r10 waves: every comparison is
  * over exact integers; the MM iteration runs in micro fixed point
  * with floor division only, so both engines replay the identical
  * trajectory.
  */
object CorpusOps39 {

  /** Per-source pairwise win counts on the classifier quality score:
    * wins(i,j) = #{(d_i, d_j) : score(d_i) > score(d_j)}, computed via
    * the cumulative-count decomposition (the Mann-Whitney trick the
    * AUC query uses two-group, here per source pair): never a doc×doc
    * join — the corpus collapses to (source, score) counts, a
    * per-source running cumulative over the bounded score axis, and
    * one counts×cumulative join on the score key. */
  private[graft] def winsMatrix(cells: DataFrame): DataFrame = {
    // (source, score_milli) counts as an exact rollup of the shared
    // (source, round, score_milli) cube (CorpusOps43.scoreCells) —
    // sum of disjoint cell counts = the old per-doc count(*). Not
    // persisted: its four readers sit in the one plan the fold
    // collects, where a persist only added jobs (13-14 per warm
    // q_eval_bradley_terry at sf0.01 without it, 14-16 with it).
    val g = cells.groupBy(col("source"), col("score_milli"))
      .agg(sum(col("nc")).as("n"))
    val axis = g.select(col("score_milli")).distinct()
    val srcs = g.select(col("source")).distinct()
    val grid = axis.crossJoin(srcs)
      .join(g, Seq("source", "score_milli"), "left")
      .na.fill(0L, Seq("n"))
    val wBelow = Window.partitionBy(col("source"))
      .orderBy(col("score_milli"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = grid.withColumn("below",
        coalesce(sum(col("n")).over(wBelow), lit(0L)))
      .select(col("source").as("loser"), col("score_milli"),
        col("below"))
    g.join(cum, Seq("score_milli"))
      .filter(col("source") =!= col("loser"))
      .groupBy(col("source").as("i"), col("loser").as("j"))
      .agg(sum(col("n") * col("below")).as("wins"))
  }

  /** Bradley-Terry strengths (Bradley & Terry 1952) via 3 unrolled
    * minorization-maximization iterations (Hunter, Annals of
    * Statistics 2004): s_i ← W_i / Σ_j N_ij/(s_i+s_j), in micro fixed
    * point (term_ij = N_ij·10¹² div (S_i+S_j), S_i' = W_i·10¹² div
    * Σ_j term_ij), renormalized to mean 10⁶ after every step so the
    * scale-invariant family has one canonical representative. The
    * output is the source leaderboard the preference-modeling
    * pipeline feeds from.
    *
    * Scale: after [[winsMatrix]] everything operates on the
    * |sources|² pair matrix — constant-size, collected once and fitted
    * on the driver ([[btFold]]). */
  val qEvalBradleyTerry: Q = (s, dir) =>
    btBoardCells(CorpusOps43.scoreCells(s, dir, CorpusOps10.scored(s, dir)))

  /** The BT board from a CorpusOps43.scoreCells cube — the agreement
    * query passes its shared persisted cube here. */
  private[ops] def btBoardCells(cells: DataFrame): DataFrame =
    btFold(winsMatrix(cells))

  /** The MM fit of [[qEvalBradleyTerry]] over a `wins` = (i, j, wins)
    * matrix (one row per ordered pair i ≠ j, as [[winsMatrix]] emits
    * it): the sources are the distinct `i`, an absent pair counts 0
    * wins. The |sources|² matrix is collected once
    * ([[LocalFold.packSorted]]) and the 3 steps run on the driver with
    * the semantics of the Spark expression they replace: int64 `+`,
    * `*`, `sum` and `div` overflow throws (`Math.*Exact`); the
    * DECIMAL(38,0) `n·10¹² div (S_i + S_j)` terms divide exact
    * `BigInt`s, truncate, throw on a zero divisor and narrow to int64
    * by wrapping, as Spark's decimal `div` does; a zero step total
    * nulls every strength (`nullif(tot, 0)`), and a null strength
    * stays null. */
  private[graft] def btFold(wins: DataFrame): DataFrame = {
    val rows = LocalFold.packSorted(wins, "i", "j", "wins")
    val src = rows.map(_.get(0)).distinct
    val at = src.zipWithIndex.toMap
    val k = src.size
    val m = Array.ofDim[Long](k, k)
    for (r <- rows; j <- at.get(r.get(1))) m(at(r.get(0)))(j) = r.getLong(2)
    def sumOver(i: Int)(f: Int => Long) = (0 until k).filter(_ != i)
      .foldLeft(0L)((acc, j) => Math.addExact(acc, f(j)))
    val n = Array.tabulate(k, k)((i, j) => Math.addExact(m(i)(j), m(j)(i)))
    val w = Array.tabulate(k)(i => sumOver(i)(m(i)(_)))
    val losses = Array.tabulate(k)(i => sumOver(i)(m(_)(i)))
    def decDiv(a: Long, b: Long) = (BigInt(a) * 1000000000000L / b).toLong
    def div(a: Long, b: Long) = if (b == -1L) Math.negateExact(a) else a / b
    var st = Option(Array.fill(k)(1000000L))
    for (_ <- 1 to 3) st = st.flatMap { s =>
      val st0 = Array.tabulate(k) { i =>
        val denom = sumOver(i)(j => decDiv(n(i)(j), Math.addExact(s(i), s(j))))
        if (denom == 0) 0L else decDiv(w(i), denom)
      }
      val tot = st0.foldLeft(0L)(Math.addExact)
      val scale = Math.multiplyExact(k.toLong, 1000000L)
      Option.when(tot != 0)(st0.map(x => div(Math.multiplyExact(x, scale), tot)))
    }
    val schema = StructType(StructField("source", wins.schema("i").dataType) +:
      Seq("wins", "losses", "strength_micro").map(StructField(_, LongType)))
    LocalFold.frame(wins.sparkSession, schema,
      src.indices.map(i => Row(src(i), w(i), losses(i), st.fold[Any](null)(_(i)))),
      col("strength_micro").desc, col("source"))
  }

  /** Kendall tau-b (Kendall 1938) between the per-source mean-quality
    * ranking and the per-source mean-length ranking — do longer-doc
    * sources actually score better? Concordant/discordant counted
    * over all source pairs with the tie-adjusted denominator, all in
    * exact integers: tau_b² is reported as a signed permille of
    * (C−D)²·sign/(n0−n1)(n0−n2) — no square root leaves the integer
    * ring.
    *
    * Scale: collapses to one row per source, then the |sources|²
    * pair frame — constant-size after the first aggregate. */
  val qRankKendall: Q = (s, dir) => {
    val per = CorpusOps10.scored(s, dir)
      .join(Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(expr("sum(score_milli) div count(1)").as("q"),
        expr("sum(n_chars) div count(1)").as("len"))
    val p = per.as("a").join(per.as("b"), col("a.source") < col("b.source"))
      .select((col("a.q") - col("b.q")).as("dq"),
        (col("a.len") - col("b.len")).as("dl"))
    p.agg(count(lit(1)).as("n0"),
        sum(when(col("dq") === 0 || col("dl") === 0, 1L).otherwise(0L))
          .as("ties"),
        sum(when(col("dq") * col("dl") > 0, 1L).otherwise(0L)).as("c"),
        sum(when(col("dq") * col("dl") < 0, 1L).otherwise(0L)).as("d"),
        sum(when(col("dq") === 0, 1L).otherwise(0L)).as("tq"),
        sum(when(col("dl") === 0, 1L).otherwise(0L)).as("tl"))
      .select(col("n0"), col("c"), col("d"), col("tq"), col("tl"),
        expr("""CAST(sign(c - d) AS BIGINT) * (c - d) * (c - d) * 1000
                div nullif((n0 - tq) * (n0 - tl), 0)""")
          .as("tau_b2_signed_permille"))
  }

  val queries: Map[String, Q] = Map(
    "q_eval_bradley_terry" -> qEvalBradleyTerry,
    "q_rank_kendall" -> qRankKendall)

  private[ops] val winsSql = s"""
      scored AS (${CorpusOps10.scoredSql}),
      sc AS (SELECT scored.*, documents.source FROM scored
             JOIN documents ON documents.doc_id = scored.doc_id),
      g AS (SELECT source, score_milli, CAST(count(*) AS BIGINT) AS n
            FROM sc GROUP BY 1, 2),
      axis AS (SELECT DISTINCT score_milli FROM g),
      srcs AS (SELECT DISTINCT source FROM g),
      grid AS (SELECT srcs.source, axis.score_milli,
                 coalesce(g.n, 0) AS n
               FROM axis CROSS JOIN srcs
               LEFT JOIN g ON g.source = srcs.source
                 AND g.score_milli = axis.score_milli),
      cum AS (SELECT source AS loser, score_milli,
                CAST(coalesce(sum(n) OVER (PARTITION BY source
                  ORDER BY score_milli ROWS BETWEEN UNBOUNDED PRECEDING
                  AND 1 PRECEDING), 0) AS BIGINT) AS below
              FROM grid),
      wins AS (SELECT g.source AS i, cum.loser AS j,
                 CAST(sum(g.n * cum.below) AS BIGINT) AS wins
               FROM g JOIN cum ON cum.score_milli = g.score_milli
               WHERE g.source <> cum.loser GROUP BY 1, 2),
      pairs AS (SELECT a.source AS i, b.source AS j FROM srcs a
                CROSS JOIN srcs b WHERE a.source <> b.source),
      full_m AS MATERIALIZED (SELECT pairs.i, pairs.j,
                   coalesce(wf.wins, 0) AS wins,
                   coalesce(wr.wins, 0) AS wins_ji,
                   coalesce(wf.wins, 0) + coalesce(wr.wins, 0) AS n_ij
                 FROM pairs
                 LEFT JOIN wins wf ON wf.i = pairs.i AND wf.j = pairs.j
                 LEFT JOIN wins wr ON wr.i = pairs.j AND wr.j = pairs.i),
      wtot AS (SELECT i, CAST(sum(wins) AS BIGINT) AS w
               FROM full_m GROUP BY 1),
      nsrc AS (SELECT CAST(count(*) AS BIGINT) AS k FROM srcs)"""

  /** One MM step of the oracle. It reads `prev` twice and `full_m`
    * once, so `full_m` and each step are MATERIALIZED: inlined, DuckDB
    * re-plans the scored pipeline for every reference down the chain
    * and ran out of memory at sf0.001. */
  private[ops] def iterSql(prev: String, cur: String): String = s"""
      d_$cur AS (SELECT f.i,
          CAST(sum(CAST(f.n_ij AS HUGEINT) * 1000000000000
            // (si.st + sj.st)) AS BIGINT) AS denom
        FROM full_m f
        JOIN $prev si ON si.source = f.i
        JOIN $prev sj ON sj.source = f.j
        GROUP BY 1),
      r_$cur AS (SELECT d_$cur.i AS source,
          coalesce(CAST(CAST(wtot.w AS HUGEINT) * 1000000000000
            // nullif(d_$cur.denom, 0) AS BIGINT), 0) AS st0
        FROM d_$cur JOIN wtot ON wtot.i = d_$cur.i),
      t_$cur AS (SELECT CAST(sum(st0) AS BIGINT) AS tot FROM r_$cur),
      $cur AS MATERIALIZED (SELECT source,
          CAST(st0 * (nsrc.k * 1000000)
            // nullif(t_$cur.tot, 0) AS BIGINT) AS st
        FROM r_$cur CROSS JOIN t_$cur CROSS JOIN nsrc)"""

  val oracle: Map[String, String] = Map(
    "q_eval_bradley_terry" -> (s"""
      WITH $winsSql,
      s0 AS (SELECT source, CAST(1000000 AS BIGINT) AS st FROM srcs),
      ${iterSql("s0", "s1")},
      ${iterSql("s1", "s2")},
      ${iterSql("s2", "s3")}
      SELECT f.i AS source, CAST(sum(f.wins) AS BIGINT) AS wins,
        CAST(sum(f.wins_ji) AS BIGINT) AS losses,
        any_value(s3.st) AS strength_micro
      FROM full_m f JOIN s3 ON s3.source = f.i
      GROUP BY 1 ORDER BY strength_micro DESC, source"""),
    "q_rank_kendall" -> (s"""
      WITH scored AS (${CorpusOps10.scoredSql}),
      sc AS (SELECT scored.*, documents.source, documents.n_chars
             FROM scored JOIN documents
               ON documents.doc_id = scored.doc_id),
      per AS (SELECT source,
                CAST(sum(score_milli) AS BIGINT) // count(*) AS q,
                CAST(sum(n_chars) AS BIGINT) // count(*) AS len
              FROM sc GROUP BY 1),
      p AS (SELECT a.q - b.q AS dq, a.len - b.len AS dl
            FROM per a JOIN per b ON a.source < b.source),
      agg AS (SELECT CAST(count(*) AS BIGINT) AS n0,
                CAST(sum(CASE WHEN dq * dl > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
                CAST(sum(CASE WHEN dq * dl < 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d,
                CAST(sum(CASE WHEN dq = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tq,
                CAST(sum(CASE WHEN dl = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tl
              FROM p)
      SELECT n0, c, d, tq, tl,
        CAST(sign(c - d) AS BIGINT) * (c - d) * (c - d) * 1000
          // nullif((n0 - tq) * (n0 - tl), 0)
          AS tau_b2_signed_permille
      FROM agg"""))
}
