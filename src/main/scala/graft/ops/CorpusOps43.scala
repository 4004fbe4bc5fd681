package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Tables

/** Corpus + analytics operators, r12 wave 31 (SURVEY.md §2.M): ONLINE
  * Elo ratings over the cross-source quality tournament — the
  * sequential-update counterpart of the batch Bradley-Terry MM fit
  * (ops/CorpusOps39.scala). Where BT refits the whole win matrix, Elo
  * ingests an ORDERED game stream and updates two ratings per game —
  * the shape a live preference-data pipeline runs as annotator votes
  * arrive (Elo, "The Rating of Chessplayers", 1978; the same
  * arena-style leaderboard discipline popularized for LLM evals).
  *
  * Determinism contract: the expected score is a STEP TABLE over the
  * clamped rating difference (the published-table discipline FIDE
  * uses rather than evaluating the logistic): E_i(d) permille =
  * [91,151,240,360,500,640,760,849,909][(clamp(d,−400,400)+400) div
  * 100], K = 32, ΔR = (K·(S_i − E_i + 1000)) div 1000 − 32 (the
  * +1000/−32 shift keeps the dividend non-negative so floor and
  * truncating integer division agree across engines), loser delta :=
  * −winner delta exactly (zero-sum, total rating conserved).
  */
object CorpusOps43 {

  /** The (source, round = doc_id % 16, score_milli) cell cube BOTH
    * rating chains collapse to (optimization r18, guide §2.3
    * "aggregate before you shuffle/share"): the per-doc classifier
    * scan is the only corpus-sized work in the Elo AND Bradley-Terry
    * chains, and each immediately aggregates it — Elo to (source,
    * round) score sums, BT to (source, score_milli) counts. Both are
    * exact rollups of this cube (sums of counts / of score·count over
    * disjoint cells), so the agreement query persists ONE
    * |sources|·16·|score values|-row frame instead of scanning the
    * corpus twice (persisting the per-doc `scored` frame instead was
    * measured a wash in r14/r17 — the cube is the aggregate-first
    * version of that idea). */
  private[graft] def scoreCells(s: org.apache.spark.sql.SparkSession,
      dir: String, scored: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    scored
      .join(Tables(s, dir, "documents")
        .select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"), (col("doc_id") % 16).as("round"),
        col("score_milli"))
      .agg(count(lit(1)).as("nc"))

  /** Per-(source, round) exact score sums off the [[scoreCells]] cube:
    * means compare by integer cross-multiplication (tot_a·n_b vs
    * tot_b·n_a), never a float. */
  private[graft] def eloGames(cells: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val rounds = cells
      .groupBy(col("source"), col("round"))
      .agg(sum(col("nc")).as("n"),
        sum(col("score_milli") * col("nc")).as("tot"))
    rounds.as("a").join(rounds.as("b"),
        col("a.round") === col("b.round") &&
          col("a.source") < col("b.source"))
      .select(col("a.round").as("round"), col("a.source").as("i"),
        col("b.source").as("j"),
        when(col("a.tot") * col("b.n") > col("b.tot") * col("a.n"), 1000L)
          .when(col("a.tot") * col("b.n") < col("b.tot") * col("a.n"), 0L)
          .otherwise(500L).as("s_i"))
  }

  /** Online Elo leaderboard: 16 rounds of pairwise source duels on
    * the classifier quality score (round r = docs with doc_id % 16 =
    * r; the duel compares exact integer mean scores), folded through
    * the ordered game stream (round, i, j) with the step-table update
    * in the object docstring. Output per source: final rating, games,
    * wins/draws/losses, (rating DESC, source) ordered.
    *
    * Scale: the corpus collapses to the (source, round) cell table —
    * |sources|·16 rows — in ONE partial-aggregated scan (the
    * classifier pass is the only per-doc work); the game stream is
    * |sources|²·16-bounded and folds on the driver ([[eloFold]]) —
    * zero per-game or per-round Spark jobs (an unpacked formulation
    * would schedule thousands of dependent jobs). */
  val qEvalElo: Q = (s, dir) =>
    eloBoardCells(scoreCells(s, dir, CorpusOps10.scored(s, dir)))

  /** The Elo fold shared by [[qEvalElo]] and the public API
    * (`Graft.eloRatings`): `games` = (ord, i, j, s_i), processed in
    * (ord, i, j, s_i) order; every player of the stream (i ∪ j) starts
    * at 1500. Returns one row per player — (player, rating, games,
    * wins, draws, losses), a side score of 1000/500/0 permille counting
    * as a win/draw/loss — as a [[LocalFold.frame]] in board order
    * (rating DESC, player).
    *
    * The callers keep the stream dimension-bounded (players² × rounds
    * rows), so ONE Spark action packs it ([[LocalFold.packSorted]],
    * ordered as an ORDER BY would order any `ord` type), and the
    * inherently sequential loop runs on the driver over those rows,
    * in the exact int64 arithmetic of the object docstring (an
    * overflow throws; `/` truncates as Spark's `div` does). A null
    * player or score throws. */
  private[graft] def eloFold(games: DataFrame): DataFrame = {
    val gs = LocalFold.packSorted(games, "ord", "i", "j", "s_i")
    // rating, games, wins, draws, losses
    val board = scala.collection.mutable.LinkedHashMap.empty[Any, Array[Long]]
    def player(g: Row, k: Int): Array[Long] = {
      require(!g.isNullAt(k), s"eloFold: null player in game $g")
      board.getOrElseUpdate(g.get(k), Array(1500L, 0L, 0L, 0L, 0L))
    }
    def tally(p: Array[Long], sv: Long): Unit = {
      p(1) += 1
      sv match {
        case 1000L => p(2) += 1
        case 500L => p(3) += 1
        case 0L => p(4) += 1
        case _ =>
      }
    }
    val expected = Array(91L, 151L, 240L, 360L, 500L, 640L, 760L, 849L, 909L)
    for (g <- gs) {
      val (pi, pj) = (player(g, 1), player(g, 2))
      require(!g.isNullAt(3), s"eloFold: null score in game $g")
      val si = g.getLong(3)
      val d = math.max(-400L, math.min(400L, Math.subtractExact(pi(0), pj(0))))
      val delta = Math.multiplyExact(32L, Math.addExact(
        Math.subtractExact(si, expected(((d + 400) / 100).toInt)), 1000L)) /
        1000 - 32
      // both updates read the pre-game ratings; i == j moves i only
      val rj = pj(0)
      pi(0) = Math.addExact(pi(0), delta)
      if (pj ne pi) pj(0) = Math.subtractExact(rj, delta)
      tally(pi, si)
      tally(pj, Math.subtractExact(1000L, si))
    }
    val schema = StructType(StructField("player", games.schema("i").dataType) +:
      Seq("rating", "games", "wins", "draws", "losses")
        .map(StructField(_, LongType, nullable = false)))
    LocalFold.frame(games.sparkSession, schema,
      board.toSeq.map { case (p, t) => Row.fromSeq(p +: t.toSeq) },
      col("rating").desc, col("player"))
  }

  /** The Elo board from a [[scoreCells]] cube — the agreement query
    * passes its shared persisted cube here. Sources that played no
    * game (a source alone in every round) are not on the board. */
  private[ops] def eloBoardCells(cells: DataFrame): DataFrame =
    eloFold(eloGames(cells).select(col("round").as("ord"), col("i"),
        col("j"), col("s_i")))
      .withColumnRenamed("player", "source")
      .orderBy(col("rating").desc, col("source"))

  /** Rank agreement between the ONLINE Elo leaderboard and the BATCH
    * Bradley-Terry fit over the same tournament — Kendall τ-b in the
    * signed-τ² permille form of [[CorpusOps39.qRankKendall]] (no
    * sqrt: sign(C−D)·(C−D)²·1000 div ((n0−tₑ)(n0−t_b)), exact
    * integers). The methodology check a rating pipeline runs before
    * trusting its cheap online scores: high agreement means the
    * incremental Elo board tracks what a full refit would say.
    *
    * Scale: ONE persisted (source, round, score_milli) cube
    * ([[scoreCells]], optimization r18) feeds both boards, so the
    * corpus-sized classifier scan runs once; each board collects its
    * |sources|-bounded rollup of the cube into a driver fold, and the
    * pair scan is |sources|²-bounded column arithmetic. */
  val qEvalRatingAgreement: Q = (s, dir) => {
    val cells = graft.CacheScope.track(
      scoreCells(s, dir, CorpusOps10.scored(s, dir)).persist())
    val elo = eloBoardCells(cells)
      .select(col("source"), col("rating"))
    val bt = CorpusOps39.btBoardCells(cells)
      .select(col("source"), col("strength_micro"))
    val per = elo.join(bt, Seq("source"))
    val p = per.as("a").join(per.as("b"),
        col("a.source") < col("b.source"))
      .select((col("a.rating") - col("b.rating")).as("de"),
        (col("a.strength_micro") - col("b.strength_micro")).as("db"))
    p.agg(count(lit(1)).as("n0"),
        sum(when(col("de") * col("db") > 0, 1L).otherwise(0L)).as("c"),
        sum(when(col("de") * col("db") < 0, 1L).otherwise(0L)).as("d"),
        sum(when(col("de") === 0, 1L).otherwise(0L)).as("te"),
        sum(when(col("db") === 0, 1L).otherwise(0L)).as("tb"))
      .select(col("n0"), col("c"), col("d"), col("te"), col("tb"),
        expr("""CAST(sign(c - d) AS BIGINT) * (c - d) * (c - d) * 1000
                div nullif((n0 - te) * (n0 - tb), 0)""")
          .as("tau_b2_signed_permille"))
  }

  val queries: Map[String, Q] = Map(
    "q_eval_elo" -> qEvalElo,
    "q_eval_rating_agreement" -> qEvalRatingAgreement)

  /** The Elo CTE chain (expects a preceding `scored` CTE and the
    * enclosing WITH to be RECURSIVE); ends with `ratings(source,
    * rating)` — shared by the q_eval_elo oracle and the
    * rating-agreement oracle. */
  private[ops] val eloCtes: String = s"""
      rounds AS (SELECT d.source, d.doc_id % 16 AS round,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(s.score_milli) AS BIGINT) AS tot
                 FROM scored s JOIN documents d USING (doc_id)
                 GROUP BY 1, 2),
      g0 AS (SELECT a.round, a.source AS i, b.source AS j,
               CAST(CASE WHEN a.tot * b.n > b.tot * a.n THEN 1000
                         WHEN a.tot * b.n < b.tot * a.n THEN 0
                         ELSE 500 END AS BIGINT) AS s_i
             FROM rounds a JOIN rounds b
               ON a.round = b.round AND a.source < b.source),
      games AS (SELECT CAST(row_number() OVER (ORDER BY round, i, j)
                  AS BIGINT) AS gi, i, j, s_i FROM g0),
      init AS (SELECT list(struct_pack(k := source,
                       r := CAST(1500 AS BIGINT)) ORDER BY source) AS st
               FROM (SELECT DISTINCT source FROM documents)),
      state AS (
        SELECT CAST(0 AS BIGINT) AS gi, st FROM init
        UNION ALL
        SELECT g.gi,
          list_transform(s.st, x ->
            CASE WHEN x.k = g.i THEN struct_pack(k := x.k, r := x.r +
              ((32 * (g.s_i - list_extract(
                 [91,151,240,360,500,640,760,849,909],
                 CAST((greatest(-400, least(400,
                   list_filter(s.st, y -> y.k = g.i)[1].r -
                   list_filter(s.st, y -> y.k = g.j)[1].r)) + 400) // 100
                   AS INT) + 1)
               + 1000)) // 1000 - 32))
            WHEN x.k = g.j THEN struct_pack(k := x.k, r := x.r -
              ((32 * (g.s_i - list_extract(
                 [91,151,240,360,500,640,760,849,909],
                 CAST((greatest(-400, least(400,
                   list_filter(s.st, y -> y.k = g.i)[1].r -
                   list_filter(s.st, y -> y.k = g.j)[1].r)) + 400) // 100
                   AS INT) + 1)
               + 1000)) // 1000 - 32))
            ELSE x END)
        FROM state s JOIN games g ON g.gi = s.gi + 1),
      final AS (SELECT st FROM state
                WHERE gi = (SELECT coalesce(max(gi), 0) FROM games)),
      ratings AS (SELECT u.k AS source, u.r AS rating
                  FROM final, unnest(final.st) AS t(u))"""

  val oracle: Map[String, String] = Map(
    "q_eval_elo" -> s"""
      WITH RECURSIVE scored AS (${CorpusOps10.scoredSql}),
      $eloCtes,
      tallies AS (
        SELECT source,
          CAST(count(*) AS BIGINT) AS games,
          CAST(sum(CASE WHEN s = 1000 THEN 1 ELSE 0 END) AS BIGINT)
            AS wins,
          CAST(sum(CASE WHEN s = 500 THEN 1 ELSE 0 END) AS BIGINT)
            AS draws,
          CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS losses
        FROM (SELECT i AS source, s_i AS s FROM games
              UNION ALL SELECT j, 1000 - s_i FROM games)
        GROUP BY 1)
      SELECT r.source, r.rating, t.games, t.wins, t.draws, t.losses
      FROM ratings r JOIN tallies t USING (source)
      ORDER BY r.rating DESC, r.source""",
    // MATERIALIZED on the shared/expensive CTEs is REQUIRED here: in a
    // WITH RECURSIVE, DuckDB may inline non-recursive CTEs into the
    // recursive step, re-running the whole classifier scan per Elo
    // game (measured: hangs without, 1.8 s with, identical result)
    "q_eval_rating_agreement" -> Seq("scored AS (", "grid AS (",
      "cum AS (", "wins AS (", "rounds AS (", "g0 AS (",
      "games AS (").foldLeft(s"""
      WITH RECURSIVE ${CorpusOps39.winsSql},
      s0 AS (SELECT source, CAST(1000000 AS BIGINT) AS st FROM srcs),
      ${CorpusOps39.iterSql("s0", "s1")},
      ${CorpusOps39.iterSql("s1", "s2")},
      ${CorpusOps39.iterSql("s2", "s3")},
      $eloCtes,
      per2 AS (SELECT e.source, e.rating, b.st AS strength
               FROM ratings e JOIN s3 b USING (source)),
      p2 AS (SELECT a.rating - b.rating AS de,
               a.strength - b.strength AS db
             FROM per2 a JOIN per2 b ON a.source < b.source),
      agg2 AS (SELECT CAST(count(*) AS BIGINT) AS n0,
                 CAST(sum(CASE WHEN de * db > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS c,
                 CAST(sum(CASE WHEN de * db < 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS d,
                 CAST(sum(CASE WHEN de = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS te,
                 CAST(sum(CASE WHEN db = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS tb
               FROM p2)
      SELECT n0, c, d, te, tb,
        CAST(sign(c - d) AS BIGINT) * (c - d) * (c - d) * 1000
          // nullif((n0 - te) * (n0 - tb), 0)
          AS tau_b2_signed_permille
      FROM agg2""") { (sql, cte) =>
      sql.replace(cte, cte.replace(" AS (", " AS MATERIALIZED ("))
    })
}
