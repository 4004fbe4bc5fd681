package graft

import java.sql.Timestamp

import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CorpusOps10, CorpusOps43}

/** The Elo fold runs on the driver over one packed, Spark-sorted row
  * ([[CorpusOps43.eloFold]]). These tests hold it to the formulation it
  * replaced, kept below as the reference: ONE `aggregate` higher-order
  * expression carrying the player→rating map, with the per-player
  * tallies from a union + groupBy joined back on. */
class EloFoldSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val sf01 = new java.io.File(sf).toPath.resolveSibling("sf0.01").toString

  private def run[T](body: => T): T =
    try body finally CacheScope.release()

  /** The reference rating fold: `games` = (ord, i, j, s_i), `players` =
    * one `player` column; returns (player, rating). */
  private def referenceFold(games: DataFrame, players: DataFrame): DataFrame = {
    val delta =
      s"""((32 * (g.s_i - element_at(
            array(91, 151, 240, 360, 500, 640, 760, 849, 909),
            CAST((greatest(-400, least(400,
              element_at(st, g.i) - element_at(st, g.j))) + 400) div 100
              AS INT) + 1)
          + 1000)) div 1000 - 32)"""
    games
      .agg(sort_array(collect_list(struct(
        col("ord"), col("i"), col("j"), col("s_i")))).as("gs"))
      .crossJoin(broadcast(
        players.agg(sort_array(collect_list(col("player"))).as("ss"))))
      .withColumn("fin", expr(
        s"""aggregate(gs,
             map_from_arrays(ss, transform(ss, x -> CAST(1500 AS BIGINT))),
             (st, g) -> map_from_arrays(map_keys(st),
               transform(map_keys(st), k ->
                 CASE WHEN k = g.i THEN element_at(st, k) + $delta
                      WHEN k = g.j THEN element_at(st, k) - $delta
                      ELSE element_at(st, k) END)))"""))
      .select(explode(expr("map_entries(fin)")).as("e"))
      .select(col("e.key").as("player"), col("e.value").as("rating"))
  }

  private def playersOf(games: DataFrame): DataFrame =
    games.select(col("i").as("player"))
      .union(games.select(col("j").as("player"))).distinct()

  /** The reference board: ratings joined with the union/groupBy
    * tallies, one row per player, ordered by player. */
  private def referenceBoard(games: DataFrame): Seq[Row] = run {
    val tallies = games
      .select(col("i").as("player"), col("s_i").as("sv"))
      .unionByName(games.select(col("j").as("player"),
        (lit(1000L) - col("s_i")).as("sv")))
      .groupBy(col("player"))
      .agg(count(lit(1)).as("games"),
        sum(when(col("sv") === 1000, 1L).otherwise(0L)).as("wins"),
        sum(when(col("sv") === 500, 1L).otherwise(0L)).as("draws"),
        sum(when(col("sv") === 0, 1L).otherwise(0L)).as("losses"))
    referenceFold(games, playersOf(games)).join(tallies, Seq("player"))
      .orderBy(col("player")).collect().toSeq
  }

  private def board(games: DataFrame): Seq[Row] =
    run(CorpusOps43.eloFold(games).orderBy(col("player")).collect().toSeq)

  private def corpusGames(dir: String): DataFrame =
    CorpusOps43.eloGames(CorpusOps43.scoreCells(spark, dir,
        CorpusOps10.scored(spark, dir)))
      .select(col("round").as("ord"), col("i"), col("j"), col("s_i"))

  test("the fold matches the reference on the sf0.001 and sf0.01 game streams") {
    for (dir <- Seq(sf, sf01)) {
      val games = corpusGames(dir)
      val got = board(games)
      assert(got.size > 2 && got == referenceBoard(games), dir)
    }
  }

  test("q_eval_elo is the reference board over the documents' sources") {
    for (dir <- Seq(sf, sf01)) {
      val games = corpusGames(dir)
      val srcs = Tables(spark, dir, "documents")
        .select(col("source").as("player")).distinct()
      val ratings = run(referenceFold(games, srcs).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
      // the reference board's tallies drop sources that played no game
      val expected = referenceBoard(games)
        .map(r => Row.fromSeq(r.getString(0) +: ratings(r.getString(0)) +:
          r.toSeq.drop(2)))
        .sortBy(r => (-r.getLong(1), r.getString(0)))
      val declared = run(SparkEntry.queries("q_eval_elo")(spark, dir)
        .collect().toSeq)
      assert(declared == expected, dir)
    }
  }

  test("draws, clamped rating gaps and odd scores match the reference") {
    val rnd = new scala.util.Random(17)
    val ps = Seq("p0", "p1", "p2", "p3", "p4")
    val random = (1 to 150).map { o =>
      val a = ps(rnd.nextInt(ps.size))
      val b = ps(rnd.nextInt(ps.size))
      (o / 3L, a, b, Seq(0L, 500L, 1000L)(rnd.nextInt(3)))
    }
    // p0 beats p1 until the gap passes 400, then loses and draws to it
    // at the clamp; 250 is a score that counts as no win, draw or loss
    val streak = (1 to 60).map(o => (100L + o, "p0", "p1", 1000L))
    val tail = Seq((200L, "p1", "p0", 1000L), (201L, "p0", "p1", 500L),
      (202L, "p2", "p4", 250L), (203L, "p3", "p3", 1000L))
    val games = (random ++ streak ++ tail).toDF("ord", "i", "j", "s_i")
    val got = board(games)
    assert(got == referenceBoard(games))
    val r = got.map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("p0") - r("p1") > 400, r)
    assert(got.map(_.getLong(4)).sum > 0) // draws happened

  }

  test("players whose UTF-8 and UTF-16 orders disagree are folded in Spark's order") {
    // U+1F600 sorts below U+FF61 in UTF-16 but above it in UTF-8; games
    // sharing an ord run in (i, j) order, and the second game sees the
    // first game's update to "a"
    val (supp, half) = ("😀", "｡")
    assert(supp.compareTo(half) < 0)
    val games = Seq((1L, supp, "a", 1000L), (1L, half, "a", 0L),
      (2L, supp, half, 500L), (2L, "a", supp, 1000L))
      .toDF("ord", "i", "j", "s_i")
    assert(board(games) == referenceBoard(games))
  }

  test("Graft.eloRatings orders a timestamp stream like the reference") {
    val t0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val rows = (0 until 40).map { k =>
      // out of row order on purpose; timestamps repeat every 10 rows
      val ts = new Timestamp(t0 + ((k * 7) % 10) * 3600000L)
      (ts, s"u${k % 4}", s"u${(k + 1) % 4}", Seq(1000, 0, 500)(k % 3))
    }
    val df = rows.toDF("ts", "a", "b", "score")
    val viaApi = run(api.Graft.eloRatings(df, "ts", "a", "b", "score")
      .orderBy(col("player")).collect().toSeq)
    val games = df.select(col("ts").as("ord"), col("a").as("i"),
      col("b").as("j"), col("score").cast("long").as("s_i"))
    val ref = run(referenceFold(games, playersOf(games))
      .orderBy(col("player")).collect().toSeq)
    assert(viaApi.size == 4 && viaApi == ref)
  }

  test("a null player or a null score throws") {
    // the reference rated neither: collect_list dropped the null player
    // from its rating map, and a null rating in its non-null map value
    // read back as 0
    val players = Seq((1L, "a", "b", 1000L), (2L, null, "a", 0L))
      .toDF("ord", "i", "j", "s_i")
    val e = intercept[IllegalArgumentException](board(players))
    assert(e.getMessage.contains("null player"))
    val scores = Seq((1L, "a", "b", Option(1000L)), (2L, "b", "a", None))
      .toDF("ord", "i", "j", "s_i")
    val e2 = intercept[IllegalArgumentException](board(scores))
    assert(e2.getMessage.contains("null score"))
  }

  test("the fold starts the same number of Spark jobs for 4 and 4000 games") {
    def jobs(n: Int) = {
      val games = spark.range(n).select(col("id").as("ord"),
        concat(lit("p"), (col("id") % 7).cast("string")).as("i"),
        concat(lit("q"), (col("id") % 5).cast("string")).as("j"),
        ((col("id") % 3) * 500).as("s_i"))
      run(JobCounter(spark.sparkContext)(
        CorpusOps43.eloFold(games).orderBy(col("rating").desc).collect()))
    }
    assert(jobs(4) > 0)
    assert(jobs(4) == jobs(4000))
  }
}
