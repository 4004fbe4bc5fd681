package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Graft

/** r12 wave 31: online Elo ratings (ops/CorpusOps43.scala) and
  * topic-sensitive PageRank (ops/GraphOps.scala). */
class Wave31Spec extends AnyFunSuite {
  import TestSpark._

  test("elo: zero-sum updates conserve total rating; tallies reconcile") {
    val rows = try SparkEntry.queries("q_eval_elo")(spark, sf).collect()
      finally CacheScope.release()
    assert(rows.nonEmpty)
    val nSrc = Tables(spark, sf, "documents")
      .select(col("source")).distinct().count()
    // every source that played appears once; each update is exactly
    // zero-sum (loser delta := -winner delta), so the played sources'
    // total rating equals their initial mass exactly
    assert(rows.length == nSrc)
    assert(rows.map(_.getAs[Long]("rating")).sum == 1500L * nSrc)
    // per-source game accounting: wins + draws + losses == games, and
    // the global win/loss tallies mirror each other (every game has
    // one winner-side and one loser-side row)
    rows.foreach { r =>
      assert(r.getAs[Long]("wins") + r.getAs[Long]("draws") +
        r.getAs[Long]("losses") == r.getAs[Long]("games"), r)
    }
    assert(rows.map(_.getAs[Long]("wins")).sum ==
      rows.map(_.getAs[Long]("losses")).sum)
    // the step table is monotone in the rating diff, so a source that
    // won every game cannot rank below one that lost every game
    val allWin = rows.filter(r => r.getAs[Long]("losses") == 0 &&
      r.getAs[Long]("draws") == 0 && r.getAs[Long]("games") > 0)
    val allLose = rows.filter(r => r.getAs[Long]("wins") == 0 &&
      r.getAs[Long]("draws") == 0 && r.getAs[Long]("games") > 0)
    for (w <- allWin; l <- allLose)
      assert(w.getAs[Long]("rating") > l.getAs[Long]("rating"), s"$w vs $l")
  }

  test("eloRatings facade == declared q_eval_elo leaderboard") {
    // rebuild the duel stream exactly as the query library derives it,
    // then pin the public fold against the declared leaderboard
    val sc = graft.ops.CorpusOps10.scored(spark, sf)
      .join(Tables(spark, sf, "documents")
        .select(col("doc_id"), col("source")), Seq("doc_id"))
    val rounds = sc
      .groupBy(col("source"), (col("doc_id") % 16).as("round"))
      .agg(count(lit(1)).as("n"), sum(col("score_milli")).as("tot"))
    val games = rounds.as("a").join(rounds.as("b"),
        col("a.round") === col("b.round") &&
          col("a.source") < col("b.source"))
      .select(col("a.round").as("g_ord"), col("a.source").as("gi"),
        col("b.source").as("gj"),
        when(col("a.tot") * col("b.n") > col("b.tot") * col("a.n"), 1000L)
          .when(col("a.tot") * col("b.n") < col("b.tot") * col("a.n"), 0L)
          .otherwise(500L).as("sp"))
    val api = try Graft.eloRatings(games, "g_ord", "gi", "gj", "sp")
        .orderBy(col("player")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      finally CacheScope.release()
    val declared = try SparkEntry.queries("q_eval_elo")(spark, sf)
        .collect()
        .map(r => r.getAs[String]("source") -> r.getAs[Long]("rating"))
        .toMap
      finally CacheScope.release()
    // facade players come FROM the games, so compare on played sources
    assert(declared.nonEmpty &&
      declared.forall { case (s0, r0) => api.get(s0).contains(r0) },
      s"facade diverges: ${declared.toSeq.sorted.take(3)} vs ${api.toSeq.sorted.take(3)}")
  }

  test("topicPagerank facade == declared q_graph_ppr_topic top-20") {
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("S"), col("l_suppkey")).as("s"),
        concat(lit("C"), col("o_custkey")).as("c"))
      .distinct()
    val edges = pairs.select(col("s").as("a"), col("c").as("b"))
      .union(pairs.select(col("c").as("a"), col("s").as("b")))
    val seeds = try edges.groupBy(col("a")).count()
        .filter(col("a").startsWith("S"))
        .orderBy(col("count").desc, col("a")).limit(5)
        .collect().map(_.getString(0)).toSeq
      finally CacheScope.release()
    assert(seeds.length == 5)
    val api = try Graft.topicPagerank(edges, "a", "b", seeds)
        .filter(col("r") > 0)
        .orderBy(col("r").desc, col("node")).limit(20)
        .collect().toSeq
      finally CacheScope.release()
    val declared = try SparkEntry.queries("q_graph_ppr_topic")(spark, sf)
        .collect().toSeq
      finally CacheScope.release()
    assert(api.nonEmpty && api == declared)
  }

  test("topic ppr: broadcast and shuffle-join paths are bit-identical") {
    val dir = "/root/testdata/sf0.01"
    def top(limit: Long) = withEdgeLimit(limit) {
      try SparkEntry.queries("q_graph_ppr_topic")(spark, dir).collect().toSeq
      finally CacheScope.release()
    }
    val b = top(Long.MaxValue)
    val sh = top(0L)
    assert(b.nonEmpty && b == sh,
      s"broadcast/shuffle topic-PPR diverge: ${b.take(3)} vs ${sh.take(3)}")
  }
}
