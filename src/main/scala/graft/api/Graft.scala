package graft.api

import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.GraftSession
import graft.ops.{Dedup, ScaleWindows}
import org.apache.spark.sql.graft.PlanBridge

import graft.plans.{AsOfJoinNode, GroupedTopKNode}

/** The engine's PUBLIC operator API: the reusable, fixture-independent
  * form of the flagship operators the `q_*` contract queries exercise.
  * A user switching from the reference engine programs against THIS
  * surface (plus plain Spark SQL / DataFrames and the
  * [[graft.GraftExtensions]] session wiring); every method here is
  * covered by GraftApiSpec against an independent formulation.
  *
  * Determinism and scale contracts match the query library: no
  * unpartitioned row-scale windows, broadcasts for bounded sides,
  * partial aggregation before shuffles, arithmetic exact where the
  * operator's semantics allow it.
  */
object Graft {

  /** AS-OF join through the native sort-merge operator
    * ([[graft.plans.AsOfJoinExec]]): for every left row, the latest
    * right row with `rightTime <= leftTime` on equal keys — kdb `aj`,
    * DuckDB `ASOF JOIN` — at equi-join cost (co-partitioned exchange +
    * external sort per side, O(1) merge state; no union-wide window).
    * Right columns come back null when no match exists.
    *
    * @param tiebreak right-side column resolving equal-time candidates
    *                 deterministically (highest such wins last for
    *                 backward; lowest wins for forward).
    * @param forward  false (default) = latest right at-or-before left
    *                 time; true = earliest right at-or-after (Pandas
    *                 merge_asof direction="forward"), with the
    *                 tolerance gate flipped to rightTime - leftTime. */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTime: String, rightTime: String,
      tiebreak: Seq[String] = Nil,
      toleranceUs: Option[Long] = None,
      forward: Boolean = false,
      nearest: Boolean = false): DataFrame = {
    val s = left.sparkSession
    GraftSession.install(s)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def lAttr(n: String) = lPlan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"left column $n not found"))
    def rAttr(n: String) = rPlan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"right column $n not found"))
    PlanBridge.ofRows(s, AsOfJoinNode(lPlan, rPlan,
      leftKeys = leftKeys.map(lAttr), rightKeys = rightKeys.map(rAttr),
      leftTime = lAttr(leftTime), rightTime = rAttr(rightTime),
      rightTiebreak = tiebreak.map(c => SortOrder(rAttr(c), Ascending)),
      toleranceUs = toleranceUs, forward = forward, nearest = nearest))
  }

  /** Top-k rows per group through the native
    * [[graft.plans.GroupedTopKExec]] operator: bounded map-side
    * k-heaps make the exchange carry at most k rows per (group,
    * mapper) instead of the full table — the grouped-top-k shape a
    * row_number window pays a full shuffle+sort for.
    *
    * @param order (column, ascending?) pairs, best row first. */
  def groupedTopK(df: DataFrame, groupCols: Seq[String],
      order: Seq[(String, Boolean)], k: Int): DataFrame = {
    val s = df.sparkSession
    GraftSession.install(s)
    val child = df.queryExecution.analyzed
    def attr(n: String) = child.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"column $n not found"))
    PlanBridge.ofRows(s, GroupedTopKNode(
      grouping = groupCols.map(attr),
      ordering = order.map { case (c, asc) =>
        SortOrder(attr(c), if (asc) Ascending else Descending) },
      k = k, child = child))
  }

  /** Connected components — the q_dedup_components engine,
    * generalized. Returns (`node`, `component`) where the component id
    * is the smallest node id reachable (Spark's order). An edge set at
    * or below `spark.sql.autoBroadcastJoinThreshold` is solved by
    * union-find on the driver; a larger one by min-label propagation
    * with pointer jumping, one shuffle round per step, which fails
    * loudly if the graph needs more than its 20-round cap. */
  def connectedComponents(edges: DataFrame, src: String, dst: String)
      : DataFrame =
    Dedup.componentsOf(edges.select(col(src).as("da"), col(dst).as("db")))
      .select(col("v").as("node"), col("l").as("component"))

  /** MinHash-LSH near-duplicate candidate pairs over a text column:
    * 3-token shingles → xxhash64 → a 32-hash MinHash sketch
    * ([[graft.functions.MinHashAgg]]) → `bands` × `rows` LSH banding
    * (bands·rows ≤ 32; default 16 × 2, the robust J ≈ 0.5 point); a
    * pair collides when any band agrees, and the returned
    * `est_jaccard_permille` is the sketch agreement rate. Never
    * enumerates all pairs — the band equi-join is the only pair
    * generator (Broder 1997; Leskovec-Rajaraman-Ullman ch. 3). Pick
    * the operating point from a measured sweep (the
    * q_dedup_lsh_autopick policy) rather than by feel: more bands of
    * fewer rows move the collision S-curve left (recall ↑, candidate
    * volume ↑).
    *
    * @param threshold drop pairs whose estimate falls below this
    *                  (permille). 0 keeps every banded candidate. */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Int = 0, bands: Int = 16, rows: Int = 2): DataFrame = {
    require(bands * rows <= 32 && bands >= 1 && rows >= 1 &&
        32 % (bands * rows) == 0,
      s"banding ($bands, $rows): bands*rows must divide the 32-perm " +
        "signature (a non-divisor would silently band only a prefix " +
        "of the permutations while est_jaccard still uses all 32)")
    GraftSession.install(docs.sparkSession)
    val sh = docs
      .select(col(idCol).as("__id"), split(col(textCol), " ").as("t"))
      .select(col("__id"),
        explode(array_distinct(when(size(col("t")) >= 3,
          expr("""transform(sequence(1, size(t) - 2),
                  i -> concat_ws(' ', element_at(t, i),
                                 element_at(t, i + 1),
                                 element_at(t, i + 2)))"""))
          .otherwise(array()))).as("g"))
    val sigs = graft.CacheScope.track(sh
      .withColumn("th", xxhash64(col("g")))
      .groupBy(col("__id"))
      .agg(expr("minhash32(th)").as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // generated per (bands, rows); at (16, 2) this is byte-for-byte
    // the historical expression, so default-point results are stable
    val els = (1 to rows)
      .map(j => s"element_at(sig, bi * $rows + $j)").mkString(", ")
    val bandsDf = sigs.select(col("__id"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), bi -> xxhash64($els))")))
      .select(col("__id"), col("pos").as("band"), col("col").as("bh"))
    val cand = bandsDf.as("a").join(bandsDf.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    cand
      .join(sigs.select(col("__id").as("id_a"), col("sig").as("sa")), "id_a")
      .join(sigs.select(col("__id").as("id_b"), col("sig").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"), expr(
        """aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)),
           0, (acc, v) -> acc + v) * 1000 div size(sa)""")
        .as("est_jaccard_permille"))
      .filter(col("est_jaccard_permille") >= threshold)
  }

  /** Gap-based sessionization: rows of one key more than `gapSeconds`
    * apart start a new session. Returns the input plus `session_id`
    * (1-based per key). One shuffle on the key; both windows ride the
    * same per-key sort. */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
      gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    df.withColumn("__prev_us", lag(unix_micros(col(tsCol)), 1).over(w))
      .withColumn("__new", when(col("__prev_us").isNull ||
        unix_micros(col(tsCol)) - col("__prev_us") >
          gapSeconds * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev_us", "__new")
  }

  /** Exact cosine top-k neighbors of each query vector over a
    * candidate set (both frames: id column + Array[Float] vector
    * column). Vectors micro-quantize to int64 so dot products are
    * exact and the ranking bit-stable; the query side broadcasts and
    * candidates stream (the 100 TB shape); per-query top-k lowers to
    * WindowGroupLimit.
    *
    * `excludeSelf` (default true) drops pairs whose ids are equal —
    * correct when queries and candidates share one id space (the
    * self-join shape). Pass `excludeSelf = false` when the two frames
    * are DISTINCT datasets whose ids may coincidentally collide, or
    * legitimate (query, candidate) pairs would be silently excluded. */
  def cosineTopK(candidates: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    GraftSession.install(candidates.sparkSession)
    def quant(df: DataFrame, id: String, v: String) = df.select(
      col(idCol).as(id),
      expr(s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) " +
        "* 1000000, 0) AS BIGINT))").as(v))
      .withColumn(v + "_n2", call_function("dotq", col(v), col(v)))
    val c = quant(candidates, "cand_id", "cv")
    val q = quant(queries, "query_id", "qv")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    val cond = if (excludeSelf) col("query_id") =!= col("cand_id")
               else lit(true)
    c.join(broadcast(q), cond)
      .select(col("query_id"), col("cand_id"),
        (call_function("dotq", col("qv"), col("cv")).cast("double") /
          (sqrt(col("qv_n2").cast("double")) *
           sqrt(col("cv_n2").cast("double")))).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Synchronized label propagation communities (min-label ties) —
    * the q_graph_labelprop loop, generalized: returns (`node`,
    * `community`) after `rounds` synchronized updates. Each round is
    * one equi-join of the undirected edge list against the label
    * table plus two partial-aggregable hash aggregates. */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val e = edges.select(col(src).as("u"), col(dst).as("v"))
    val und = graft.CacheScope.track(
      e.union(e.select(col("v").as("u"), col("u").as("v")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    var labels = und.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to rounds) {
      labels = und
        .join(labels.select(col("node").as("v"), col("label")), Seq("v"))
        .groupBy(col("u"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("u"))
        .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("mx"))
        .select(col("u").as("node"), (-col("mx.neg")).as("label"))
    }
    labels.select(col("node"), col("label").as("community"))
  }

  /** Uniform PageRank (Page et al. 1999) over an arbitrary directed
    * (`src`, `dst`) edge frame — the q_graph_pagerank loop,
    * generalized: `iterations` unrolled steps of
    * r'(v) = 150 000 + (Σ_{u→v} r(u) div deg(u))·85 div 100 in
    * integer micro-units (floor division only, bit-stable). Returns
    * (`node`, `r`). Pass both edge directions for an undirected graph.
    *
    * Scale: the edges are persisted and their node count |V| is
    * measured when this is called (one job). While |V| is within
    * `spark.graft.graph.broadcastEdgeLimit`, rank/degree broadcast
    * map-side; past it, edges are hash-partitioned on src ONCE and
    * every rank join becomes a co-partitioned shuffled-hash join
    * (bit-identical — one shared core with the query library, pinned
    * in GraftApiSpec/GraphSpec). */
  def pagerank(edges: DataFrame, src: String, dst: String,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    graft.ops.GraphOps.pagerankCore(
      edges.select(col(src).as("src"), col(dst).as("dst")),
      iterations, personalized = false, seed = None)
  }

  /** Personalized PageRank / random-walk-with-restart (Page et al.
    * 1999 §6; Tong, Faloutsos, Pan ICDM 2006): all restart mass
    * returns to ONE seed node, so the stationary mass ranks nodes by
    * PROXIMITY to the seed. `seed = Some(id)` restarts at that node
    * (cast to the edge frame's node type); `None` picks the
    * top-degree node deterministically (deg DESC, node). Same core,
    * same |V| gate, same bit-identity guarantee as [[pagerank]].
    * Returns (`node`, `r`). */
  def personalizedPagerank(edges: DataFrame, src: String, dst: String,
      seed: Option[Any] = None, iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
    val seedDf = seed.map { v =>
      val sd = edges.sparkSession.range(1)
        .select(lit(v).cast(edges.schema(src).dataType).as("seed"))
      (_: DataFrame) => sd
    }
    graft.ops.GraphOps.pagerankCore(e, iterations,
      personalized = true, seed = seedDf)
  }

  /** Topic-sensitive PageRank (Haveliwala WWW 2002): restart mass
    * spreads uniformly (exact 1/|S| floor division) over a seed SET.
    * Same core, same |V| gate as [[pagerank]]; the seed set
    * collapses to one broadcast row. Returns (`node`, `r`). */
  def topicPagerank(edges: DataFrame, src: String, dst: String,
      seeds: Seq[Any], iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(seeds.nonEmpty, "seeds must be non-empty")
    val t = edges.schema(src).dataType
    val sd = seeds.map(v => edges.sparkSession.range(1)
        .select(lit(v).cast(t).as("seed")))
      .reduce(_ unionByName _)
    graft.ops.GraphOps.pagerankCore(
      edges.select(col(src).as("src"), col(dst).as("dst")),
      iterations, personalized = true,
      seed = Some((_: DataFrame) => sd))
  }

  /** Truncated Katz centrality (Katz, Psychometrika 1953) over an
    * arbitrary directed (`src`, `dst`) edge frame — the q_graph_katz
    * walk counter with β and the truncation depth exposed (the query
    * hard-codes β = 1/8, depth = 3): K(v) = Σ_{i=1..depth} βⁱ ·
    * walks_i(v) with β = 1/`invBeta`, reported as the EXACT integer
    * `katz_scaled` = K(v) · invBeta^depth = Σ invBeta^(depth−i) ·
    * walks_i(v) — the common-denominator trick keeps the whole
    * computation in the integer ring (no division at all). Returns
    * (`node`, `katz_scaled` DECIMAL(38,0)). Pass both edge directions
    * for an undirected graph.
    *
    * Exactness bounds: per-length walk counts w_i(v) are accumulated
    * as Long — the graph must keep every per-node count of length-i
    * walks below 2^63 (violated only by extremely dense deep
    * truncations; at depth d the count is bounded by d_max^d). The
    * scaled sum Σ invBeta^(depth−i)·w_i(v) is carried in
    * DECIMAL(38,0), exact to 10^38, and RAISES on overflow instead of
    * wrapping (ADVICE r13).
    *
    * Scale: each of the `depth` sparse mat-vec passes costs one
    * PageRank iteration, behind the same |V| gate as [[pagerank]] —
    * walk vectors broadcast map-side while |V| is within
    * `spark.graft.graph.broadcastEdgeLimit`; past it, edges are
    * hash-partitioned on src ONCE and every walk join becomes a
    * co-partitioned shuffled-hash join (bit-identical, pinned in
    * GraftApiSpec on both paths). */
  def katzCentrality(edges: DataFrame, src: String, dst: String,
      invBeta: Int = 8, depth: Int = 3): DataFrame = {
    require(invBeta >= 2, "invBeta must be >= 2 (beta = 1/invBeta)")
    require(depth >= 1 && depth <= 12, "depth must be in [1, 12]")
    // scale factors are Long literals; the product headroom itself now
    // lives in DECIMAL(38,0), so only the factor must fit a Long
    require(BigInt(invBeta).pow(depth) <= BigInt(Long.MaxValue),
      s"invBeta^depth = ${BigInt(invBeta).pow(depth)} does not fit " +
        "a Long scale factor")
    graft.ops.GraphOps.katzCore(
      edges.select(col(src).as("src"), col(dst).as("dst")),
      invBeta, depth)
  }

  /** Winnowing document-fingerprint near-dup pairs (Schleimer,
    * Wilkerson, Aiken SIGMOD 2003 — MOSS): hash every `k`-token gram,
    * keep the leftmost minimum of each `w`-wide window, report pairs
    * sharing ≥ 2 fingerprints as (da, db, shared_fp) — the
    * position-aware local scheme that guarantees any shared token run
    * of ≥ w + k − 1 tokens is detected. Fingerprints in > 50 docs are
    * dropped (boilerplate guard, the df-cap discipline). */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame =
    graft.ops.Dedup.winnowPairs(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")), k, w)


  /** Online Elo ratings over an ordered game stream — the q_eval_elo
    * fold, generalized: `games` rows are processed in (`ordCol`,
    * `iCol`, `jCol`) order; `sPermilleCol` is side i's score in
    * permille (1000 win / 500 draw / 0 loss). Updates use the
    * FIDE-style step table over the clamped rating diff, K = 32,
    * exact zero-sum integer deltas (loser delta := −winner delta);
    * everyone starts at 1500. Returns (`player`, `rating`).
    *
    * Ties in (`ordCol`, `iCol`, `jCol`) are processed in score
    * order. A null player or score throws.
    *
    * Scale: one Spark action packs the whole stream into one sorted row,
    * and the inherently sequential loop runs on the driver over it —
    * zero per-game Spark jobs; the call is eager. The games frame
    * must be dimension-bounded (players² × rounds, not corpus-sized)
    * — that is what makes Elo-on-Spark sane; aggregate
    * per-(player-pair, period) FIRST, as the declared query does. */
  def eloRatings(games: DataFrame, ordCol: String, iCol: String,
      jCol: String, sPermilleCol: String): DataFrame =
    graft.ops.CorpusOps43.eloFold(games.select(col(ordCol).as("ord"),
        col(iCol).as("i"), col(jCol).as("j"),
        col(sPermilleCol).cast("long").as("s_i")))
      .select(col("player"), col("rating"))

  /** Unbiased pass@k (Chen et al. 2021, the HumanEval estimator) over
    * a per-pool attempts frame: `nCol` = attempts, `cCol` = passes;
    * one `pass<k>_permille` column per requested k, exact
    * falling-factorial arithmetic in DECIMAL(38,0) with the n < k
    * contract (every k-subset is the whole pool: 1000 iff any pass).
    * Appends to the input row — the pool grain is whatever the caller
    * aggregated to. */
  def passAtK(pools: DataFrame, nCol: String, cCol: String,
      ks: Seq[Int] = Seq(1, 2, 5)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ks must be >= 1: $ks")
    val base = pools
      .withColumn("__pk_n", col(nCol).cast("long"))
      .withColumn("__pk_c", col(cCol).cast("long"))
    ks.foldLeft(base) { (df, k) =>
        df.withColumn(s"pass${k}_permille",
          expr(graft.ops.CorpusOps44.passKExpr(k, "__pk_n", "__pk_c")))
      }
      .drop("__pk_n", "__pk_c")
  }

  /** Unbiased best-of-n score estimation (the WebGPT/BoN
    * rejection-sampling value): per group, E[max score among a
    * uniform n-subset] = Σᵢ score₍ᵢ₎ · C(i−1, n−1) / C(m, n) over the
    * ascending order statistics; groups smaller than n take the group
    * max (every n-subset is the whole pool). Returns one row per
    * group: the group columns, `m`, and `bo<n>` per requested n
    * (floor division, exact integer arithmetic — scores must be
    * integer-typed, e.g. milli units). The order-statistic numerator
    * rides DECIMAL(38,0) (exact to 10³⁸ — 10⁶-unit scores with n ≤ 8
    * stay exact for pools into the millions and far beyond), and a
    * genuine 38-digit overflow RAISES instead of wrapping.
    *
    * Scale: one window per group (never global) + one aggregate. */
  def bestOfN(scored: DataFrame, groupCols: Seq[String],
      scoreCol: String, ns: Seq[Int] = Seq(1, 2, 4),
      tieCol: Option[String] = None): DataFrame = {
    require(ns.nonEmpty && ns.forall(n => n >= 1 && n <= 8),
      s"ns must be in [1, 8]: $ns")
    val gs = groupCols.map(col)
    val ord: Seq[Column] =
      col(scoreCol).asc +: tieCol.map(col(_).asc).toSeq
    val w = Window.partitionBy(gs: _*).orderBy(ord: _*)
    val ranked = scored
      .select((gs :+ col(scoreCol).cast("long").as("sc") :+
        row_number().over(w).cast("long").as("i")).toIndexedSeq: _*)
    // Σ sc·C(i−1, n−1) / C(m, n) ≡ n · Σ sc·ff(i−1, n−1) / ff(m, n)
    // (ff = falling factorial; the two factorials cancel), carried in
    // DECIMAL(38,0) end to end — the pass@k/katzCore discipline. The
    // old Long arithmetic wrapped silently: the weight product
    // (i−1)···(i−n+1) alone tops a Long near m ≈ 2.6e9 for n = 8, and
    // with 10⁶-unit scores the summed numerator wraps near m ≈ 2.5e3
    // for n = 4 — exactly the "pools into the millions" this doc
    // promises (ADVICE r14). A genuine 38-digit overflow now RAISES
    // instead of wrapping. The single terminal div floors the same
    // rational the old staged-exact-division form did, so in-range
    // results are bit-unchanged.
    def ff(base: String, k: Int): String =
      (0 until k).map(j => s"CAST(($base) - $j AS DECIMAL(38,0))")
        .mkString(" * ")
    def numer(n: Int): String =
      if (n == 1) "CAST(sc AS DECIMAL(38,0))"
      else s"CAST(sc AS DECIMAL(38,0)) * ${ff("i - 1", n - 1)}"
    val aggs =
      count(lit(1)).as("m") +: max(col("sc")).as("mx") +:
        ns.map(n =>
          sum(expr(numer(n))).cast("decimal(38,0)").as(s"s$n"))
    ns.foldLeft(ranked.groupBy(gs: _*).agg(aggs.head, aggs.tail: _*)) {
        (df, n) =>
          val bo = expr(
            s"CAST((CAST($n AS DECIMAL(38,0)) * s$n) div " +
              s"(${ff("m", n)}) AS BIGINT)")
          df.withColumn(s"bo$n",
            when(col("m") >= n,
              when(col(s"s$n").isNotNull && bo.isNotNull, bo)
                .otherwise(expr(
                  "raise_error('bestOfN: numerator exceeded " +
                    "DECIMAL(38,0)')").cast("long")))
              .otherwise(col("mx")))
      }
      .select(gs ++ Seq(col("m")) ++ ns.map(n => col(s"bo$n")): _*)
  }

  /** Full BPE tokenizer training (Sennrich et al., ACL 2016) over a
    * space-tokenized text column: `merges` rounds of
    * pick-best-adjacent-pair → merge over the frequency-weighted word
    * dictionary, returning the learned merge table (`round`, `merge`,
    * `cnt` at pick) — the artifact a tokenizer ships. Ties break on
    * the pair in UTF-8 byte order (Spark's string order).
    *
    * Scale: the corpus collapses to the |V|-row dictionary in ONE
    * scan, which the driver collects once: the rounds run in memory
    * over its |V| `(freq, sym)` rows. */
  /** WordPiece trainer (Schuster & Nakajima 2012 — the BERT
    * algorithm, the [[bpeTrain]] sibling): picks the highest
    * LIKELIHOOD-GAIN pair, score = count(l r)/(count(l)·count(r)),
    * instead of the highest count — rare-but-always-together pieces
    * merge first. Emits (round, merge, cnt, left_cnt, right_cnt). */
  def wordpieceTrain(docs: DataFrame, textCol: String,
      merges: Int = 6): DataFrame = {
    require(merges >= 1 && merges <= 64,
      s"merges must be in [1, 64]: $merges")
    graft.ops.CorpusOps59.wordpieceMerges(
      graft.ops.TextAnalysis.symbolizedDocs(
        docs.select(col(textCol).as("text"))), merges)
  }

  def bpeTrain(docs: DataFrame, textCol: String,
      merges: Int = 6): DataFrame = {
    require(merges >= 1 && merges <= 64,
      s"merges must be in [1, 64]: $merges")
    graft.ops.TextAnalysis.bpeMerges(
      graft.ops.TextAnalysis.symbolizedDocs(
        docs.select(col(textCol).as("text"))), merges)
  }

  /** Apply a learned BPE merge table (the `merge` column of
    * [[bpeTrain]]'s output, in round order) to a corpus — the
    * tokenizer DEPLOYMENT step: returns the tokenized dictionary
    * (`word`, `freq`, `sym` — `sym` is the space-separated BPE
    * segmentation with the `</w>` end-of-word marker). Merges apply
    * as ONE chained boundary-anchored map-side rewrite over the
    * |V|-row dictionary; 100 TB of text is touched once, to build
    * the word frequencies. */
  def bpeApply(docs: DataFrame, textCol: String,
      merges: Seq[String]): DataFrame = {
    require(merges.nonEmpty && merges.forall(_.contains(" ")),
      "merges must be 'X Y' pair strings from bpeTrain, in round order")
    graft.ops.TextAnalysis.applyMerges(
      graft.ops.TextAnalysis.symbolizedDocs(
        docs.select(col(textCol).as("text"))), merges)
  }

  /** Per-group BPE fertility (tokens per word, milli units — the
    * sentencepiece "pieces per word" health metric a multilingual
    * pipeline tracks per language/source) after applying a learned
    * merge table: returns (`groupCol`, `n_words`, `n_bpe_tokens`,
    * `bpe_per_word_milli`). One corpus scan builds the per-group word
    * frequencies; everything downstream is vocabulary-sized. */
  def bpeFertility(docs: DataFrame, textCol: String, groupCol: String,
      merges: Seq[String]): DataFrame = {
    require(merges.nonEmpty && merges.forall(_.contains(" ")),
      "merges must be 'X Y' pair strings from bpeTrain, in round order")
    val ws = docs
      .select(col(groupCol).as("__grp"),
        explode(split(col(textCol), " ")).as("word"))
      .groupBy(col("__grp"), col("word"))
      .agg(count(lit(1)).as("freq_s"))
    val dict0 = ws
      .groupBy(col("word")).agg(sum(col("freq_s")).as("freq"))
      .withColumn("sym",
        concat(regexp_replace(col("word"), "(.)", "$1 "), lit("</w>")))
    graft.ops.TextAnalysis.fertilityFrom(ws, dict0, merges, "__grp")
      .withColumnRenamed("__grp", groupCol)
  }

  /** IVF index maintenance loop (the q_sim_ivf_rebalance composition
    * — delta-merge then split-until-balanced): assign every vector to
    * the `spark.graft.ivf.cells` lowest-id seed vectors (the
    * library's frozen-centroid IVF convention), then run up to
    * `rounds` scheduler rounds, each splitting the hottest (cid,
    * path) cell ONLY IF its share exceeds `thresholdPermille`
    * (n·K·1000 > threshold·total), re-assigning that one cell's
    * members between its two lowest-id seed vectors by exact int64
    * squared distance (child paths 3·path + {1, 2}). Returns the
    * (vec_id, cid, path) assignment after the initial assign (index
    * 0) and after each round — the per-round states a maintenance
    * scheduler inspects.
    *
    * Scale: scheduler decisions are BOUNDED scalar driver actions
    * (hottest cell 1 row, 2 seed vectors), so the plan stays linear
    * in rounds; the hot-cell member joins ride the measured-size
    * broadcast↔shuffle gate (`spark.graft.ivf.broadcastMemberLimit`);
    * the cell count derives automatically from the corpus size
    * (clamp(16, ceil(n / `spark.graft.ivf.targetCellSize`), 65536),
    * default 256 vectors/cell; explicit `spark.graft.ivf.cells`
    * wins) — 16 at fixture sizes, so facade≡declared pins hold. */
  def ivfRebalance(embs: DataFrame, idCol: String, vecCol: String,
      rounds: Int = 3, thresholdPermille: Long = 1100L)
      : Seq[DataFrame] = {
    require(rounds >= 1 && rounds <= 16, s"rounds out of range: $rounds")
    require(thresholdPermille >= 1000L,
      s"thresholdPermille must be >= 1000 (balanced): $thresholdPermille")
    val s = embs.sparkSession
    GraftSession.install(s)
    val emb = graft.CacheScope.track(embs
      .select(col(idCol).as("vec_id"),
        expr(s"""transform($vecCol, x ->
            CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))""")
          .as("q"))
      .withColumn("n2", call_function("dotq", col("q"), col("q")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // auto-K: the count rides the just-persisted narrow frame (no
    // extra source scan); an explicit spark.graft.ivf.cells wins
    val k = graft.ops.Similarity.resolveCells(s, emb.count())
    val av0 = graft.ops.Similarity.assignCells(emb, emb, k)
      .withColumn("path", lit(0L))
    graft.ops.Similarity.rebalanceRounds(s, emb, av0, k, rounds,
      thresholdPermille)
  }

  /** Exact-substring duplication profile (Lee et al., ACL 2022 — the
    * ExactSubstr criterion): per document, the token positions covered
    * by any `L`-token window occurring ≥ 2 times corpus-wide
    * (self-repetition included). Returns (`idCol`, `n_tokens`,
    * `dup_tokens`, `dup_permille`) — the decision table a span-cut
    * step consumes. Windows hash to fixed-width 60-bit keys; the ≥2
    * filter and position semi-join co-partition on the hash (never
    * broadcast — duplicated-gram volume grows with the corpus). */
  def substringDupProfile(docs: DataFrame, idCol: String,
      textCol: String, L: Int = 8): DataFrame = {
    require(L >= 2 && L <= 64, s"L out of range: $L")
    graft.ops.CorpusOps46.substringProfileFrom(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")), L)
      .withColumnRenamed("doc_id", idCol)
  }

  /** Greedy k-center seeding (Gonzalez 1985 farthest-point, the
    * 2-approximation that seeds k-means++/coreset/IVF-retrain
    * pipelines): seed = lowest id, then k − 1 rounds of take-the-
    * farthest by exact int64 d² (ties to the lower id). Returns
    * (`round`, `center_id`, `radius_d2`) — radius is the max-min d²
    * BEFORE that center joined, a non-increasing coverage curve.
    * Each round is one map-side rewrite against the collected center
    * vector: k corpus scans total, no joins after the seed fetch. */
  def kcenterInit(embs: DataFrame, idCol: String, vecCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 2 && k <= 256, s"k out of range: $k")
    GraftSession.install(embs.sparkSession)
    graft.ops.CorpusOps46.kcenterFrom(
      embs.select(col(idCol).as("vec_id"),
          expr(s"""transform($vecCol, x ->
              CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))""")
            .as("q"))
        .withColumn("n2", call_function("dotq", col("q"), col("q"))),
      k)
  }

  private def labeledQuant(embs: DataFrame, idCol: String,
      vecCol: String, labelCol: String): DataFrame = {
    GraftSession.install(embs.sparkSession) // dotq used downstream
    embs.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
      expr(s"""transform($vecCol, x ->
          CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))""")
        .as("q"))
  }

  /** The k-lowest-ids bound every bounded-set facade routes through
    * (VERDICT r16 item 1): one TakeOrdered driver fetch of the 50
    * lowest ids, a loud `require` on an empty frame — value-equal to
    * the declared literal `vec_id < k` on dense 0-based ids, correct
    * on any id space. */
  private def idBound(embs: DataFrame, idCol: String,
      what: String): Int => Column =
    graft.ops.BoundedIds.cutoffs(
      embs.select(col(idCol).cast("long").as("vec_id")), "vec_id", 50,
      what)

  /** Label-supervised retrieval recall@10 (the BEIR/MTEB-shape eval a
    * pipeline runs on an embedding model before trusting its ANN
    * index): the 50 lowest-id queries (k-lowest by TakeOrdered — ids
    * need not be dense or 0-based), brute-force cosine top-10 (self
    * excluded), hit = shared label; per label Σhits / Σmin(10,
    * |label|−1) in permille. Candidates stream in one pass. */
  def retrievalRecall(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame =
    graft.ops.CorpusOps46.retrievalRecallFrom(
      labeledQuant(embs, idCol, vecCol, labelCol),
      idBound(embs, idCol, "Graft.retrievalRecall"))

  /** Mean reciprocal rank @10 on the same labeled retrieval task as
    * [[retrievalRecall]] — rewards putting ONE relevant item early.
    * Exact micro units (1e6 div first-hit rank, 0 when no hit). */
  def retrievalMrr(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame =
    graft.ops.CorpusOps46.mrrFrom(
      labeledQuant(embs, idCol, vecCol, labelCol),
      idBound(embs, idCol, "Graft.retrievalMrr"))

  /** nDCG@10 on the same labeled retrieval task as
    * [[retrievalRecall]] — position-discounted gain with fixed
    * integer rank weights round(1e6/log2(rank+1)); ideal DCG packs
    * the attainable hits first. Exact integer arithmetic. */
  def retrievalNdcg(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame =
    graft.ops.CorpusOps46.ndcgFrom(
      labeledQuant(embs, idCol, vecCol, labelCol),
      idBound(embs, idCol, "Graft.retrievalNdcg"))

  /** Weighted reservoir sample, algorithm A-ES (Efraimidis &
    * Spirakis 2006): one pass, global top-`k` by the key
    * ln(u)/weight with u derived from a content hash — a
    * deterministic weighted sample with inclusion probability ∝
    * `weightCol` (must be a positive integer column). Returns the
    * sampled rows as (`idCol`, `weightCol`, `key_nano`). */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int = 50): DataFrame = {
    require(k >= 1 && k <= 1000000, s"k out of range: $k")
    graft.ops.CorpusOps46.reservoirFrom(
      df.select(col(idCol).as("doc_id"), lit("").as("source"),
        col(weightCol).cast("long").as("w")), k)
      .select(col("doc_id").as(idCol), col("w").as(weightCol),
        col("key_nano"))
  }

  /** Gopher/MassiveText quality-rule battery (Rae et al. 2021,
    * Appendix A1.1): per `groupCol`, pass counts for the ≥50-words,
    * mean-word-length-[3,10], ≥2-stopwords, and ≥80%-alphabetic-words
    * rules plus their conjunction — the filter-attrition table read
    * before switching the battery on. One corpus scan, per-doc HOF
    * arithmetic, |groups| output rows. */
  def gopherRules(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame =
    graft.ops.CorpusOps46.gopherRulesFrom(
      docs.select(col(groupCol).as("__grp"),
        col(textCol).as("text")), "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** Margin-criterion candidate-pair mining (Artetxe & Schwenk, ACL
    * 2019 — the LASER/CCMatrix bitext-mining score) over an
    * embedding frame: margin(x, y) = 2·cos(x, y) /
    * (avgNN₄(x) + avgNN₄(y)) over IVF-cell-blocked candidates, top-1
    * CROSS-label match per query above margin 1.05. `labelCol` is the
    * language/domain axis; the K lowest-id vectors seed the frozen
    * coarse quantizer (the library's IVF convention), so ids must
    * start at the corpus's stable prefix. Returns (`vec_id`,
    * `match_id`, `label_x`, `label_y`, `margin_micro`).
    *
    * The cell count K derives AUTOMATICALLY from the corpus size —
    * K = clamp(16, ceil(n / `spark.graft.ivf.targetCellSize`), 65536),
    * default 256 vectors/cell — so the same-cell pair stream stays
    * linear in n at any corpus size (an explicit
    * `spark.graft.ivf.cells` overrides). At fixture sizes (≤ 2000
    * vectors) the derived K is the declared queries' 16, so this
    * facade stays bit-identical to `q_sim_margin_mine` there. */
  def marginMine(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    GraftSession.install(embs.sparkSession)
    val q = embs.select(col(idCol).as("vec_id"),
        col(labelCol).as("label"),
        expr(s"""transform($vecCol, x ->
            CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))""")
          .as("q"))
      .withColumn("n2", call_function("dotq", col("q"), col("q")))
    graft.ops.Similarity.marginMineFrom(q, autoK = true)
  }

  /** Scale-safe global ntile: the bucket-offset decomposition of
    * [[graft.ops.ScaleWindows]] — no single-partition sort at any
    * size. `bucket` must be coarse and monotone (same direction as
    * `order`'s leading column). */
  def globalNtile(df: DataFrame, k: Int, bucket: Column,
      bucketDesc: Boolean, order: Seq[Column], out: String): DataFrame =
    ScaleWindows.bucketedNtile(df, k, bucket, bucketDesc, order, out)

  /** Scale-safe global row_number under the same contract. */
  def globalRowNumber(df: DataFrame, bucket: Column, bucketDesc: Boolean,
      order: Seq[Column], out: String): DataFrame =
    ScaleWindows.bucketedRowNumber(df, bucket, bucketDesc, order, out)

  /** PPJoin threshold similarity self-join (Xiao, Wang, Lin, Yu 2008)
    * — the LOSSLESS near-duplicate pair finder of the dedup pipeline:
    * returns exactly the document pairs whose k-shingle Jaccard
    * (integer permille) is >= `thresholdPermille`, pruned by prefix
    * filtering + the threshold-derived length filter, never all
    * pairs. Output: (da, db, i, na, nb, jacc_permille), da < db.
    *
    * Scale: prefix posting lists are rarest-first by global shingle
    * df, so hot shingles land in suffixes; the exact-intersection
    * verify join runs on candidates only. */
  def ppjoin(docs: DataFrame, idCol: String, textCol: String,
      thresholdPermille: Int = 500, shingle: Int = 3): DataFrame =
    graft.ops.CorpusOps21.ppjoinImpl(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      thresholdPermille, shingle)

  /** SemDeDup (Abbas et al. 2023): near-duplicate embedding pairs
    * with exact cosine >= `threshold`, found within shared IVF cells
    * (multi-probe soft assignment, nprobe cells per vector) — the
    * production-scale semantic dedup that never goes all-pairs.
    * Vectors micro-quantize to int64 so the verify cosine is
    * bit-stable. `idCol` must be numeric (cast to long: the coarse
    * quantizer seeds centroids from the k LOWEST ids — ids need not
    * be dense or 0-based). The cell count rides the shared
    * [[graft.ops.Similarity.resolveCells]] dial: explicit
    * `spark.graft.ivf.cells` wins, else clamp(64, ceil(n / target),
    * 65536) with target = `spark.graft.ivf.targetCellSize` (default
    * 32 vectors/cell here — the within-cell verify join is
    * quadratic). Output: (va, vb, cos), va < vb. */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.3, nprobe: Int = 6): DataFrame = {
    GraftSession.install(vectors.sparkSession)
    val emb = vectors.select(col(idCol).cast("long").as("vec_id"),
      expr(s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) " +
        "* 1000000, 0) AS BIGINT))").as("q"))
      .withColumn("n2", call_function("dotq", col("q"), col("q")))
    graft.ops.Similarity.semanticDedupImpl(emb, threshold, nprobe,
      graft.ops.BoundedIds.kthLowest(emb, "vec_id",
        "Graft.semanticDedup"))
  }

  /** Full k-means (Lloyd) training loop: seed centroids from the `k`
    * lowest ids, then `rounds` rounds of assign-by-cosine → recompute
    * FLOORED-MEAN centroids (corpus-invariant component magnitudes —
    * the multi-round-safe variant of the single step's integer-sum
    * centroid). Returns the per-round census (`round`, `cid`, `n`,
    * `moved`, `min_vec`). Each round is one corpus scan against a
    * k-row broadcast literal; the plan stays linear in rounds.
    *
    * `k = 0` (the default) derives the cluster count from the corpus
    * size — clamp(16, ceil(n / `spark.graft.ivf.targetCellSize`),
    * 65536), default 256 vectors/cell, explicit
    * `spark.graft.ivf.cells` overriding — so a quantizer trained for
    * the IVF family keeps cell size bounded at any corpus scale. At
    * fixture sizes the derived k is 16, the declared query's
    * constant. */
  def kmeansTrain(embs: DataFrame, idCol: String, vecCol: String,
      k: Int = 0, rounds: Int = 3): DataFrame = {
    require(k == 0 || (k >= 2 && k <= 65536), s"k out of range: $k")
    require(rounds >= 1 && rounds <= 64, s"rounds out of range: $rounds")
    GraftSession.install(embs.sparkSession)
    graft.ops.CorpusOps47.kmeansTrainFrom(
      embs.select(col(idCol).cast("long").as("vec_id"),
        expr(s"""transform($vecCol, x ->
            CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))""")
          .as("q")), k, rounds)
  }

  /** Soft deduplication: weight every exact-duplicate copy by
    * 1/cluster-size instead of deleting it. Returns per group
    * (`n_docs`, `dup_docs`, `raw_tokens`, `eff_tokens_milli`) — the
    * raw-vs-effective token-mass mixture table a sampler consumes.
    * The cluster-size table grows with the corpus, so the join back
    * is co-partitioned on the fingerprint, never broadcast; effective
    * mass is summed in DECIMAL(38,0). */
  def softdedupWeights(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame =
    graft.ops.CorpusOps47.softdedupFrom(
      docs.select(col(groupCol).as("__grp"), col(textCol).as("text")),
      "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** The staged filter→dedup attrition waterfall: stage 0 = raw,
    * stage 1 = passes all four Gopher A1.1 rules, stage 2 = stage-1
    * survivors after exact-dup removal keeping the lowest id per md5
    * cluster. Returns (`stage`, `groupCol`, `n_docs`, `n_tokens`).
    * One persisted per-doc flags scan feeds all three stages. */
  def attritionWaterfall(docs: DataFrame, idCol: String,
      textCol: String, groupCol: String): DataFrame =
    graft.ops.CorpusOps47.attritionFrom(
      docs.select(col(idCol).as("doc_id"), col(groupCol).as("__grp"),
        col(textCol).as("text")), "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** The end-to-end datacard pipeline (r17): raw → C4∧Gopher gate →
    * exact-dedup keep-first → soft-dedup reweight (reported beside
    * the cut) → BPE tokenize (6-merge model trained on the kept
    * corpus) → UniMax allocation (cap = 2 epochs, budget = total
    * div 2). One row per `groupCol` with every stage's census —
    * composed from the same cores as the standalone operators. */
  def pipelineE2e(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame =
    graft.ops.CorpusOps56.pipelineE2eFrom(
      docs.select(col(idCol).as("doc_id"),
        col(groupCol).cast("string").as("__grp"),
        col(textCol).as("text")), "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** Quality-threshold attrition sweep: docs and tokens kept at
    * integer quality-score thresholds 0, 100, …, 900 (the
    * q_text_quality axes in exact milli-units with the same 5/3/1/1
    * weights). One corpus scan to a ≤10-row score-bucket histogram;
    * the sweep is a literal-frame join against it, never a corpus
    * fan-out. Monotone non-increasing in the threshold. */
  def qualityThresholdSweep(docs: DataFrame, textCol: String)
      : DataFrame =
    graft.ops.CorpusOps47.thresholdSweepFrom(
      docs.select(col(textCol).as("text")))

  /** Neyman optimal stratified allocation (Neyman 1934): split a
    * sampling `budget` across strata proportional to N_h · S_h
    * (stratum size × std-dev of `valueCol`), integerized by floor +
    * largest-remainder apportionment (deterministic: remainder desc,
    * stratum asc). Returns (`groupCol`, `n_docs`, `sd_milli`, `w`,
    * `alloc`) with Σ alloc = budget exactly. One scan to a
    * |strata|-row frame; the windows run on that frame only. */
  def neymanAllocation(obs: DataFrame, valueCol: String,
      groupCol: String, budget: Long = 100L): DataFrame = {
    require(budget >= 1, s"budget out of range: $budget")
    graft.ops.CorpusOps48.neymanFrom(
      obs.select(col(groupCol).as("__grp"),
        col(valueCol).cast("long").as("ntok")), "__grp", budget)
      .withColumnRenamed("__grp", groupCol)
  }

  /** Incremental connected-components maintenance: merge a delta
    * batch into standing base components through the CONTRACTED
    * base-cluster graph — the batch never re-runs CC over the base
    * edge set, and min-label contraction provably equals a full
    * recompute. `pairs` = undirected (aCol, bCol) edges over numeric
    * ids; `isNew` maps a node-id column to the is-delta predicate.
    * Returns per delta-touched component (`component` = min member
    * id): `n_docs`, `n_new`, and `n_base_clusters` — how many
    * standing clusters the batch bridged. */
  def componentsDelta(pairs: DataFrame, aCol: String, bCol: String,
      isNew: Column => Column): DataFrame =
    graft.ops.CorpusOps48.ccDeltaFrom(
      pairs.select(col(aCol).cast("long").as("da"),
        col(bCol).cast("long").as("db")), isNew)

  // -----------------------------------------------------------------
  // r16: the tuning/planning tables (VERDICT r15 item 3) — the tables
  // a pipeline owner reads BEFORE fixing production dials, previously
  // reachable only through the query registry.
  // -----------------------------------------------------------------

  /** Blocking-strategy audit: the library's three near-dup candidate
    * generators (df-capped 3-gram shingle index, pigeonhole SimHash
    * block join, winnowing fingerprints) measured against one truth —
    * exact Jaccard ≥ 0.2 over the shingle pair stream. Returns per
    * blocker (`n_candidates`, `n_true`, `truth_total`,
    * `precision_permille`, `recall_permille`) — the cost-vs-coverage
    * table that picks the production blocker. One persisted pair
    * stream serves truth and shingle candidates; no blocker ever goes
    * all-pairs. */
  def blockingAudit(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    graft.ops.CorpusOps48.blockingAuditFrom(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** Jaccard-threshold dedup sweep: candidate pairs from the df-capped
    * shingle index thresholded at θ ∈ {0.2, 0.5, 0.8} by exact
    * cross-multiplication; returns per θ the surviving pairs and
    * distinct docs affected — the blast-radius-vs-strictness table
    * read before fixing the production threshold. Always 3 rows (a θ
    * matching nothing reports zeros). */
  def dedupThresholdSweep(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.ops.CorpusOps48.dedupThresholdSweepOf(
      graft.ops.Dedup.jaccardPairStreamOf(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))))

  /** The `cells` recall/cost frontier of the IVF family: K ∈ {8, 16,
    * 32} coarse cells × nprobe 4 over the 50 lowest-id queries —
    * candidates scanned vs recall@10 against brute-force truth.
    * Returns (`cells`, `n_queries`, `candidates`,
    * `recall_at10_permille`) — the build-time tuning table behind the
    * `spark.graft.ivf.targetCellSize` default. */
  def ivfCellsFrontier(embs: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    GraftSession.install(embs.sparkSession)
    graft.ops.CorpusOps46.cellsFrontierFrom(
      quantIdVec(embs, idCol, vecCol),
      idBound(embs, idCol, "Graft.ivfCellsFrontier"))
  }

  /** The nprobe recall/cost frontier at the fixed K = 16 quantizer:
    * nprobe ∈ {1, 2, 4, 8}, one shared probe ranking filtered per
    * depth (candidate sets nested, recall/cost monotone). Returns
    * (`nprobe`, `n_queries`, `candidates`, `recall_at10_permille`) —
    * the query-time latency dial, turnable without rebuilding. */
  def ivfNprobeFrontier(embs: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    GraftSession.install(embs.sparkSession)
    graft.ops.CorpusOps48.nprobeFrontierFrom(
      quantIdVec(embs, idCol, vecCol),
      idBound(embs, idCol, "Graft.ivfNprobeFrontier"))
  }

  private def quantIdVec(embs: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    embs.select(col(idCol).cast("long").as("vec_id"),
      expr(s"""transform($vecCol, x ->
          CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))""")
        .as("q"))

  /** Data-constrained repetition-value plan (the Muennighoff et al.
    * 2023 epochs question in the declared geometric-half-decay form):
    * per (`groupCol`, repeats 1..4) the effective token mass and the
    * marginal value of the R-th epoch, exact in milli. One scan to a
    * |groups|-row frame. */
  def epochPlan(docs: DataFrame, textCol: String, groupCol: String)
      : DataFrame =
    graft.ops.CorpusOps48.epochPlanFrom(
      docs.select(col(groupCol).as("__grp"),
        size(split(col(textCol), " ")).cast("long").as("ntok")), "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** Sampling-temperature sweep over the IEEE-exact τ ladder {1, ½,
    * ¼}: per-group share ∝ n_docs^τ and a `budget`-doc allocation at
    * each temperature — the flatness-vs-fidelity frontier a mixture
    * designer reads before picking τ. τ is restricted to powers of ½
    * (chains of correctly-rounded sqrts — `pow` is not portable). */
  def temperatureSweep(docs: DataFrame, groupCol: String,
      budget: Long = 2000L): DataFrame = {
    require(budget >= 1, s"budget out of range: $budget")
    graft.ops.CorpusOps48.temperatureSweepFrom(
      docs.select(col(groupCol).as("__grp")), "__grp", budget)
      .withColumnRenamed("__grp", groupCol)
  }

  /** BPE vocab-size ROI curve: after m ∈ {0, 2, 4, 6} of the 6
    * learned merges, the distinct symbol count, corpus token total,
    * and tokens-per-word milli — the "is a bigger vocabulary worth
    * it" table read before fixing |V|. Corpus collapses to the
    * dictionary in one scan; every curve point is dictionary-sized. */
  def bpeVocabCurve(docs: DataFrame, textCol: String): DataFrame =
    graft.ops.TextAnalysis.vocabCurveFrom(
      docs.select(col(textCol).as("text")))

  /** CCNet head/middle/tail cut (Wenzek et al. 2020): per-language
    * add-one bigram LM trained on the `trusted` slice, exact micro-bit
    * scoring of the rest, tercile split at value-granular boundaries
    * from a (lang, rate) histogram — NO per-language global sort at
    * any scale. Returns per (lang, bucket) doc/bigram counts and the
    * rate range. `trusted` maps the frame to its is-trusted boolean
    * column (CCNet uses Wikipedia). */
  def ccnetCut(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, trusted: Column): DataFrame =
    graft.ops.CorpusOps47.ccnetCutFrom(
      docs.select(col(idCol).as("doc_id"), col(langCol).as("lang"),
        col(textCol).as("text"), trusted.cast("boolean").as("trusted")))

  /** Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; Chen
    * & Goodman 1999): D = 3/4 absolute discount + continuation
    * probability, trained on the `trusted` slice, scoring the rest in
    * exact integer micro-bits. Returns (`idCol`, `n_bigrams`,
    * `kn_nll_micro`, `bits_per_bigram_micro`). LM joins ride the
    * measured-cardinality broadcast gate. */
  def kneserNeyScore(docs: DataFrame, idCol: String, textCol: String,
      trusted: Column): DataFrame =
    graft.ops.CorpusOps46.kneserNeyFrom(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        trusted.cast("boolean").as("trusted")))
      .withColumnRenamed("doc_id", idCol)

  /** Keep-first exact-substring span-cut estimate (the destructive
    * half of Lee et al. 2022): every ≥2-occurrence `L`-token window
    * marks all occurrences except the globally first for cutting;
    * returns per `groupCol` the interval-union cut-token count and
    * permille — the corpus-shrinkage number an owner signs off on
    * before a destructive dedup. */
  def substringCut(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, L: Int = 8): DataFrame = {
    require(L >= 2 && L <= 64, s"L out of range: $L")
    graft.ops.CorpusOps46.substringCutFrom(
      docs.select(col(idCol).as("doc_id"), col(groupCol).as("__grp"),
        col(textCol).as("text")), "__grp", L)
      .withColumnRenamed("__grp", groupCol)
  }

  /** Unigram-LM (SentencePiece-style) tokenizer trainer (Kudo, ACL
    * 2018, in the library's declared exact-arithmetic form): seed
    * from frequency-weighted word substrings, two Viterbi E-steps
    * with a prune/re-cost between them (all chars kept — every word
    * stays segmentable — plus the top-40 multi-char pieces by usage).
    * Returns the shipped piece table (`piece`, `piece_len`,
    * `used_count`, `cost_micro`). One corpus scan to the dictionary;
    * the bounded vocab collects to a literal map, so segmentation is
    * a pure map-side pass at any corpus size. */
  def unigramTrain(docs: DataFrame, textCol: String): DataFrame =
    graft.ops.CorpusOps49.unigramCore(
      docs.select(col(textCol).as("text")))._1

  /** Per-group fertility (pieces per token, milli) under the final
    * [[unigramTrain]] model — read side-by-side with [[bpeFertility]]
    * when choosing the tokenizer algorithm. */
  def unigramFertility(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame =
    graft.ops.CorpusOps49.unigramFertilityFrom(
      docs.select(col(groupCol).as("__grp"), col(textCol).as("text")),
      "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** C4 cleaning-rule battery (Raffel et al. 2020 §2.2, the named
    * text-only subset): per group the pass counts of the ≥3-sentence
    * proxy, terminal-punctuation, no-brace, no-lorem-ipsum and
    * ≥5-words rules plus their conjunction — the [[gopherRules]]
    * sibling for the other canonical web battery. */
  def c4Rules(docs: DataFrame, textCol: String, groupCol: String)
      : DataFrame =
    graft.ops.CorpusOps50.c4RulesFrom(
      docs.select(col(groupCol).as("__grp"), col(textCol).as("text")),
      "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** UniMax mixture allocation (Chung et al. 2023): split `budget`
    * units as uniformly as possible across groups subject to
    * cap = `epochCap` × the group's mass — ascending-capacity
    * waterfilling with exact integer floor division. Returns
    * (`groupCol`, `raw_tokens`, `cap_tokens`, `alloc_tokens`,
    * `capped`). One scan to |groups| rows; the sequential fold runs
    * over one packed bounded array. The group column is read AS
    * STRING (cast here — the fold's packed struct is string-keyed),
    * so `groupCol` comes back as a string column. */
  def unimaxAllocation(obs: DataFrame, valueCol: String,
      groupCol: String, budget: Long, epochCap: Long = 2L): DataFrame = {
    require(budget >= 0, s"budget out of range: $budget")
    require(epochCap >= 1 && epochCap <= 1000,
      s"epochCap out of range: $epochCap")
    val st = obs.select(col(groupCol).cast("string").as("__grp"),
        col(valueCol).cast("long").as("ntok"))
      .groupBy(col("__grp")).agg(sum(col("ntok")).as("raw_tokens"))
    val b = obs.sparkSession.range(1)
      .select(lit(budget).as("budget"))
    graft.ops.CorpusOps50.unimaxFold(st, b, "__grp", epochCap)
      .withColumnRenamed("__grp", groupCol)
  }

  /** Heaps-law vocabulary growth: cumulative docs / tokens / distinct
    * types and the type-token ratio at the 25/50/75/100% id-prefix
    * checkpoints — the vocab-grows-with-corpus measurement behind
    * every bounded-broadcast gate. One token scan (each type carries
    * its first-appearance quarter). */
  def heapsCurve(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    graft.ops.CorpusOps51.heapsFrom(
      docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("text")))

  /** Embedding anisotropy audit (Ethayarajh 2019): mean / mean-abs /
    * min / max pairwise cosine over a BOUNDED query frame, overall
    * and within-label vs cross-label — the cosine-health check run
    * before trusting raw cosine thresholds. Keep `embs` bounded
    * (≲ a few thousand rows): the audit is all-pairs on the query
    * set by design. */
  def anisotropyAudit(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    GraftSession.install(embs.sparkSession)
    graft.ops.CorpusOps51.anisotropyFrom(
      embs.select(col(idCol).cast("long").as("vec_id"),
        col(labelCol).as("label"),
        expr(s"""transform($vecCol, x ->
            CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))""")
          .as("q")))
  }

  /** Byte-fallback rate (the SentencePiece character_coverage dial):
    * per group, the permille of token occurrences containing any
    * character outside the `trusted` slice's alphabet — the tokens a
    * deployed tokenizer would byte-fallback on. */
  def byteFallback(docs: DataFrame, textCol: String, groupCol: String,
      trusted: Column): DataFrame =
    graft.ops.CorpusOps51.byteFallbackFrom(
      docs.select(col(groupCol).as("__grp"), col(textCol).as("text"),
        trusted.cast("boolean").as("trusted")), "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** Leave-one-group-out ablation plan: per group the complement
    * corpus's mass and quality-mean shift — the "which source do we
    * ablate first" table. `valueCol` = per-row mass (e.g. tokens),
    * `scoreCol` = an integer quality score. Pure |groups|-row
    * algebra on one scan's aggregates. */
  def sourceAblation(obs: DataFrame, valueCol: String,
      scoreCol: String, groupCol: String): DataFrame =
    graft.ops.CorpusOps52.ablationFrom(
      obs.select(col(groupCol).as("__grp"),
        col(valueCol).cast("long").as("ntok"),
        col(scoreCol).cast("long").as("sc")), "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** Deterministic bootstrap CI (Efron 1979) for a per-group mean of
    * an integer metric: 32 md5-derived Poisson(1)-approximate
    * resamples, interval = the 2nd/31st order statistic of the
    * replicate means. Same ids → same resamples forever, so CI
    * movement across runs is signal, not reseeding noise. Returns
    * (`groupCol`, `mean_micro`, `lo_micro`, `hi_micro`) — means in
    * value·1000 units. */
  def bootstrapCI(obs: DataFrame, idCol: String, valueCol: String,
      groupCol: String): DataFrame =
    graft.ops.CorpusOps52.bootstrapFrom(
      obs.select(col(idCol).as("doc_id"), col(groupCol).as("__grp"),
        col(valueCol).cast("long").as("sc")), "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** Train-your-own quality filter, held-out confusion readout: an
    * add-one multinomial Naive-Bayes classifier over tokens —
    * `label` maps the frame to its 0/1 target, `train` to the
    * training-split predicate; the rest of the frame is scored and
    * read out as per-`groupCol` (n_eval, tp, fp, fn, tn). Per-token
    * log-odds are exact integer micro-bits; the vocab-bounded λ
    * table rides the measured-cardinality broadcast gate. */
  def nbQualityConfusion(docs: DataFrame, idCol: String,
      textCol: String, groupCol: String, label: Column,
      train: Column): DataFrame =
    graft.ops.CorpusOps50.nbConfusionFrom(
      docs.select(col(idCol).as("doc_id"), col(groupCol).as("source"),
        col(textCol).as("text"), label.cast("long").as("label"),
        train.cast("boolean").as("train")))
      .withColumnRenamed("source", groupCol)

  /** NB quality-filter calibration/reliability table (the
    * [[nbQualityConfusion]] sibling): the held-out decision margin
    * (exact micro-bits) bucketed into 17 one-bit bands (bucket 8 =
    * [0, 1)), with the empirical positive rate per band in permille.
    * A pipeline thresholding at anything but 0 reads this first —
    * NB margins are notoriously over-confident. */
  def nbQualityCalibration(docs: DataFrame, idCol: String,
      textCol: String, label: Column, train: Column): DataFrame =
    graft.ops.CorpusOps58.nbCalibrationFrom(
      docs.select(col(idCol).as("doc_id"), lit("all").as("source"),
        col(textCol).as("text"), label.cast("long").as("label"),
        train.cast("boolean").as("train")))

  /** ROC-AUC of the NB margin (Mann–Whitney, exact over the
    * value-granular margin histogram with the exact ½-tie
    * contribution) — the threshold-free fourth leg of the
    * filter-trust set beside [[nbQualityConfusion]], kappa, and
    * [[nbQualityCalibration]]. Returns one row (n_pos, n_neg, u2,
    * auc_permille). */
  def nbQualityAuc(docs: DataFrame, idCol: String, textCol: String,
      label: Column, train: Column): DataFrame =
    graft.ops.CorpusOps58.nbAucFrom(
      docs.select(col(idCol).as("doc_id"), lit("all").as("source"),
        col(textCol).as("text"), label.cast("long").as("label"),
        train.cast("boolean").as("train")))

  /** Retrain recall audit — the maintenance dial of the IVF tuning
    * trilogy (cells frontier = build dial, nprobe frontier = query
    * dial): recall@10 and candidates scanned under the lowest-id
    * seed quantizer vs the 3-round-Lloyd-trained one, at the fixed
    * K = 16 / nprobe = 4 operating point — "is a retrain worth the
    * pipeline run" in the metric a user feels. */
  def retrainRecallAudit(embs: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    GraftSession.install(embs.sparkSession)
    graft.ops.CorpusOps54.retrainRecallFrom(
      embs.select(col(idCol).cast("long").as("vec_id"),
        expr(s"""transform($vecCol, x ->
            CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))""")
          .as("q")),
      idBound(embs, idCol, "Graft.retrainRecallAudit"))
  }

  /** Graph-based ANN (NSW-shape, r17): deterministic bounded-degree
    * neighbor graph (cell-blocked top-8 edges + a meshed centroid hub
    * layer for navigability) and a 4-hop beam-16 greedy search from
    * the lowest-id entry point. Returns per query (the 50 lowest ids)
    * the top-10 as (qid, rk, cid). The cell count rides the shared
    * resolveCells dial; ids need not be dense or 0-based. */
  def nswSearch(embs: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    GraftSession.install(embs.sparkSession)
    val emb = quantIdVec(embs, idCol, vecCol)
    // kthLowest, not the 50-id prefetch: the auto-K seed set can
    // exceed 50 cells on a large corpus
    val b = graft.ops.BoundedIds.kthLowest(emb, "vec_id",
      "Graft.nswSearch")
    graft.ops.CorpusOps57.nswSearchFrom(emb,
      graft.ops.Similarity.resolveCells(embs.sparkSession,
        emb.count()),
      k => b(k.toLong))
  }

  /** Recall/cost audit of [[nswSearch]] against brute-force truth:
    * one row (n_queries, candidates, recall_at10_permille) — read
    * beside the IVF trilogy's tables when choosing the index
    * family. */
  def nswRecallAudit(embs: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    GraftSession.install(embs.sparkSession)
    val emb = quantIdVec(embs, idCol, vecCol)
    val b = graft.ops.BoundedIds.kthLowest(emb, "vec_id",
      "Graft.nswRecallAudit")
    graft.ops.CorpusOps57.nswRecallFrom(emb,
      graft.ops.Similarity.resolveCells(embs.sparkSession,
        emb.count()),
      k => b(k.toLong))
  }

  /** Beam-width recall/cost frontier of [[nswSearch]] — the graph
    * family's query-time dial (the nprobe-frontier sibling): ef ∈
    * {4, 8, 16} walks over ONE shared graph and truth; per ef
    * (ef, n_queries, candidates, recall_at10_permille). */
  def nswEfFrontier(embs: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    GraftSession.install(embs.sparkSession)
    val emb = quantIdVec(embs, idCol, vecCol)
    val b = graft.ops.BoundedIds.kthLowest(emb, "vec_id",
      "Graft.nswEfFrontier")
    graft.ops.CorpusOps57.nswEfSweepFrom(emb,
      graft.ops.Similarity.resolveCells(embs.sparkSession,
        emb.count()),
      k => b(k.toLong))
  }

  /** Out-degree recall/cost frontier of [[nswSearch]] — the graph
    * family's build dial (the cells-frontier sibling): deg ∈
    * {4, 8, 16} graphs cut from ONE ranked pair stream, each walked
    * at the deployed beam; per deg (deg, n_queries, candidates,
    * recall_at10_permille). */
  def nswDegFrontier(embs: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    GraftSession.install(embs.sparkSession)
    val emb = quantIdVec(embs, idCol, vecCol)
    val b = graft.ops.BoundedIds.kthLowest(emb, "vec_id",
      "Graft.nswDegFrontier")
    graft.ops.CorpusOps57.nswDegSweepFrom(emb,
      graft.ops.Similarity.resolveCells(embs.sparkSession,
        emb.count()),
      k => b(k.toLong))
  }

  /** Incremental-insert audit of the [[nswSearch]] graph — the graph
    * family's maintenance dial: the 10 highest-id vectors arrive as
    * the delta batch; only the cells that received a member get
    * their edges recomputed (the rest carry over), and the returned
    * per-cell edge census is provably identical to a full rebuild
    * (`spark.graft.nsw.fullRebuild=true` flips to the rebuild plan
    * — bit-identical, the cost twin). */
  def nswInsertAudit(embs: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    GraftSession.install(embs.sparkSession)
    val emb = quantIdVec(embs, idCol, vecCol)
    val b = graft.ops.BoundedIds.kthLowest(emb, "vec_id",
      "Graft.nswInsertAudit")
    graft.ops.CorpusOps57.nswDeltaFrom(emb,
      graft.ops.Similarity.resolveCells(embs.sparkSession,
        emb.count()),
      k => b(k.toLong))
  }

  /** Two-snapshot Kolmogorov–Smirnov drift on an integer value's
    * distribution: per group, D‰ = max |cdfA − cdfB| by integer
    * cross-multiplication over the value-granular histogram, with
    * the argmax value. `isA` marks the A snapshot. The data-drift
    * tripwire a standing ingest alarms on. */
  def ksDrift(obs: DataFrame, valueCol: String, groupCol: String,
      isA: Column): DataFrame =
    graft.ops.CorpusOps52.ksDriftFrom(
      obs.select(col(groupCol).as("__grp"),
        col(valueCol).cast("long").as("len"),
        isA.cast("boolean").cast("long").as("a")), "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** Per-rule LEAVE-ONE-OUT attribution for the 7-rule combined
    * quality battery (4 Gopher gates + the 3 structural C4 rules):
    * per (`groupCol`, rule) — n_docs, `fails` (docs failing the
    * rule) and `unique_fails` (docs ONLY this rule removes = the
    * marginal cost of dropping it; 0 means the rule is fully
    * shadowed by the rest of the battery). One scan of map-side
    * flags + a |groups|-row rollup. */
  def ruleAttribution(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame =
    graft.ops.CorpusOps60.ruleAttributionFrom(
      docs.select(col(groupCol).as("__grp"), col(textCol).as("text")),
      "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** EXACT Shapley attribution for the same 7-rule battery as
    * [[ruleAttribution]] (the removal game is a per-document
    * symmetric OR-game, so a doc failing k rules credits each
    * exactly 1/k — in integer 420ths, 420 = lcm(1..7)): per
    * (`groupCol`, rule) — n_docs, docs_removed, `shapley_420ths`
    * and its permille share of all removals. Conservation:
    * Σ_rules shapley_420ths = 420 · docs_removed. Where
    * [[ruleAttribution]]'s unique_fails credits only sole-remover
    * docs, this splits every multi-rule removal evenly. */
  def ruleShapley(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame =
    graft.ops.CorpusOps60.ruleShapleyFrom(
      docs.select(col(groupCol).as("__grp"), col(textCol).as("text")),
      "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** The tokenizer CHOICE datacard: BPE, unigram-LM and WordPiece
    * each trained on `docs` (6 merges / the bounded-DP unigram
    * recipe) and measured as per-(algo, group) fertility —
    * (algo, group, n_words, n_tokens, tokens_per_word_milli). The
    * side-by-side table read before fixing a tokenizer; the unigram
    * row's word census counts words of length ≤ 16 (the trainer's
    * declared DP bound). One corpus scan; everything after is
    * dictionary-sized. */
  def tokenizerDatacard(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame =
    graft.ops.CorpusOps63.datacardFrom(
      docs.select(col(groupCol).cast("string").as("source"),
        col(textCol).as("text")))
      .withColumnRenamed("source", groupCol)

  /** Krippendorff's alpha (nominal, complete data) over the four
    * Gopher gates read as raters: per group — n_units, n_raters,
    * the observed-disagreement pair count, the class totals, and
    * alpha in exact permille (integer cross-multiplication;
    * DECIMAL(38,0)-widened products). The gate-panel agreement
    * audit beside the pairwise kappa-class readouts;
    * an every-judgment-identical group degenerates to 1000. */
  def krippendorffAlpha(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame =
    graft.ops.CorpusOps60.krippendorffFrom(
      docs.select(col(groupCol).as("__grp"), col(textCol).as("text")),
      "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** ROUGE-1/ROUGE-2 overlap with clipped n-gram counts (Lin 2004):
    * per (`groupCol`, n ∈ {1, 2}) — pair count, clipped overlap,
    * candidate/reference gram totals, and exact-permille micro
    * P/R/F1. The reference is the LOWEST `idCol` per group; every
    * other doc in the group is a candidate. Gram streams
    * co-partition on (group, n, gram) — no broadcast of anything
    * that scales with data. */
  def rougeOverlap(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame =
    graft.ops.CorpusOps61.rougeFrom(
      docs.select(col(groupCol).as("__grp"),
        col(idCol).cast("long").as("doc_id"), col(textCol).as("text")),
      "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** UniMax budget frontier: the epoch-capped waterfill swept at
    * budget ∈ {¼, ½, ¾} of the group masses over one shared census
    * — per (budget_permille, group): raw/cap/alloc tokens and the
    * `capped` flag. The table read to pick a token budget BEFORE
    * committing to a mixture; per-group allocations are monotone in
    * the budget. See [[unimaxAllocation]] for one explicit point. */
  def unimaxFrontier(obs: DataFrame, valueCol: String,
      groupCol: String, epochCap: Long = 2L): DataFrame = {
    require(epochCap >= 1 && epochCap <= 1000,
      s"epochCap out of range: $epochCap")
    val st = obs.select(col(groupCol).cast("string").as("__grp"),
        col(valueCol).cast("long").as("ntok"))
      .groupBy(col("__grp")).agg(sum(col("ntok")).as("raw_tokens"))
    val cached = graft.CacheScope.track(st.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val tot = cached.agg(sum(col("raw_tokens")).as("t"))
    def at(f: Int) = graft.ops.CorpusOps50.unimaxFold(cached,
      tot.select(expr(s"t * $f div 4").as("budget")), "__grp", epochCap)
      .withColumn("budget_permille", lit(f * 250L))
    at(1).unionByName(at(2)).unionByName(at(3))
      .select(col("budget_permille") +: col("__grp").as(groupCol) +:
        Seq("raw_tokens", "cap_tokens", "alloc_tokens", "capped")
          .map(col): _*)
      .orderBy(col("budget_permille"), col(groupCol))
  }

  /** PQ distortion frontier: mean and worst per-vector
    * reconstruction error (real-scale micro units, exact
    * DECIMAL-widened integer d² sums) of the 16-codeword raw-mode
    * product-quantization codebook at m ∈ {2, 4, 8} subspaces — the
    * CAUSE table behind the recall sweep's symptom: more subspaces
    * = finer codes = lower distortion, at m× the code bytes. One
    * broadcast-codebook encode pass per m. */
  def pqDistortion(embs: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    GraftSession.install(embs.sparkSession)
    graft.ops.CorpusOps69.pqDistortionFrom(
      embs.select(col(idCol).cast("long").as("vec_id"),
        expr(s"""transform($vecCol, x ->
            CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))""")
          .as("q")))
  }

  /** Token-rank drift: RBO@10 between the top-10 token rankings of
    * two snapshots per group — the vocabulary-HEAD churn tripwire
    * beside [[ksDrift]]'s length shape (two snapshots can agree on
    * every histogram and still reorder the head a tokenizer or
    * stopword filter depends on). `isA` marks the A snapshot;
    * 1000‰ = identical head rankings. */
  def tokenRankDrift(docs: DataFrame, textCol: String,
      groupCol: String, isA: Column): DataFrame =
    graft.ops.CorpusOps68.tokenRankDriftFrom(
      docs.select(col(groupCol).as("__grp"), col(textCol).as("text"),
        isA.cast("boolean").cast("long").as("a")), "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** Margin-calibration table for [[langNbConfusion]]'s classifier
    * (the multi-class sibling of [[nbQualityCalibration]]): the
    * held-out top-1-minus-runner-up margin in exact micro-bits,
    * clamped into 17 one-bit bands, with empirical accuracy per
    * band in permille — read before trusting langid routing above a
    * margin threshold. Single-class degenerate docs land in the top
    * band. */
  def langNbCalibration(docs: DataFrame, idCol: String,
      textCol: String, labelCol: String, train: Column): DataFrame =
    graft.ops.CorpusOps62.langNbMarginFrom(
      docs.select(col(idCol).cast("long").as("doc_id"),
        col(labelCol).cast("string").as("lang"),
        col(textCol).as("text"), train.cast("boolean").as("train")))

  /** The normalization-unlock dedup audit: per group, keep-first
    * removable doc counts under the RAW text key vs under the
    * canonical normalization (lowercase, strip non-alphanumerics,
    * collapse whitespace), and the unlocked delta — the measured
    * case for normalizing before hashing (every production dedup
    * recipe does; this says what it buys on YOUR corpus). Keys are
    * md5 digests, so the keep-first windows shuffle 32-char keys,
    * not documents. */
  def normUnlock(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame =
    graft.ops.CorpusOps67.normDeltaFrom(
      docs.select(col(idCol).cast("long").as("doc_id"),
        col(groupCol).as("__grp"), col(textCol).as("text")), "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** Rank-biased overlap (Webber et al. 2010) between two ranked
    * lists per query — the ORDER-sensitive agreement metric beside
    * set-level recall, top-weighted with p = 9/10 and truncated at
    * `depth` (≤ 10): per qid, the exact integer overlap mass
    * `u_sum`, its maximum `u_max` (identical rankings), and
    * rbo_permille = u_sum·1000 div u_max. `a` and `b` carry
    * (`qidCol`, `itemCol`, `rankCol`) with 1-based ranks. Everything
    * is literal integer arithmetic over the lcm(1..10) denominator —
    * no runtime pow. */
  def rboAgreement(a: DataFrame, b: DataFrame, qidCol: String,
      itemCol: String, rankCol: String, depth: Int = 5): DataFrame = {
    def norm(df: DataFrame) = df.select(col(qidCol).as("qid"),
      col(itemCol).as("item"), col(rankCol).cast("int").as("rank"))
    graft.ops.CorpusOps66.rboFrom(norm(a), norm(b), depth)
      .withColumnRenamed("qid", qidCol)
  }

  /** The LSH S-curve expectation audit: the exact Jaccard pair
    * stream binned into deciles, joined against the ANALYTIC
    * detection probability 1 − (1 − s^r)^b of every shipped banding
    * point (r·b = 32) at the decile lower bound — per (b, r,
    * decile): true-pair count, detect‰ (an exact BigInt rational,
    * embedded as literals in both engines) and the implied expected
    * detections. Theory-vs-corpus, read beside the empirical
    * minhash recall audit. */
  def lshExpectedDetection(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.ops.CorpusOps65.lshExpectedOf(docs.sparkSession,
      graft.ops.Dedup.jaccardPairStreamOf(
        docs.select(col(idCol).cast("long").as("doc_id"),
          col(textCol).as("text"))))

  /** Per-label embedding SCATTER audit (the Calinski–Harabasz 1974
    * ingredients): within-class variance, centroid separation from
    * the global mean, and their Fisher-style ratio — all in
    * real-scale micro units from exact DECIMAL-widened integer sums
    * over the 1e6-quantized vectors. Read before trusting a
    * centroid classifier or hard-negative mining on `labelCol`:
    * fisher_permille ~ 0 means the label's centroid is buried in
    * within-class noise. One posexplode scan to |labels|×dims
    * partial sums. */
  def embScatter(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    GraftSession.install(embs.sparkSession)
    graft.ops.CorpusOps64.embScatterFrom(
      embs.select(col(idCol).cast("long").as("vec_id"),
        col(labelCol).cast("long").as("label"),
        expr(s"""transform($vecCol, x ->
            CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))""")
          .as("q")))
  }

  /** chrF2 ingredients (Popović 2015) — the CHARACTER-level sibling
    * of [[rougeOverlap]], robust to tokenization: per (`groupCol`,
    * n ∈ 1..6) clipped char-n-gram overlap on whitespace-stripped
    * text, same lowest-id-reference pairing, with
    * `chrf2_permille` = 5000·overlap div (4·ref + cand) — the β = 2
    * recall weighting as pure integer arithmetic. Average the six
    * rows for the standard score. */
  def chrfOverlap(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame =
    graft.ops.CorpusOps61.chrfFrom(
      docs.select(col(groupCol).as("__grp"),
        col(idCol).cast("long").as("doc_id"), col(textCol).as("text")),
      "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** Trained multi-class Naive-Bayes language identifier, read out
    * as the held-out (true label × predicted label) confusion
    * matrix: add-one-smoothed token likelihoods in exact integer
    * micro-bits, argmax with label-ascending tie-break. `train`
    * marks the training rows; classes = the train half's labels.
    * The (token, class) table rides the
    * `spark.graft.lm.broadcastTypeLimit` gate. */
  def langNbConfusion(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, train: Column): DataFrame =
    graft.ops.CorpusOps62.langNbConfusionFrom(
      docs.select(col(idCol).cast("long").as("doc_id"),
        col(labelCol).cast("string").as("lang"),
        col(textCol).as("text"), train.cast("boolean").as("train")))
      .withColumnRenamed("lang", labelCol)

  /** Quality-profile drift: per group, the exact total-variation
    * distance between the `inA`/not-`inA` halves' histograms over
    * any discrete `binCol` profile (the declared query watches the
    * 7-rule battery's per-doc pass total on md5-parity halves). A
    * moved profile means the gate's pass rate is about to move for
    * data reasons. One scan to a dictionary-sized histogram. */
  def ruleProfileDrift(obs: DataFrame, groupCol: String,
      binCol: String, inA: Column): DataFrame =
    graft.ops.CorpusOps81.ruleProfileDriftFrom(
      obs.select(col(groupCol).as("__grp"),
        col(binCol).cast("long").as("bin"),
        inA.cast("long").as("a")), "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** Per-class precision/recall/F1 over ANY confusion matrix frame
    * (`trueCol`, `predCol`, `nCol`): classes = the union of both
    * sides (a never-predicted class keeps its recall-0 row); exact
    * permille, F1 = 2tp·1000 div (2tp+fp+fn). Macro averages are the
    * plain mean of the rows. */
  def confusionPrf(conf: DataFrame, trueCol: String, predCol: String,
      nCol: String): DataFrame =
    graft.ops.CorpusOps80.prfFrom(
      conf.select(col(trueCol).cast("string").as("lang"),
        col(predCol).cast("string").as("pred_lang"),
        col(nCol).cast("long").as("n_docs")))

  /** Hill tail-index ingredients for a per-group length
    * distribution: the 20 largest `lenCol` values per `groupCol`
    * collapse to `hill_log2_micro` (exact micro-bits; tail index
    * α = log2(e)/hill). Small α = heavy tail = the partition-skew
    * warning before the straggler. */
  def lengthTail(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame =
    graft.ops.CorpusOps80.lengthTailFrom(
      docs.select(col(groupCol).as("__grp"),
        col(idCol).cast("long").as("doc_id"), col(textCol).as("text")),
      "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** Unseen-vocabulary estimators per `groupCol`: bias-corrected
    * Chao1 richness (defined even with no doubletons) and the
    * Good–Turing missing mass (probability the next token is an
    * unseen type), from one token scan — the corpus-planning readout
    * beside the Heaps growth curve. Exact integers; hapax products
    * DECIMAL-widened. */
  def chao1(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame =
    graft.ops.CorpusOps79.chao1From(
      docs.select(col(groupCol).as("__grp"), col(textCol).as("text")),
      "__grp")
      .withColumnRenamed("__grp", groupCol)

  /** The [[minhashEstError]] audit's BUILD dial: the estimate-vs-
    * exact gap re-measured at permutation budgets p ∈ {8, 16, 32}
    * (prefixes of the one 32-perm signature frame), over the same
    * exact pair stream. Read when sizing signatures: the three rows
    * show what halving the sketch costs on THIS corpus. */
  def minhashPermCurve(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    GraftSession.install(docs.sparkSession)
    val d = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"))
    val sigs = graft.ops.Dedup.shingledDocs(d)
      .withColumn("th", xxhash64(col("g")))
      .groupBy(col("doc_id"))
      .agg(expr("minhash32(th)").as("sig"))
    graft.ops.CorpusOps79.permCurveOf(
      graft.ops.Dedup.jaccardPairStreamOf(d), sigs)
  }

  /** MinHash estimation-error calibration: per exact-Jaccard decile,
    * the mean/max absolute gap and signed bias between the 32-perm
    * signature estimate and the exact Jaccard it stands in for, in
    * exact micro units (per-pair integers before any sum). Read
    * before trusting any est_jacc threshold. `docs` = (id, text);
    * pair universe = the df-capped exact shingle pair stream. */
  def minhashEstError(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    GraftSession.install(docs.sparkSession)
    val d = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"))
    val sigs = graft.ops.Dedup.shingledDocs(d)
      .withColumn("th", xxhash64(col("g")))
      .groupBy(col("doc_id"))
      .agg(expr("minhash32(th)").as("sig"))
    graft.ops.CorpusOps77.estErrorOf(
      graft.ops.Dedup.jaccardPairStreamOf(d), sigs)
  }

  /** Cost-sensitive threshold pick over [[nbQualityCalibration]]'s
    * bands: for each cost ratio λ ∈ {1, 2, 5} and each band cut
    * t ∈ 0..16, utility = tp − λ·fp in exact document units over the
    * held-out population, `is_best` marking each λ's argmax (ties →
    * lowest cut). The decision layer a calibrated filter feeds. */
  def nbThresholdPick(docs: DataFrame, idCol: String,
      textCol: String, label: Column, train: Column): DataFrame =
    graft.ops.CorpusOps78.nbThresholdFrom(
      nbQualityCalibration(docs, idCol, textCol, label, train))

  /** Kendall's W coefficient of concordance (1939) — do the m
    * integer ranking keys in `keyCols` order the items of `items`
    * the same way? Each key ranks descending with `idCol`-ascending
    * tie-breaks (strict permutations, so no tie correction); emits
    * per-item ranks + rank sum with `w_milli` (exact fixed-point,
    * DECIMAL-widened) and `rho_avg_milli` (the average pairwise
    * Spearman W encodes) on every row. Dictionary-sized compute
    * after whatever scan built the keys. */
  def kendallW(items: DataFrame, idCol: String,
      keyCols: Seq[String]): DataFrame =
    graft.ops.CorpusOps76.kendallWFrom(
      items.select(col(idCol).cast("string").as("__grp") +:
        keyCols.map(c => col(c).cast("long").as(c)): _*),
      "__grp", keyCols)
      .withColumnRenamed("__grp", idCol)

  /** Embedding-space cell-histogram drift: both snapshots (split by
    * the `inA` predicate) quantized onto the same 16-cell coarse
    * quantizer (argmax cosine to the 16 lowest-id vectors), per-cell
    * occupancy compared by exact total-variation distance
    * (integer cross-multiplication, DECIMAL-widened). `dev_micro`
    * localizes the moved mass to a cell; `tv_permille` is the
    * scalar tripwire. One broadcast-centroid scan; 16-row output. */
  def embCellDrift(embs: DataFrame, idCol: String, vecCol: String,
      inA: Column): DataFrame = {
    GraftSession.install(embs.sparkSession)
    val q = embs.select(col(idCol).cast("long").as("vec_id"),
      expr(s"""transform($vecCol, x ->
          CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))""")
        .as("q"), inA.cast("boolean").as("__a"))
    graft.ops.CorpusOps75.cellDriftFrom(q, col("__a"),
      graft.ops.BoundedIds.cutoffs(q, "vec_id", 16, "embCellDrift"))
  }

  /** Paired blocker disagreement — the McNemar reading of
    * [[blockingAudit]]: over the exact-Jaccard truth pairs, per
    * unordered pair of candidate blockers (shingle index / SimHash
    * bands / winnowing) the both / a_only / b_only / neither cells
    * and `mcnemar_milli` = (a−b)²·1000 div (a+b). Discordant cells
    * ≈ 0 mean the blockers are interchangeable; large and balanced
    * means union them. Honors `spark.graft.audit.sampleShards`
    * (pair-keyed, population-consistent). */
  def blockerMcnemar(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.ops.CorpusOps74.blockerMcnemarFrom(
      docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("text")))

  /** Cochran's Q (Cochran 1950) — the m-treatment generalization of
    * the McNemar pairing: per `groupCol`, do the m binary judges in
    * `judgmentCols` (0/1 columns, one row per subject) mark the same
    * subjects? Emits the exact linear ingredients plus `q_milli` =
    * the χ²(m−1)-distributed statistic in fixed-point milli-units
    * (quadratic products DECIMAL(38,0)-widened; the degenerate
    * no-information panel reads 0). With m = 2 this IS McNemar's
    * (b−c)²/(b+c). One scan, |groups|-row output. */
  def cochranQ(subjects: DataFrame, groupCol: String,
      judgmentCols: Seq[String]): DataFrame =
    graft.ops.CorpusOps73.cochranFrom(
      subjects.select(col(groupCol).cast("string").as("__grp") +:
        judgmentCols.map(c => col(c).cast("long").as(c)): _*),
      "__grp", judgmentCols)
      .withColumnRenamed("__grp", groupCol)

  /** BLEU ingredients (Papineni 2002) — the precision-side member of
    * the overlap-eval trio beside [[rougeOverlap]] and
    * [[chrfOverlap]]: per (`groupCol`, n ∈ 1..4) the clipped
    * word-gram overlap and `bleu_p_permille` = overlap·1000 div
    * cand_ngrams (the exact modified precision p_n), with the
    * brevity-penalty ingredients (`cand_len`, `ref_len`,
    * `len_ratio_permille`) on every row. Reference = lowest id per
    * group, every other doc a candidate, the rouge pairing; BP and
    * the geometric mean are transcendental and left to the reader so
    * the table stays exact. */
  def bleuOverlap(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame =
    graft.ops.CorpusOps72.bleuFrom(
      docs.select(col(groupCol).as("__grp"),
        col(idCol).cast("long").as("doc_id"), col(textCol).as("text")),
      "__grp")
      .withColumnRenamed("__grp", groupCol)
}
