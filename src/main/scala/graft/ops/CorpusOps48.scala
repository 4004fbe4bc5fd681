package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus operators, r15 wave 37 (SURVEY.md §2.M): the retrained-vs-
  * seed IVF quantizer balance audit (the consumer of the wave-36
  * Lloyd loop), Neyman optimal stratified allocation (Neyman JRSS
  * 1934), the data-constrained repetition-value plan (the
  * Muennighoff et al. 2023 epochs question in a declared
  * geometric-half-decay form), and the sampling-temperature sweep
  * over the IEEE-exact τ ladder {1, ½, ¼}.
  *
  * Determinism contract: exact int64 arithmetic; IEEE doubles only
  * as single correctly-rounded ops (sqrt — never pow, whose libm
  * results differ across engines) scaled to integers BEFORE any
  * cross-row sum; largest-remainder apportionment with deterministic
  * tie-breaks.
  */
object CorpusOps48 {

  /** Retrained-vs-seed coarse-quantizer balance audit — the consumer
    * of [[CorpusOps47.qSimKmeansTrain]]'s census: cell-size spread of
    * the lowest-id seed quantizer (round 0) against the 3-round-
    * trained one (round 3). `imbalance_permille` = max_cell · n_cells
    * · 1000 div total (1000 = perfectly balanced) — the number that
    * predicts hot-cell rebalance frequency and same-cell pair-stream
    * cost for the whole IVF family (every cell-blocked operator is
    * O(Σ cell²), so the trained quantizer's lower spread is a direct
    * pair-stream saving).
    *
    * Scale: inherits the training loop's shape (K-row broadcast
    * literals, K-bounded collects); the audit itself aggregates the
    * ≤2K-row census. */
  // k pinned to 16 like q_sim_kmeans_train — the oracle replays the
  // 16-cell quantizer literally (ADVICE r15); the conf knob serves the
  // bench/facade paths only.
  val qSimIvfRetrainAudit: Q = (s, dir) =>
    CorpusOps47.kmeansTrainFrom(
      EmbQuant.quantized(s, dir).select(col("vec_id"), col("q")),
      k = 16, rounds = 3)
      .filter(col("round").isin(0L, 3L))
      .select(when(col("round") === 0L, "seed").otherwise("trained")
        .as("quantizer"), col("n"))
      .groupBy(col("quantizer"))
      .agg(count(lit(1)).as("n_cells"), max(col("n")).as("max_cell"),
        min(col("n")).as("min_cell"), sum(col("n")).as("total"))
      .withColumn("imbalance_permille",
        expr("max_cell * n_cells * 1000 div total"))
      .orderBy(col("quantizer"))

  /** Neyman optimal stratified allocation (Neyman, "On the two
    * different aspects of the representative method", JRSS 1934): a
    * 100-doc sampling budget split across sources proportional to
    * N_h · S_h (stratum size × token-count standard deviation) — the
    * allocation that minimizes estimator variance for a fixed budget,
    * the stratified-sampling upgrade every corpus-stats job should
    * run instead of proportional allocation. Integer allocations via
    * floor + largest-remainder apportionment (remainder desc, source
    * asc — deterministic).
    *
    * Determinism: S_h is one correctly-rounded IEEE sqrt of the exact
    * integer variance numerator (N·Σx² − (Σx)², nonneg) divided by N,
    * scaled to milli BEFORE any cross-source arithmetic; everything
    * after is exact int64. Zero-variance strata get weight 0
    * (declared; an all-constant corpus has no Neyman allocation).
    *
    * Scale: one corpus scan partial-aggregates to |sources| rows;
    * the apportionment windows run on that dictionary-sized frame. */
  val qSampleNeyman: Q = (s, dir) =>
    neymanFrom(Tables(s, dir, "documents")
      .select(col("source").as("grp"),
        size(split(col("text"), " ")).cast("long").as("ntok")),
      "grp", 100L)
      .withColumnRenamed("grp", "source")

  /** The allocation behind [[qSampleNeyman]] and
    * `Graft.neymanAllocation`: `obs` = (grp, ntok). */
  private[graft] def neymanFrom(obs: DataFrame, grp: String,
      budget: Long): DataFrame = {
    // the variance numerator N·Σx² − (Σx)² is widened to DECIMAL(38,0)
    // BEFORE the double cast (ADVICE r15: with sxx = Σ ntok², the int64
    // product n_docs · sxx overflows near ~1e6 docs of ~1e3 tokens —
    // well inside the operator's claimed scale); the sqrt then sees the
    // same correctly-rounded double in both engines (DuckDB mirrors
    // with HUGEINT)
    val stats = obs
      .groupBy(col(grp))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("sx"),
        sum(col("ntok") * col("ntok")).as("sxx"))
      .withColumn("sd_milli", expr(
        """cast(round(sqrt(cast(cast(n_docs as decimal(38, 0)) * sxx
                           - cast(sx as decimal(38, 0)) * sx as double))
           / cast(n_docs as double) * 1000) as bigint)"""))
      .withColumn("w", col("n_docs") * col("sd_milli"))
    val tot = stats.agg(sum(col("w")).as("tw"))
    // an all-zero-variance input has NO Neyman allocation — fail
    // loudly (the katz/passAtK raise_error discipline) instead of
    // returning a silent null column; the fixture never trips this,
    // and DuckDB's own //0 error is the oracle-side twin
    val alloc = stats.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"""CASE WHEN tw > 0
        THEN ($budget * w) div tw
        ELSE raise_error('neyman: every stratum has zero variance — no allocation exists')
        END"""))
      .withColumn("rem", expr(s"($budget * w) % tw"))
    val short = alloc
      .agg((lit(budget) - sum(col("base"))).as("leftover"))
    // the apportionment windows run on the |groups|-row frame only
    alloc.crossJoin(broadcast(short))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col(grp))))
      .withColumn("alloc",
        col("base") + when(col("rk") <= col("leftover"), 1L)
          .otherwise(0L))
      .select(col(grp), col("n_docs"), col("sd_milli"), col("w"),
        col("alloc"))
      .orderBy(col(grp))
  }

  /** Data-constrained repetition-value plan (the Muennighoff et al.
    * 2023 "Scaling Data-Constrained Language Models" question — how
    * much is the R-th epoch over the same tokens worth?) in a
    * DECLARED geometric-half-decay form: the R-th pass contributes
    * (1/2)^(R−1) of a fresh-token pass, so R epochs of U tokens are
    * worth U · (2 − 2^(1−R)) effective tokens — exact in milli as
    * factor = 2000 − (2000 div (1 << R)), all integer. Emits per
    * (source, R ∈ 1..4) the effective mass and the MARGINAL value of
    * the R-th epoch — the diminishing-returns table an epoch planner
    * reads against a compute budget. The paper fits the decay rate
    * r*; the half-decay constant here is the declared fixture
    * stand-in (the table's SHAPE is the operator).
    *
    * Scale: one corpus scan to |sources| rows, then a 4× literal
    * fan-out of that dictionary-sized frame. */
  val qMixEpochPlan: Q = (s, dir) =>
    epochPlanFrom(Tables(s, dir, "documents")
      .select(col("source").as("grp"),
        size(split(col("text"), " ")).cast("long").as("ntok")), "grp")
      .withColumnRenamed("grp", "source")

  /** The plan behind [[qMixEpochPlan]] and `Graft.epochPlan`:
    * `obs` = (grp, ntok). */
  private[graft] def epochPlanFrom(obs: DataFrame, grp: String)
      : DataFrame =
    obs
      .groupBy(col(grp))
      .agg(sum(col("ntok")).as("raw_tokens"))
      .select(col(grp), col("raw_tokens"),
        explode(expr("sequence(1, 4)")).as("repeats"))
      .withColumn("marginal_milli",
        expr("raw_tokens * (2000 div shiftleft(1, repeats))"))
      .withColumn("eff_tokens_milli",
        expr("raw_tokens * (2000 - 2000 div shiftleft(1, repeats))"))
      .select(col(grp), col("repeats").cast("long").as("repeats"),
        col("raw_tokens"), col("eff_tokens_milli"), col("marginal_milli"))
      .orderBy(col(grp), col("repeats"))

  /** Sampling-temperature sweep over the IEEE-EXACT τ ladder
    * {1, ½, ¼} (the q_mix_temperature operator promoted to a planning
    * table): per-source share s ∝ n_docs^τ and a 2000-doc allocation
    * at each temperature — the flatness-vs-fidelity frontier a
    * multilingual/multi-domain mixture designer reads before picking
    * τ (Gopher/PaLM-style mixtures). τ is restricted to powers of ½
    * where n^τ is a chain of correctly-rounded IEEE sqrts — `pow`
    * is NOT correctly rounded and differs across libm
    * implementations, so an arbitrary-τ sweep could not be
    * value-oracled.
    *
    * Scale: one corpus scan to |sources| rows; the sweep is a 3×
    * literal fan-out of that frame. */
  val qMixTemperatureSweep: Q = (s, dir) =>
    temperatureSweepFrom(Tables(s, dir, "documents")
      .select(col("source").as("grp")), "grp", 2000L)
      .withColumnRenamed("grp", "source")

  /** The sweep behind [[qMixTemperatureSweep]] and
    * `Graft.temperatureSweep`: `docs` carries one row per document
    * with its `grp` column. */
  private[graft] def temperatureSweepFrom(docs: DataFrame, grp: String,
      budget: Long): DataFrame = {
    val stats = docs
      .groupBy(col(grp)).agg(count(lit(1)).as("n_docs"))
      .select(col(grp), col("n_docs"),
        explode(expr("array(1000, 500, 250)")).as("tau_milli"))
      .withColumn("s_micro", expr(
        """cast(round(CASE tau_milli
             WHEN 1000 THEN cast(n_docs as double)
             WHEN 500 THEN sqrt(cast(n_docs as double))
             ELSE sqrt(sqrt(cast(n_docs as double))) END * 1e6)
           as bigint)"""))
    val tot = stats.groupBy(col("tau_milli"))
      .agg(sum(col("s_micro")).as("tot_micro"))
    stats.join(broadcast(tot), Seq("tau_milli"))
      .withColumn("alloc_docs",
        expr(s"($budget * s_micro) div tot_micro"))
      .select(col("tau_milli").cast("long").as("tau_milli"),
        col(grp), col("n_docs"), col("s_micro"), col("alloc_docs"))
      .orderBy(col("tau_milli"), col(grp))
  }

  /** Jaccard-threshold dedup sweep — "how aggressive is the dedup at
    * each θ": candidate pairs from the df-capped shingle inverted
    * index (the q_dedup_jaccard stream), thresholded at θ ∈ {0.2,
    * 0.5, 0.8} by EXACT cross-multiplication (i · 1000 ≥ θ‰ · union —
    * never the rounded double the presentation query emits), emitting
    * pairs and distinct docs affected per θ — the
    * blast-radius-vs-strictness table an owner reads before fixing
    * the production threshold.
    *
    * Scale: ONE pass of the inverted-index pair stream (persisted by
    * its builder) serves all three thresholds; the sweep explodes the
    * BOUNDED pair stream 3×, never the corpus. Monotone non-increasing
    * in θ by construction (spec-pinned). */
  val qDedupThresholdSweep: Q = (s, dir) =>
    dedupThresholdSweepOf(Dedup.jaccardPairStream(s, dir))

  /** The sweep behind [[qDedupThresholdSweep]] (and testable off the
    * fixture): `ps0` = (da, db, i, na, nb) candidate pairs. */
  private[graft] def dedupThresholdSweepOf(ps0: DataFrame): DataFrame = {
    val s = ps0.sparkSession
    // optional k-of-64 pair-key shard sample (tune-time estimate;
    // counts are of the sampled shard — VERDICT r15 item 4)
    val ps = AuditSample.gate(ps0, col("da"), col("db"))
      .select(col("da"), col("db"), col("i"), col("na"), col("nb"),
        explode(expr("array(200, 500, 800)")).as("theta_permille"))
      .filter(col("i") * 1000 >=
        col("theta_permille") * (col("na") + col("nb") - col("i")))
    // ONE pass over the thresholded pair stream (optimization r17): the
    // r15 shape aggregated the UNPERSISTED stream twice (a pair count
    // and a separate exploded distinct-doc count), so the inverted-index
    // self-join behind it ran twice per invocation. Exploding both
    // endpoints first keeps both facts recoverable from a single
    // aggregation: every pair contributes exactly 2 endpoint rows
    // (da < db strictly, so never fewer), hence
    // n_pairs = count(rows) div 2, and n_docs = count(DISTINCT d).
    val agg = ps.select(col("theta_permille"),
        explode(array(col("da"), col("db"))).as("d"))
      .groupBy(col("theta_permille"))
      .agg(expr("count(1) div 2").as("n_pairs"),
        countDistinct(col("d")).as("n_docs"))
    // LEFT-join from the literal theta frame (ADVICE r15): a theta
    // with zero surviving pairs must still emit its (theta, 0, 0) row —
    // an inner join would silently drop it on a sparse corpus and
    // break the fixed 3-row sweep contract Wave37Spec pins
    val th = s.range(3)
      .select(element_at(typedLit(Seq(200L, 500L, 800L)),
        (col("id") + 1).cast("int")).as("theta_permille"))
    th.join(agg, Seq("theta_permille"), "left")
      .select(col("theta_permille").cast("long").as("theta_permille"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy(col("theta_permille"))
  }

  /** Degree distribution of the part co-purchase graph — the graph
    * datacard's first figure: undirected degrees histogrammed in
    * power-of-two buckets (bucket = floor(log2 deg), computed EXACTLY
    * as binary-string length − 1 in both engines — no floating log
    * near a power boundary). The heavy-tail shape decides every
    * downstream join strategy: a fat top bucket is the skew that
    * makes broadcast rank-joins and wedge fan-outs blow up (the
    * measured densification that motivated the graph family's
    * broadcastEdgeLimit gate).
    *
    * Scale: edges arrive support-pruned and aggregated; the degree
    * agg is co-partitioned on the node; the histogram is ≤64 rows. */
  val qGraphDegreeDist: Q = (s, dir) => {
    val e = GraphOps.copurchaseEdges(s, dir)
    // explode both endpoints of ONE edge stream (optimization r17):
    // the r15 unionAll of two projections duplicated the whole
    // support-pruned lineitem self-join subtree — the only
    // corpus-sized work here — across the union branches (the final
    // aggregation sits ABOVE the reusable exchange, so it ran twice).
    // explode(array(u, v)) yields the same endpoint multiset in one
    // pass; degrees are identical.
    e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .withColumn("deg_bucket",
        (length(expr("conv(cast(deg as string), 10, 2)")) - 1)
          .cast("long"))
      .groupBy(col("deg_bucket"))
      .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"), sum(col("deg")).as("deg_mass"))
      .orderBy(col("deg_bucket"))
  }

  /** Blocking-strategy audit — "pick your candidate generator": the
    * three fully-oracled near-dup blockers this library ships (the
    * df-capped word-3-gram shingle inverted index of q_dedup_jaccard,
    * the 4×15-bit pigeonhole SimHash block join of
    * q_dedup_simhash_pairs, and the window-min winnowing fingerprints
    * of q_dedup_winnow) measured against ONE truth: exact Jaccard
    * ≥ 0.2 decided by integer cross-multiplication over the shingle
    * pair stream. Per blocker: candidates generated, true pairs
    * caught, precision and recall in exact permille — the
    * cost-vs-coverage table that picks the production blocker before
    * anyone runs a corpus-size join.
    *
    * Scale: each blocker is its own shipped pipeline (inverted-index
    * joins, never all-pairs); the audit joins candidate streams
    * against the persisted truth on (da, db) — pair-stream-sized,
    * co-partitioned. Truth here is blocker-relative by construction
    * (a jacc ≥ 0.2 pair always shares a kept shingle unless the df
    * cap removed every shared shingle — the q_dedup_jaccard
    * declaration). */
  val qDedupBlockingAudit: Q = (s, dir) =>
    blockingAuditFrom(Tables(s, dir, "documents")
      .select(col("doc_id"), col("text")))

  /** The audit behind [[qDedupBlockingAudit]] and
    * `Graft.blockingAudit`: `docs` = (doc_id, text). */
  private[graft] def blockingAuditFrom(docs0: DataFrame): DataFrame = {
    val docs = graft.CacheScope.track(docs0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // ONE pair-stream build serves both the truth and the shingle
    // candidate row — a second jaccardPairStream call would re-run
    // (and re-persist) the whole gram pipeline. The optional
    // `spark.graft.audit.sampleShards` gate shards on the PAIR key
    // (da, db) so truth and every blocker see the same sampled pair
    // population — ratios need no rescaling (VERDICT r15 item 4).
    val ps = graft.CacheScope.track(AuditSample.gate(
        Dedup.jaccardPairStreamOf(docs), col("da"), col("db"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val truth = graft.CacheScope.track(
      ps.filter(col("i") * 1000 >=
          lit(200) * (col("na") + col("nb") - col("i")))
        .select(col("da"), col("db"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val tt = truth.agg(count(lit(1)).as("truth_total"))
    def audit(name: String, cand: DataFrame): DataFrame = {
      // same pair-key shard gate as the truth (idempotent on the
      // already-gated shingle stream)
      val c = AuditSample.gate(cand.select(col("da"), col("db")),
        col("da"), col("db"))
      // ONE pass per blocker (optimization r17): the r15 shape ran the
      // UNPERSISTED candidate pipeline twice — once for the raw count,
      // once for the truth semi-join — so the simhash and winnow
      // pipelines each computed their fingerprints twice per audit.
      // A LEFT join against the persisted truth keeps both counts in a
      // single aggregation: truth pairs are unique on (da, db), so the
      // join never duplicates a candidate row, n_candidates = count(1)
      // and n_true = count of matched rows — value-identical.
      c.join(truth.withColumn("tf", lit(1L)), Seq("da", "db"), "left")
        .agg(count(lit(1)).as("n_candidates"),
          count(col("tf")).as("n_true"))
        .crossJoin(tt)
        .select(lit(name).as("blocker"), col("n_candidates"),
          col("n_true"), col("truth_total"),
          expr("n_true * 1000 div n_candidates")
            .as("precision_permille"),
          expr("n_true * 1000 div truth_total").as("recall_permille"))
    }
    audit("shingle_index", ps)
      .unionAll(audit("simhash_block", Dedup.simhashPairsOf(docs)))
      .unionAll(audit("winnow_fp", Dedup.winnowPairs(docs)))
      .orderBy(col("blocker"))
  }

  /** Incremental connected-components maintenance (r15 w41) — the
    * nightly-ingest answer to "what did this batch do to the dedup
    * state": docs with doc_id % 10 == 0 are the arriving DELTA (the
    * q_dedup_incremental split), the rest are the standing BASE.
    * Base components are computed once; the delta then merges through
    * a CONTRACTED graph whose super-nodes are base-cluster labels —
    * the batch never re-runs CC over the base edge set. Per final
    * component touched by the delta: members, new docs, and how many
    * standing base clusters the batch BRIDGED (the blast-radius
    * column an operator reviews before accepting the merge).
    *
    * Correctness is the interesting part: min-label CC on the
    * contracted graph provably equals full-graph CC (a base label IS
    * its cluster's min id, and min over a merged component is the min
    * of its parts), and the DuckDB oracle computes components the
    * FULL-graph way — so the value gate itself proves
    * incremental ≡ recompute, not just self-consistency.
    *
    * Scale: the contracted graph is |delta edges|-sized — the whole
    * point of incremental maintenance; base CC runs on the base-only
    * pair stream (one persisted stream feeds both slices); both
    * closures are [[Dedup.componentsOf]]. */
  val qDedupCcDelta: Q = (s, dir) =>
    ccDeltaFrom(Dedup.jaccardPairs(s, dir).select(col("da"), col("db")),
      _ % 10 === 0)

  /** The contraction merge behind [[qDedupCcDelta]] and
    * `Graft.componentsDelta`: `pairs0` = (da, db) undirected edges;
    * `newP` maps a node-id column to the is-delta predicate. */
  private[graft] def ccDeltaFrom(pairs0: DataFrame,
      newP: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    val pairs = graft.CacheScope.track(pairs0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // componentsOf returns materialized labels (local rows or the
    // loop's last checkpoint), so its three readers need no persist
    val baseCC = Dedup.componentsOf(
        pairs.filter(!newP(col("da")) && !newP(col("db"))))
      .withColumnRenamed("l", "lb")
    val deltaPairs = pairs
      .filter(newP(col("da")) || newP(col("db")))
    // contract: base endpoints ride their base-cluster label (their
    // own id when base-edge-less), delta endpoints ride themselves
    def contract(side: String) = {
      val bc = baseCC.select(col("v").as(side), col("lb").as(s"lb_$side"))
      (df: DataFrame) => df.join(bc, Seq(side), "left")
        .withColumn(s"c_$side",
          when(newP(col(side)), col(side))
            .otherwise(coalesce(col(s"lb_$side"), col(side))))
    }
    val de = contract("db")(contract("da")(deltaPairs))
      .select(col("c_da").as("da"), col("c_db").as("db"))
      .filter(col("da") =!= col("db"))
    val superCC = Dedup.componentsOf(de)
      .withColumnRenamed("v", "sn").withColumnRenamed("l", "ls")
    // every edge-bearing doc's final label: its (contracted) node's
    // super-label, or the node itself when the delta never touched it
    val nodes = pairs.select(col("da").as("v"))
      .unionAll(pairs.select(col("db").as("v"))).distinct()
    val members = nodes
      .join(baseCC, Seq("v"), "left")
      .withColumn("sn",
        when(newP(col("v")), col("v"))
          .otherwise(coalesce(col("lb"), col("v"))))
      .join(superCC, Seq("sn"), "left")
      .withColumn("component", coalesce(col("ls"), col("sn")))
      .withColumn("lbase", when(newP(col("v")), lit(null))
        .otherwise(coalesce(col("lb"), col("v"))))
    members.groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(newP(col("v")), 1L).otherwise(0L)).as("n_new"),
        countDistinct(col("lbase")).as("n_base_clusters"))
      .filter(col("n_new") >= 1)
      .orderBy(col("component"))
  }

  /** The nprobe recall/cost frontier (r15 w42) — the OTHER production
    * dial of the IVF family, symmetric to `q_sim_ivf_cells_sweep`:
    * cell count K is the build-time knob (how the index partitions),
    * nprobe is the query-time knob (how many cells each query scans).
    * At the fixed K = 16 quantizer, nprobe ∈ {1, 2, 4, 8} — per
    * point: candidates scanned vs recall@10 against the brute-force
    * truth. Candidate sets are NESTED in nprobe by construction (one
    * shared probe ranking, filtered at each depth), so candidates and
    * recall are both monotone non-decreasing (spec-pinned) — the
    * query-time latency dial a deployment turns without rebuilding
    * anything.
    *
    * Scale: ONE centroid scoring pass each for assignments and query
    * probes (K-row broadcast; the ranked probe list is 50 × K rows,
    * persisted); each sweep point is a filter + posting-list
    * equi-join on cid — co-partitioned, never all-pairs; the truth is
    * the bounded 50-query one-pass scan shared with the retrieval
    * evals. */
  val qSimIvfNprobeSweep: Q = (s, dir) =>
    nprobeFrontierFrom(
      EmbQuant.quantized(s, dir).select(col("vec_id"), col("q")))

  /** The frontier behind [[qSimIvfNprobeSweep]] and
    * `Graft.ivfNprobeFrontier`: `emb0` = (vec_id, q), q
    * micro-quantized int64; `bound` maps a set size to its id
    * predicate (declared = the literal `vec_id < k` the oracle
    * replays; facades = [[BoundedIds.cutoffs]] for non-dense ids). */
  private[graft] def nprobeFrontierFrom(emb0: DataFrame,
      bound: Int => org.apache.spark.sql.Column =
        BoundedIds.literal("vec_id")): DataFrame = {
    val emb = graft.CacheScope.track(emb0
      .withColumn("n2", EmbQuant.dotq(col("q"), col("q")))
      .select(col("vec_id"), col("q"), col("n2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val true10 = graft.CacheScope.track(CorpusOps46.topkFrom(emb, bound)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cents = emb.filter(bound(16))
      .select(col("vec_id").as("cid"), col("q").as("cq"),
        col("n2").as("cn2"))
    def scored(vecs: DataFrame) = vecs
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        (EmbQuant.dotq(col("q"), col("cq")).cast("double") /
          (sqrt(col("n2").cast("double")) *
            sqrt(col("cn2").cast("double")))).as("ccos"))
    val wv = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cid"))
    val asg = graft.CacheScope.track(scored(emb)
      .withColumn("rk", row_number().over(wv)).filter(col("rk") === 1)
      .select(col("vec_id"), col("cid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val probeRank = graft.CacheScope.track(
      scored(emb.filter(bound(50)))
        .withColumn("rk", row_number().over(wv))
        .select(col("vec_id").as("qid"), col("cid"), col("rk"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // ONE pass per sweep point (optimization r17): the r15 shape
    // consumed the UNPERSISTED candidate join twice per nprobe (a
    // stats aggregation and a separate truth join), doubling the
    // posting-list join work. true10 is unique on (qid, cid), so a
    // LEFT join cannot duplicate a candidate row and
    // hits = count of matched rows — value-identical.
    Seq(1, 2, 4, 8).map { np =>
      probeRank.filter(col("rk") <= np)
        .join(asg, Seq("cid"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cid2"))
        .join(true10.select(col("qid"), col("cid").as("cid2"),
          lit(1L).as("tf")), Seq("qid", "cid2"), "left")
        .agg(countDistinct(col("qid")).as("n_queries"),
          count(lit(1)).as("candidates"),
          count(col("tf")).as("hits"))
        .select(lit(np.toLong).as("nprobe"), col("n_queries"),
          col("candidates"),
          when(col("n_queries") === 0, lit(0L))
            .otherwise(expr("hits * 1000 div (10 * n_queries)"))
            .as("recall_at10_permille"))
    }.reduce(_ unionAll _).orderBy(col("nprobe"))
  }

  val queries: Map[String, Q] = Map(
    "q_sim_ivf_retrain_audit" -> qSimIvfRetrainAudit,
    "q_sample_neyman" -> qSampleNeyman,
    "q_mix_epoch_plan" -> qMixEpochPlan,
    "q_mix_temperature_sweep" -> qMixTemperatureSweep,
    "q_dedup_threshold_sweep" -> qDedupThresholdSweep,
    "q_graph_degree_dist" -> qGraphDegreeDist,
    "q_dedup_blocking_audit" -> qDedupBlockingAudit,
    "q_dedup_cc_delta" -> qDedupCcDelta,
    "q_sim_ivf_nprobe_sweep" -> qSimIvfNprobeSweep)

  val oracle: Map[String, String] = Map(
    "q_sim_ivf_retrain_audit" -> s"""
      WITH e AS MATERIALIZED (${Similarity.quantSql}),
      n AS MATERIALIZED (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS n2
                         FROM e GROUP BY vec_id),
      ${(0 to 3).map(CorpusOps47.kmRoundSql).mkString(",\n")},
      census AS (
        SELECT 'seed' AS quantizer, cid, count(*) AS n
        FROM a0 GROUP BY cid
        UNION ALL
        SELECT 'trained', cid, count(*) FROM a3 GROUP BY cid)
      SELECT quantizer, count(*) AS n_cells,
        CAST(max(n) AS BIGINT) AS max_cell,
        CAST(min(n) AS BIGINT) AS min_cell,
        CAST(sum(n) AS BIGINT) AS total,
        CAST(max(n) * count(*) * 1000 // sum(n) AS BIGINT)
          AS imbalance_permille
      FROM census GROUP BY quantizer ORDER BY quantizer""",
    "q_sample_neyman" -> """
      WITH st AS (SELECT source, count(*) AS n_docs,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sx,
          CAST(sum(len(string_split(text, ' ')) *
                   len(string_split(text, ' '))) AS BIGINT) AS sxx
        FROM documents GROUP BY source),
      sd AS (SELECT source, n_docs,
               CAST(round(sqrt(CAST(CAST(n_docs AS HUGEINT) * sxx
                                    - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                 / CAST(n_docs AS DOUBLE) * 1000) AS BIGINT) AS sd_milli
             FROM st),
      w AS (SELECT *, n_docs * sd_milli AS w FROM sd),
      tw AS (SELECT sum(w) AS tw FROM w),
      alloc AS (SELECT w.*, (100 * w) // tw AS base, (100 * w) % tw
                  AS rem
                FROM w CROSS JOIN tw),
      lo AS (SELECT 100 - sum(base) AS leftover FROM alloc)
      SELECT source, n_docs, sd_milli, CAST(w AS BIGINT) AS w,
        CAST(base + (CASE WHEN row_number() OVER
            (ORDER BY rem DESC, source) <= (SELECT leftover FROM lo)
          THEN 1 ELSE 0 END) AS BIGINT) AS alloc
      FROM alloc ORDER BY source""",
    "q_mix_epoch_plan" -> """
      WITH st AS (SELECT source,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT)
            AS raw_tokens
        FROM documents GROUP BY source)
      SELECT source, CAST(r AS BIGINT) AS repeats, raw_tokens,
        CAST(raw_tokens * (2000 - 2000 // (1 << r)) AS BIGINT)
          AS eff_tokens_milli,
        CAST(raw_tokens * (2000 // (1 << r)) AS BIGINT)
          AS marginal_milli
      FROM st, unnest(range(1, 5)) t(r)
      ORDER BY source, repeats""",
    "q_mix_temperature_sweep" -> """
      WITH st AS (SELECT source, count(*) AS n_docs
                  FROM documents GROUP BY source),
      sw AS (SELECT source, n_docs, tau_milli,
               CAST(round(CASE tau_milli
                   WHEN 1000 THEN CAST(n_docs AS DOUBLE)
                   WHEN 500 THEN sqrt(CAST(n_docs AS DOUBLE))
                   ELSE sqrt(sqrt(CAST(n_docs AS DOUBLE))) END * 1e6)
                 AS BIGINT) AS s_micro
             FROM st, unnest([1000, 500, 250]) t(tau_milli)),
      tot AS (SELECT tau_milli, sum(s_micro) AS tot_micro
              FROM sw GROUP BY tau_milli)
      SELECT CAST(sw.tau_milli AS BIGINT) AS tau_milli, source, n_docs,
        s_micro, CAST((2000 * s_micro) // tot_micro AS BIGINT)
          AS alloc_docs
      FROM sw JOIN tot ON sw.tau_milli = tot.tau_milli
      ORDER BY tau_milli, source""",
    "q_dedup_threshold_sweep" -> s"""
      WITH ps AS MATERIALIZED (${Dedup.jaccardStreamSql}),
      cand AS (SELECT t.theta, ps.da, ps.db FROM ps,
                 unnest([200, 500, 800]) t(theta)
               WHERE ps.i * 1000 >= t.theta * (ps.na + ps.nb - ps.i)),
      pairs AS (SELECT theta, count(*) AS n_pairs FROM cand
                GROUP BY theta),
      docs AS (SELECT theta, count(DISTINCT d) AS n_docs
               FROM (SELECT theta, unnest([da, db]) AS d FROM cand) u
               GROUP BY theta),
      th AS (SELECT unnest([200, 500, 800]) AS theta)
      SELECT CAST(th.theta AS BIGINT) AS theta_permille,
        CAST(coalesce(pairs.n_pairs, 0) AS BIGINT) AS n_pairs,
        CAST(coalesce(docs.n_docs, 0) AS BIGINT) AS n_docs
      FROM th LEFT JOIN pairs ON th.theta = pairs.theta
              LEFT JOIN docs ON th.theta = docs.theta
      ORDER BY theta_permille""",
    "q_graph_degree_dist" -> """
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2),
      deg AS (SELECT node, count(*) AS deg FROM (
                SELECT u AS node FROM e
                UNION ALL SELECT v FROM e) n GROUP BY node),
      b AS (SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS deg_bucket,
              deg
            FROM deg)
      SELECT deg_bucket, count(*) AS n_nodes,
        CAST(min(deg) AS BIGINT) AS min_deg,
        CAST(max(deg) AS BIGINT) AS max_deg,
        CAST(sum(deg) AS BIGINT) AS deg_mass
      FROM b GROUP BY deg_bucket ORDER BY deg_bucket""",
    "q_dedup_blocking_audit" -> s"""
      WITH ps AS MATERIALIZED (${Dedup.jaccardStreamSql}),
      truth AS MATERIALIZED (
        SELECT da, db FROM ps WHERE i * 1000 >= 200 * (na + nb - i)),
      tt AS (SELECT count(*) AS truth_total FROM truth),
      shing AS (SELECT da, db FROM ps),
      simp AS MATERIALIZED (${Dedup.simhashPairsOracleSql}),
      winp AS MATERIALIZED (${Dedup.winnowOracleSql}),
      rows_ AS (
        SELECT 'shingle_index' AS blocker,
          (SELECT count(*) FROM shing) AS n_candidates,
          (SELECT count(*) FROM shing s JOIN truth t
             ON s.da = t.da AND s.db = t.db) AS n_true
        UNION ALL
        SELECT 'simhash_block',
          (SELECT count(*) FROM simp),
          (SELECT count(*) FROM simp s JOIN truth t
             ON s.da = t.da AND s.db = t.db)
        UNION ALL
        SELECT 'winnow_fp',
          (SELECT count(*) FROM winp),
          (SELECT count(*) FROM winp s JOIN truth t
             ON s.da = t.da AND s.db = t.db))
      SELECT blocker, CAST(n_candidates AS BIGINT) AS n_candidates,
        CAST(n_true AS BIGINT) AS n_true,
        CAST(tt.truth_total AS BIGINT) AS truth_total,
        CAST(n_true * 1000 // n_candidates AS BIGINT)
          AS precision_permille,
        CAST(n_true * 1000 // tt.truth_total AS BIGINT)
          AS recall_permille
      FROM rows_ CROSS JOIN tt ORDER BY blocker""",
    // the oracle deliberately computes components the FULL-graph way
    // (transitive closure over all edges) while the Spark side merges
    // the delta through the contracted base-cluster graph — the hash
    // gate therefore proves incremental == recompute every run
    "q_dedup_cc_delta" -> (Dedup.componentsCte + """,
      comp AS (SELECT v, min(l) AS component FROM reach GROUP BY v),
      bedges AS (SELECT src, dst FROM edges
                 WHERE src % 10 <> 0 AND dst % 10 <> 0),
      bverts AS (SELECT DISTINCT src AS v FROM bedges),
      breach AS (SELECT v, v AS l FROM bverts
                 UNION
                 SELECT e.dst, r.l FROM breach r
                 JOIN bedges e ON e.src = r.v),
      bcomp AS (SELECT v, min(l) AS lb FROM breach GROUP BY v),
      mem AS (SELECT comp.v, comp.component,
                CASE WHEN comp.v % 10 = 0 THEN NULL
                     ELSE coalesce(bcomp.lb, comp.v) END AS lbase
              FROM comp LEFT JOIN bcomp ON comp.v = bcomp.v)
      SELECT component, count(*) AS n_docs,
        CAST(sum(CASE WHEN v % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_new,
        CAST(count(DISTINCT lbase) AS BIGINT) AS n_base_clusters
      FROM mem GROUP BY component
      HAVING sum(CASE WHEN v % 10 = 0 THEN 1 ELSE 0 END) >= 1
      ORDER BY component"""),
    "q_sim_ivf_nprobe_sweep" -> s"""
      WITH e AS MATERIALIZED (${Similarity.quantSql}),
      n AS MATERIALIZED (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS n2
                         FROM e GROUP BY vec_id),
      dots AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
                 CAST(sum(a.v * b.v) AS BIGINT) AS dot
               FROM e a JOIN e b ON a.vec_id < 50
                 AND b.vec_id <> a.vec_id AND a.i = b.i
               GROUP BY 1, 2),
      true10 AS MATERIALIZED (SELECT qid, cid FROM (
          SELECT d.qid, d.cid,
            row_number() OVER (PARTITION BY d.qid
              ORDER BY CAST(d.dot AS DOUBLE) /
                (sqrt(CAST(nc.n2 AS DOUBLE)) *
                 sqrt(CAST(nq.n2 AS DOUBLE))) DESC, d.cid) AS rk
          FROM dots d
          JOIN n nq ON d.qid = nq.vec_id
          JOIN n nc ON d.cid = nc.vec_id) WHERE rk <= 10),
      cents AS (SELECT vec_id AS cid, i, v FROM e WHERE vec_id < 16),
      cn AS (SELECT cid, CAST(sum(v * v) AS BIGINT) AS cn2
             FROM cents GROUP BY 1),
      ranked AS MATERIALIZED (
        SELECT a.vec_id, c.cid,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            CAST(sum(a.v * c.v) AS BIGINT) /
              (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
            DESC, c.cid) AS rk
        FROM e a JOIN cents c ON a.i = c.i
        JOIN n ON a.vec_id = n.vec_id JOIN cn ON c.cid = cn.cid
        GROUP BY a.vec_id, c.cid, n.n2, cn.cn2),
      asg AS MATERIALIZED (SELECT vec_id, cid FROM ranked WHERE rk = 1),
      ${Seq(1, 2, 4, 8).map(np => s"""
      cand$np AS (SELECT p.vec_id AS qid, a.vec_id AS cid2
                  FROM ranked p JOIN asg a ON a.cid = p.cid
                  WHERE p.vec_id < 50 AND p.rk <= $np
                    AND a.vec_id <> p.vec_id),
      row$np AS (SELECT CAST($np AS BIGINT) AS nprobe,
          CAST((SELECT count(DISTINCT qid) FROM cand$np) AS BIGINT)
            AS n_queries,
          CAST((SELECT count(*) FROM cand$np) AS BIGINT) AS candidates,
          CAST((SELECT count(*) FROM true10 t JOIN cand$np c
                 ON t.qid = c.qid AND t.cid = c.cid2) * 1000 //
            (10 * (SELECT count(DISTINCT qid) FROM cand$np)) AS BIGINT)
            AS recall_at10_permille)""").mkString(",")}
      SELECT * FROM row1 UNION ALL SELECT * FROM row2
      UNION ALL SELECT * FROM row4 UNION ALL SELECT * FROM row8
      ORDER BY nprobe""")
}
