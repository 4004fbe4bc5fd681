package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10×-data scale-stress harness (VERDICT r9 item 3): materializes a
  * deterministically inflated copy of a fixture dir and times the
  * heaviest headline queries at 1× and 10×, reporting per-query wall
  * scaling factors. Run manually (`runMain graft.StressBench`), NOT
  * part of the driver's Bench contract — results are recorded as a
  * ledger note in SURVEY.md §2.N.
  *
  * Inflation is workload-shape-preserving, not naive row duplication
  * (10 identical corpus copies would create 10-cliques in every dedup/
  * similarity query and measure a DIFFERENT, quadratically heavier
  * workload):
  *
  *  - documents ×10: new doc_ids; copies >0 re-salt the token stream
  *    with a copy-specific token every 2 words, so every 3-word shingle
  *    differs across copies — MinHash/components see 10× independent-ish
  *    docs (token count grows 1.5×, noted in the report);
  *  - lineitem ×10: order keys shifted per copy (10× baskets), part
  *    catalog FIXED — the TPC-H scaling model (facts grow, dims don't);
  *  - customer ×10: names of copies >0 get two copy-derived tail chars,
  *    keeping sibling copies OUTSIDE the fuzzy join's edit-distance-1
  *    candidate radius;
  *  - embeddings ×10: copies >0 are fresh hash-uniform vectors (md5-
  *    derived components in [-0.25, 0.25]) — independent points, not
  *    exact-duplicate cliques.
  *
  * Everything is md5/arithmetic-deterministic: two runs build identical
  * corpora, so factors are comparable across rounds.
  */
object StressBench {

  /** The heaviest headline queries (r9 verdict's plan-audit list, the
    * r10 prefix-filtering pair join, and BOTH as-of formulations —
    * window vs native operator — so the operator's asymptotic claim
    * gets measured, not asserted). */
  val heavy: Seq[String] = Seq(
    "q_dedup_components", "q_rec_itemcos", "q_basket_pairs",
    "q_join_fuzzy", "q_emb_gram", "q_dedup_semantic", "q_dedup_ppjoin",
    "q_join_asof", "q_join_asof_custom", "q_graph_labelprop",
    // r10 additions post-dating the first harness run: BT should be
    // ~flat (post-scan frame is |sources|²-bounded), rules ~linear in
    // baskets, clustering bounded by the wedge fan-out
    "q_eval_bradley_terry", "q_basket_rules", "q_graph_clustering",
    // r11 additions (r11 verdict item 3): lsh_sweep is dominated by
    // its PPJoin truth pass + 3 df-capped band joins, winnow by the
    // df-capped fingerprint pair join (~linear: density is a constant
    // fraction of the gram stream), ivf_delta by the assignment scan,
    // doremi should be scale-flat (a |sources|-row driver fold)
    "q_dedup_lsh_sweep", "q_dedup_winnow", "q_sim_ivf_delta",
    "q_mix_doremi",
    // r12 additions: maxsim/hard-negatives/binary are broadcast-query
    // one-pass scans (expect ~linear in candidates), lc_winrate and
    // elo collapse to the (source, bin/round, score) axis (expect
    // ~flat beyond the classifier scan), ivf_split is bounded by the
    // one hot cell
    "q_sim_maxsim", "q_sim_hard_negatives", "q_sim_binary_sq",
    "q_eval_lc_winrate", "q_eval_elo", "q_sim_ivf_split",
    // late-r12 adds: katz ~ one pagerank iteration each, nearest is
    // the as-of merge cost class, bestfit folds per shard (8 rows of
    // packed state), coreset is the assignment scan + tiny windows
    "q_graph_katz", "q_join_nearest_custom", "q_pack_bestfit",
    "q_sample_coreset",
    // r14 additions (r13 verdict item 2): the rating agreement, the
    // remaining r12 batch (ppr_topic/autopick/pass@k/distinct_n/vocab/
    // mattr, expected ~classifier-scan / gram-scan linear), and the
    // three conf-gated graph scale paths (expect the same sublinear
    // class as their broadcast twins — the point is measuring, not
    // asserting)
    "q_eval_rating_agreement",
    "q_graph_ppr_topic", "q_dedup_lsh_autopick", "q_eval_pass_at_k",
    "q_text_distinct_n", "q_vocab_overlap", "q_text_mattr",
    "q_graph_hits", "q_graph_hits+shuffle",
    "q_graph_triangles", "q_graph_triangles+shuffle",
    "q_graph_clustering+shuffle",
    "q_sim_ivf_rebalance", "q_eval_best_of_n", "q_sim_margin_mine",
    "q_bpe_train", "q_select_rho", "q_bpe_apply",
    "q_dedup_minhash_tuned",
    // r15 additions: the three new measured-cardinality gate paths
    // against their default twins (member joins, LM tables), the IVF
    // cell-count knob at 64 on the margin-mine pair stream (its 4.65x
    // r14 factor is cell-size-driven — more cells = smaller blocks),
    // and the fixed-vs-tuned minhash pair in ONE batch (r14 item 8:
    // tune-time vs deploy-time cost was documented from separate runs)
    "q_dedup_minhash",
    "q_sim_ivf_rebalance+shuffle", "q_sim_margin_mine+cells64",
    "q_text_perplexity", "q_text_perplexity+shuffle",
    "q_select_rho+shuffle",
    // r15 new surface, stressed the round it ships: substring-dedup
    // (expect ~linear: one gram per token, df>=2 semi-join), k-center
    // (k corpus scans, ~linear), KN (the perplexity LM-join class),
    // retrieval recall (bounded query broadcast, ~linear candidates)
    "q_dedup_substring", "q_sim_kcenter", "q_text_kneser_ney",
    "q_eval_retrieval_recall", "q_eval_mrr", "q_text_gopher_rules",
    "q_eval_ndcg", "q_sample_aes",
    "q_dedup_substring_cut", "q_sim_ivf_cells_sweep",
    // r15 wave 36, stressed the round it ships: kmeans_train is 4
    // broadcast-literal corpus scans (~linear), ccnet_cut the
    // perplexity LM class + a tiny histogram, softdedup one
    // co-partitioned fp join, attrition one flags scan + survivor
    // shuffle, emb_rp a bounded-pair audit (~flat), the sweep one
    // scan to a 10-row histogram, the spectrum 3 substring passes
    "q_sim_kmeans_train", "q_text_ccnet_cut", "q_mix_softdedup",
    "q_pipeline_attrition", "q_emb_rp", "q_select_threshold_sweep",
    "q_dedup_dup_spectrum",
    // r15 wave 37: retrain audit = the training loop + a tiny census
    // rollup (expect the kmeans class), the other three are one
    // |sources|-row scan each (expect scale-flat-to-linear)
    "q_sim_ivf_retrain_audit", "q_sample_neyman", "q_mix_epoch_plan",
    "q_mix_temperature_sweep",
    // r15 wave 38: the threshold sweep rides the persisted jaccard
    // pair stream (expect the jaccard class), degree dist the pruned
    // edge frame (expect the densification class — edges grow 335x
    // under the fixed part catalog, the gate batch's known shape)
    "q_dedup_threshold_sweep", "q_graph_degree_dist",
    // r15 wave 39: the audit runs all three blockers + the truth
    // semi-joins in one query (expect the max of its parts' classes)
    "q_dedup_blocking_audit",
    // r15 wave 40: the train loop + 4 dictionary-sized rollups
    // (expect the bpe_train class — dictionary-bound after one scan)
    "q_bpe_vocab_curve",
    // r15 wave 41: base CC + a delta-edge-sized contracted merge
    // (expect under the full-components class — that is the point)
    "q_dedup_cc_delta",
    // r15 wave 42: one assignment pass + 4 nested posting joins
    // (expect the cells-sweep class — scale-flat truth, linear cands)
    "q_sim_ivf_nprobe_sweep",
    // r16: the facade auto-K path (VERDICT r15 item 1) — the
    // Graft.marginMine facade with NO conf set derives K from the
    // corpus count (16 at 1x/2k vectors, 79 at 10x/20k), so this row
    // should land near the +cells64 variant at 10x while matching the
    // default declared query at 1x — the dial turning itself
    "facade_margin_mine_auto",
    // r16: the audit-class shard-sample gate (VERDICT r15 item 4) —
    // 8-of-64 md5 shards against the exact twins above; the factor
    // gap is the measured price of exact truth the sample avoids
    "q_dedup_blocking_audit+sample8", "q_dedup_dup_spectrum+sample8",
    "q_dedup_threshold_sweep+sample8",
    // r16 wave 43: the unigram trainer is the bpe_train class —
    // dictionary-bound after one scan, map-side HOF Viterbi E-steps
    "q_tok_unigram_train", "q_tok_unigram_fertility",
    // r16 wave 44: c4 is a one-scan battery (expect ~linear), unimax
    // a |sources|-row fold (expect flat), nb_train the LM-join class
    "q_text_c4_rules", "q_mix_unimax", "q_quality_nb_train",
    // r16 wave 45: anisotropy is a bounded-pair audit (expect flat),
    // heaps one token scan to vocab-sized rollups, byte-fallback one
    // char-HOF scan, kappa the nb_train class
    "q_emb_anisotropy", "q_text_heaps", "q_tok_byte_fallback",
    "q_quality_nb_kappa",
    // r16 wave 46: ablation a one-scan |sources| rollup (expect
    // flat), bootstrap a x32 map-side fan-out partial-agg (expect
    // ~linear), drift a histogram-window pass (expect ~flat)
    "q_mix_ablation", "q_eval_bootstrap", "q_drift_length",
    // r16 wave 47: overlap = both trainer pipelines (expect the
    // dictionary-bound class), length bias the perplexity LM class,
    // mcnemar one dual-battery scan (expect ~linear)
    "q_tok_algo_overlap", "q_text_ppl_length_bias", "q_eval_mcnemar",
    // r16 wave 48: the kmeans-loop class + two posting joins
    "q_sim_retrain_recall",
    // r16 wave 49: the perplexity LM-join class
    "q_text_lm_coverage",
    // r17: SemDeDup on the unified resolveCells dial — the target256
    // variant measures the shared cell-size knob actually moving it
    "q_dedup_semantic+target256",
    // r17 wave 52: the composed datacard pipeline — expect ~linear
    // (one flags scan + fp shuffle; BPE collapses to the dictionary)
    "q_pipeline_e2e",
    // r17 wave 53: graph-ANN — build is the SemDeDup cell-blocked
    // shape (quadratic per cell at the fixed declared K=16; the
    // facade's resolveCells auto-K is the production dial), search
    // bounded per query
    "q_sim_nsw_search",
    // r17 wave 55: the delta audit vs its full-rebuild cost twin —
    // the measured price of NOT having the incremental path
    "q_sim_nsw_delta", "q_sim_nsw_delta+rebuild",
    // r17 waves 54-56: the NSW dials (one shared pair stream / one
    // shared graph) and the NB calibration (rides the LM-gated
    // scored stream — the nb_train class)
    "q_sim_nsw_ef_sweep", "q_sim_nsw_deg_sweep",
    "q_quality_nb_calibration", "q_quality_nb_auc",
    // r17 wave 59: the bpe_train class — dictionary-bound after one
    // scan, with a vocab-sized symbol-count join per round
    "q_tok_wordpiece_train",
    // r17 waves 61-63: attribution + alpha are one flag scan each
    // (expect ~linear in corpus chars); rouge shuffles the gram
    // stream on (source, n, gram) (expect ~linear); the langid
    // confusion is the nb_train LM-join class with a |langs| eval
    // fan-out
    "q_quality_rule_attribution", "q_agreement_krippendorff",
    "q_eval_rouge", "q_lang_nb_confusion",
    // r17 waves 64-65: shapley is the attribution flag-scan class;
    // the datacard composes BOTH merge trainers + the unigram DP
    // (expect the tok_algo_overlap fixed-cost class)
    "q_quality_rule_shapley", "q_tok_algo_datacard",
    // r17 waves 66-67: chrf is a 6-order char-gram shuffle (expect
    // ~linear in chars); scatter partial-aggregates to |labels|x64
    // (expect ~linear scan cost, flat after)
    "q_eval_chrf", "q_emb_scatter",
    // r17 wave 68: the df-capped pair-stream class (the threshold
    // sweep's cost twin — the 30-row curve join is free)
    "q_dedup_lsh_expected",
    // r17 wave 69: two broadcast-query candidate scans + 5-row/query
    // audit joins (the recall_audit class — expect ~linear)
    "q_sim_rank_agreement",
    // r17 waves 70-71: norm delta = two md5-keyed keep-first windows
    // (the exact-dedup class, twice); token-rank drift = one token
    // scan to (source, half, tok) partials + 10-row/half rankings
    "q_dedup_norm_delta", "q_drift_token_rank",
    // r17 wave 72: three broadcast-codebook encode passes over the
    // subspace stream (expect ~linear in vectors)
    "q_sim_pq_distortion",
    // r17 wave 73: one census scan + three packed |sources|-row
    // folds (the unimax class — expect scale-flat beyond the scan)
    "q_mix_unimax_sweep",
    // r17 wave 74: the exact pair stream + the banded candidate
    // stream (both df-capped shipped cores)
    "q_dedup_scurve_actual",
    // r17 wave 75: the langid scored stream (nb_train class)
    "q_lang_nb_margin",
    // r17 wave 76: the rouge clip-pipeline class at 4 word-gram
    // orders (expect ~linear in the gram stream)
    "q_eval_bleu",
    // r17 wave 77: the attribution flag-scan class (one scan to a
    // |sources|-row wide aggregate — expect ~linear in chars)
    "q_quality_cochran_q",
    // r17 wave 78: the blocking-audit class — one persisted pair
    // stream + the two other blockers, flag joins pair-stream-sized
    "q_dedup_blocker_mcnemar",
    // r17 wave 79: one broadcast-centroid scored scan to a 16-row
    // histogram (the assignment-scan class — expect ~linear)
    "q_emb_cell_drift",
    // r17 wave 80: one flag scan + one token scan to |sources|-row
    // aggregates; the type census is the distinct-(source, tok)
    // shuffle (expect the heaps/types class — ~linear)
    "q_agreement_kendall_w",
    // r17 wave 81: the exact pair stream + the one-sketch-per-doc
    // signature joins (expect the jaccard pair-stream class)
    "q_dedup_minhash_est_error",
    // r17 wave 82: 17x17-row arithmetic over the calibration table
    // (expect the nb_train LM-join class — the scan dominates)
    "q_quality_nb_threshold",
    // r17 wave 83: one token scan to (source, tok) partials then a
    // vocab-sized rollup (expect the heaps/types class)
    "q_text_chao1",
    // r17 wave 84: the est-error pair-stream class with a 3x budget
    // fan-out AFTER the join (per-pair arithmetic, not a rebuild)
    "q_dedup_minhash_perm_curve",
    // r17 wave 85: the langid LM-join class + a confusion-sized
    // readout (expect the lang_nb_confusion class)
    "q_lang_nb_prf",
    // r17 wave 86: one thin (source, len) scan + per-group top-20
    // via the GroupedTopK rewrite (expect ~linear scan cost)
    "q_text_length_tail",
    // r17 wave 87: one flag scan to a |sources|x8x2 histogram
    // (expect the attribution flag-scan class)
    "q_drift_rule_profile")

  /** Conf-gated variants: bench label → (base query key, conf
    * key=value set for the run). Lets the harness measure a scale
    * path against its default twin in the same batch. */
  val confVariants: Map[String, (String, String)] = Map(
    "q_graph_hits+shuffle" ->
      ("q_graph_hits", "spark.graft.graph.broadcastEdgeLimit=0"),
    "q_graph_triangles+shuffle" ->
      ("q_graph_triangles", "spark.graft.graph.broadcastEdgeLimit=0"),
    "q_graph_clustering+shuffle" ->
      ("q_graph_clustering", "spark.graft.graph.broadcastEdgeLimit=0"),
    "q_sim_ivf_rebalance+shuffle" ->
      ("q_sim_ivf_rebalance", "spark.graft.ivf.broadcastMemberLimit=0"),
    "q_sim_margin_mine+cells64" ->
      ("q_sim_margin_mine", "spark.graft.ivf.cells=64"),
    "q_text_perplexity+shuffle" ->
      ("q_text_perplexity", "spark.graft.lm.broadcastTypeLimit=0"),
    "q_select_rho+shuffle" ->
      ("q_select_rho", "spark.graft.lm.broadcastTypeLimit=0"),
    "q_dedup_blocking_audit+sample8" ->
      ("q_dedup_blocking_audit", "spark.graft.audit.sampleShards=8"),
    "q_dedup_dup_spectrum+sample8" ->
      ("q_dedup_dup_spectrum", "spark.graft.audit.sampleShards=8"),
    "q_dedup_threshold_sweep+sample8" ->
      ("q_dedup_threshold_sweep", "spark.graft.audit.sampleShards=8"),
    // r17: SemDeDup's K rides the shared resolveCells dial — target
    // cell size 256 (vs the operator's 32 default) means 8x fewer,
    // 8x fatter cells at 10x (K 625 -> 79): the measured price of
    // turning the ONE dial every cell-blocked operator now shares
    "q_dedup_semantic+target256" ->
      ("q_dedup_semantic", "spark.graft.ivf.targetCellSize=256"),
    "q_sim_nsw_delta+rebuild" ->
      ("q_sim_nsw_delta", "spark.graft.nsw.fullRebuild=true"))

  /** Facade-driven rows: bench label → a direct `graft.api.Graft`
    * call. These measure the PUBLIC API's own scale behavior (e.g.
    * auto-derived knobs) that the declared-query registry, pinned to
    * oracle-stable constants, deliberately cannot exercise. */
  val facadeRuns: Map[String, (SparkSession, String) => DataFrame] = Map(
    "facade_margin_mine_auto" -> ((sp, dir) =>
      graft.api.Graft.marginMine(Tables(sp, dir, "embeddings"),
        "vec_id", "embedding", "label")))

  def build(spark: SparkSession, src: String, out: String,
      copies: Int): Unit = {
    val c = spark.range(copies).select(col("id").cast("int").as("c"))
    def inflate(table: String)(f: DataFrame => DataFrame): Unit = {
      val target = new java.io.File(s"$out/$table.parquet")
      if (!target.exists()) {
        f(Tables(spark, src, table).crossJoin(c))
          .write.mode("overwrite").parquet(target.getAbsolutePath)
        System.err.println(s"[stress] built $target")
      }
    }
    inflate("documents") { df =>
      df.withColumn("doc_id", col("doc_id") * copies + col("c"))
        // per-copy VOCABULARY mapping (w -> w~c): every token of copy
        // c>0 is rewritten, so every shingle differs across copies
        // while token counts, doc lengths and the within-copy near-dup
        // structure are preserved EXACTLY. (The first r10 version
        // inserted a salt token every 2 words instead; that turned a
        // third of all 3-shingles into effective 2-shingles sharing a
        // salt, inflating prefix posting lists ~5x beyond what 10x
        // data justifies — the measured ppjoin "31x" was mostly that
        // artifact, not the algorithm.)
        .withColumn("text", when(col("c") === 0, col("text")).otherwise(
          expr("""array_join(transform(split(text, ' '),
                    w -> concat(w, '~', c)), ' ')""")))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
    }
    inflate("lineitem") { df =>
      df.withColumn("l_orderkey", col("l_orderkey") * copies + col("c"))
        .drop("c")
    }
    inflate("orders") { df =>
      // keys shift exactly like lineitem's l_orderkey and customer's
      // c_custkey, so joins stay consistent: 10x orders over the 10x
      // fact rows, each copy's orders owned by that copy's customers
      df.withColumn("o_orderkey", col("o_orderkey") * copies + col("c"))
        .withColumn("o_custkey", col("o_custkey") * copies + col("c"))
        .drop("c")
    }
    inflate("customer") { df =>
      df.withColumn("c_custkey", col("c_custkey") * copies + col("c"))
        .withColumn("c_name", when(col("c") === 0, col("c_name"))
          .otherwise(concat(col("c_name"), lit("_"), col("c"),
            pmod(col("c") * 7, lit(10)))))
        .drop("c")
    }
    inflate("events") { df =>
      // 10x users, each copy keeping the original per-user history
      // shape (timestamps unchanged) — the realistic "more users, same
      // behavior" growth for per-user windows/joins
      df.withColumn("event_id", col("event_id") * copies + col("c"))
        .withColumn("user_id", col("user_id") * copies + col("c"))
        .drop("c")
    }
    inflate("embeddings") { df =>
      df.withColumn("vec_id", col("vec_id") * copies + col("c"))
        .withColumn("embedding", when(col("c") === 0, col("embedding"))
          .otherwise(expr(
            """transform(sequence(0, 63), i ->
                 cast(((cast(conv(substring(md5(concat(vec_id, '_', i)),
                     1, 8), 16, 10) as bigint) % 2001) - 1000) / 4000.0
                   as float))""")))
        .select(col("vec_id"), col("embedding"), col("label"))
    }
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_STRESS_DIR",
      "/tmp/graft_stress10x")
    val copies = sys.env.getOrElse("SPARK_GRAFT_STRESS_COPIES", "10").toInt
    val spark = GraftSession.local()
    System.setProperty("graft.noDumps", "1")
    new java.io.File(out).mkdirs()
    build(spark, src, out, copies)
    spark.range(1000).selectExpr("sum(id)").collect() // warmup

    def time(name: String, dir: String): Double = {
      val (base, conf) = confVariants.get(name)
        .map { case (b, kv) => (b, Some(kv.split("=", 2))) }
        .getOrElse((name, None))
      conf.foreach { case Array(k, v) => spark.conf.set(k, v) }
      try {
        def once(): Double = {
          val t0 = System.nanoTime()
          facadeRuns.getOrElse(base, SparkEntry.queries(base))(spark, dir)
            .write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }
        val a = once(); val b = once()
        CacheScope.release()
        math.min(a, b)
      } finally conf.foreach { case Array(k, _) => spark.conf.unset(k) }
    }
    // SPARK_GRAFT_STRESS_ONLY=a,b narrows a rerun after a targeted fix
    val selected = sys.env.get("SPARK_GRAFT_STRESS_ONLY") match {
      case Some(names) => heavy.filter(names.split(",").toSet)
      case None => heavy
    }
    val rows = selected.map { name =>
      val t1 = time(name, src)
      val t10 = time(name, out)
      val factor = t10 / math.max(t1, 1e-9)
      System.err.println(f"[stress] $name%-22s 1x=$t1%6.2fs ${copies}x=$t10%6.2fs factor=$factor%5.2f")
      f""""$name":{"t1":$t1%.3f,"t$copies":$t10%.3f,"factor":$factor%.2f}"""
    }
    println(s"""{"metric":"stress${copies}x","sf":"$src","queries":{${rows.mkString(",")}}}""")
    spark.stop()
  }
}
