package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication operators for a training-data pipeline (north star /
  * SURVEY.md §2.M): exact hash dedup, exact n-gram Jaccard, MinHash+LSH
  * banding (via the custom MinHashAgg TypedImperativeAggregate), and
  * SimHash fingerprints.
  *
  * Published grounding: MinHash resemblance estimation — Broder, "On the
  * resemblance and containment of documents" (SEQUENCES 1997); LSH band
  * construction — Leskovec/Rajaraman/Ullman, Mining of Massive Datasets
  * ch. 3; SimHash — Charikar, "Similarity estimation techniques from
  * rounding algorithms" (STOC 2002) as applied by Manku et al.,
  * "Detecting near-duplicates for web crawling" (WWW 2007).
  *
  * Scale design: exact all-pairs Jaccard is the oracle-checkable baseline;
  * the path that survives 100 TB is MinHash: per-doc signatures are a
  * partial-aggregable 32-long sketch, LSH banding turns candidate
  * generation into an equi-join on (band, band_hash) — shuffle volume is
  * O(docs × bands), never O(docs²). SimHash gives 64-bit fingerprints
  * whose hamming distance is comparable in a cheap pair scan.
  */
object Dedup {

  /** Exact dedup: content-hash group, canonical = min doc_id. */
  val qDedupExact: Q = (s, dir) => {
    Tables(s, dir, "documents")
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("copies"))
      .select(col("canonical_id"), col("fp"), col("copies"))
      .orderBy(col("canonical_id"))
  }

  private def shingled(s: org.apache.spark.sql.SparkSession, dir: String) =
    shingledDocs(Tables(s, dir, "documents")
      .select(col("doc_id"), col("text")))

  /** Distinct word-3-gram shingles of a (doc_id, text) frame — the
    * frame-based core behind [[shingled]]. */
  private[graft] def shingledDocs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"),
        explode(array_distinct(when(size(col("t")) >= 3,
          expr("""transform(sequence(1, size(t) - 2),
                  i -> concat_ws(' ', element_at(t, i),
                                 element_at(t, i + 1),
                                 element_at(t, i + 2)))"""))
          .otherwise(array()))).as("g"))

  /** Document-frequency cap for the shingle inverted index: a shingle
    * shared by more than this many documents is non-discriminative
    * boilerplate ("in the the") and is dropped BEFORE the self-join —
    * without the cut one hot shingle shared by 1e5 docs creates a 1e10-pair
    * join group (quadratic blowup on a single reducer at 100 TB). The
    * standard df-cut from the near-dup literature; Jaccard is then measured
    * over the discriminative shingle set on both engines (the oracle
    * applies the identical cut). At fixture scale max df is 7, so the cut
    * is purely a scale guard there. */
  private val ShingleDfCap = 100

  /** Exact word-3-gram Jaccard near-dup pairs (j >= 0.2).
    * Candidate generation by shingle equi-join (docs sharing >= 1 shingle),
    * i.e. an inverted-index join, not an O(n^2) cross join. The join key
    * is xxhash64 of the shingle: an 8-byte shuffle key instead of a ~20-
    * byte string (64-bit collisions are negligible at any corpus size
    * this engine targets, and would only perturb one intersection count). */
  val qDedupJaccard: Q = (s, dir) =>
    jaccardPairs(s, dir).orderBy(col("da"), col("db"))

  /** Unsorted jaccard pair pipeline shared by the presentation query
    * (which adds the total ORDER BY) and connected components (which
    * must NOT inherit it: the range exchange + global sort buys the
    * iterative join nothing — the same inherited-orderBy tax the
    * simhash pair scan shed in r4). */
  private[graft] def jaccardPairs(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame =
    jaccardPairStream(s, dir)
      .select(col("da"), col("db"),
        (col("i").cast("double") /
          (col("na") + col("nb") - col("i")).cast("double")).as("jacc"))
      .filter(col("jacc") >= 0.2)

  /** The INTEGER pair stream behind [[jaccardPairs]] and the r15
    * threshold sweep (CorpusOps48): (da, db, i, na, nb) — intersection
    * and set sizes before any ratio, so consumers can threshold by
    * exact cross-multiplication instead of a rounded double. */
  private[graft] def jaccardPairStream(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    jaccardPairStreamOf(Tables(s, dir, "documents")
      .select(col("doc_id"), col("text")))

  /** Frame-based core of [[jaccardPairStream]] (docs = (doc_id,
    * text)) — shared with `Graft.dedupThresholdSweep` and
    * `Graft.blockingAudit`. */
  private[graft] def jaccardPairStreamOf(
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // The hashed shingle stream feeds the hot-list agg, the per-doc
    // sizes agg and both self-join sides, and is NOT persisted: under
    // AQE every reference to a not-yet-materialized cached frame
    // becomes its own table-cache query stage (one single-task job
    // each), and the cache scan hides the identical self-join sides
    // from ReuseExchange. Unpersisted, the two sides plan as one
    // exchange plus its ReusedExchange (PlanSpec pins this); the
    // tokenize + hash subtree re-runs per aggregate instead. Callers
    // that reuse the stream across actions persist it themselves.
    val raw = shingledDocs(docs)
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
    // df-cut via ANTI-join against the HOT-shingle list: shingles with
    // df > cap are the Zipf head — in real corpora small enough that
    // Catalyst broadcasts the list and the cut costs ZERO shuffles of
    // the shingle table (a window- or semi-join formulation would
    // sort/shuffle every shingle row). No broadcast() hint on purpose:
    // the hot list is bounded only by occurrences/cap, so a pathological
    // corpus could exceed broadcast limits — unhinted, AQE degrades
    // gracefully to a shuffled anti-join instead of OOMing the driver.
    val hot = raw.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > ShingleDfCap).select(col("h"))
    val sh = raw.join(hot, Seq("h"), "left_anti")
    // attach each doc's shingle-set size BEFORE the pair join
    // (optimization r17): the r6 shape joined sizes into the PAIR
    // stream afterwards, exchanging the (da, db, i) stream twice more
    // (by da, then by db — at sf0.1 that is 3 exchanges of 1.1M pair
    // rows). The doc-keyed exchange of `sh` that the sizes aggregate
    // needs is now SHARED with the attach join (same key, reused), the
    // pair stream is exchanged exactly once (the partial agg), and na /
    // nb ride the group key — they are functions of da / db, so the
    // groups (and every output value) are identical. shuffle_hash on
    // the self-join skips the per-side sort a merge join would add
    // (the simhash-pair finding, r4): both sides are identical
    // exchanges, so ReuseExchange still computes the subtree once.
    // Two caveats the hint trades away (ADVICE r17): (1) at
    // broadcastable scales it swaps a broadcast join for a shuffle —
    // measured acceptable at every fixture SF (the r17 A/B numbers
    // below include it); (2) ShuffledHashJoin's build side cannot
    // spill, and the build here is a full partition of the
    // size-attached shingle stream — per-partition volume is
    // table/partitions, bounded in practice by AQE's byte-sized
    // partitioning (advisoryPartitionSizeInBytes), NOT by the df-cap
    // (which only bounds per-key skew). If a production profile shows
    // spill/OOM on this stage, drop the hint before touching memory
    // configs: SMJ here costs only the two sorts.
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shN = sh.join(sizes, Seq("doc_id"))
    val inter = shN.as("a").join(shN.as("b").hint("shuffle_hash"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("i"))
    inter.select(col("da"), col("db"), col("i"), col("na"), col("nb"))
  }

  /** Where [[qDedupMinhash]] dumps its signature frame so the DuckDB
    * oracle can replay band candidacy + signature agreement from the
    * same arrays (VERDICT r7 item 6). The permutations themselves stay
    * engine-specific (spec-checked: determinism + recall vs exact
    * Jaccard); what the oracle now value-checks is everything DOWNSTREAM
    * of the signatures — banding, candidate generation, the est_jacc
    * arithmetic and the threshold — which is where a Spark-side plan bug
    * would actually land.
    *
    * The dump is partitioned by a corpus fingerprint (k = bit_xor of
    * md5-prefix hashes over document text — the same cross-engine hash
    * trick the simhash oracle uses) and the oracle selects WHERE k
    * matches the corpus it reads: concurrent or interleaved runs at
    * different scale factors write different partitions instead of
    * clobbering each other (row counts alone can't disambiguate —
    * sf0.001 and sf0.01 both hold 500 docs). A complete partition
    * (_SUCCESS present) is never rewritten — same fingerprint means
    * same signatures — which also closes the overwrite-vs-reader race
    * for repeat runs over the same corpus; only two processes racing
    * the FIRST materialization of a fingerprint can still collide.
    * Bench skips the dump entirely (graft.noDumps).
    *
    * Root is overridable via -Dgraft.dumpDir (VERDICT r8 item 8): Verify
    * scopes it under its own outDir, so concurrent verifies on one box
    * write disjoint trees and even the first-materialization race is
    * gone. A `def` (not val) so the oracle SQL — also built after the
    * prop is set — always interpolates the same path the query wrote. */
  def MinhashSigDump: String =
    sys.props.getOrElse("graft.dumpDir", "/tmp/graft_minhash_sigs")

  /** Cross-engine corpus fingerprint: XOR is order-independent and the
    * 60-bit md5-prefix values are exact in both engines. */
  private def corpusFingerprint(s: org.apache.spark.sql.SparkSession,
                                dir: String): Long =
    Tables(s, dir, "documents")
      .agg(expr("""bit_xor(cast(conv(substring(md5(text), 1, 15), 16, 10)
                   as bigint))"""))
      .collect()(0).getLong(0)

  /** MinHash + LSH near-dup candidates: 32-perm signatures via the custom
    * TypedImperativeAggregate, candidates from the band equi-join,
    * ranked by estimated Jaccard (signature agreement). The deployed
    * operating point is PICKED-BY-POLICY, not hard-coded: with
    * `spark.graft.minhash.autoBanding=true` the (bands, rows) pair
    * comes from the [[qDedupLshAutopick]] policy over the measured
    * sweep (one 1-row scalar action); the default stays the robust
    * 16×2 J≈0.5 point (990‰ closed-form collision odds — see the
    * autopick doc) so the DuckDB oracle replay and tri-SF hashes hold.
    * Oracle: replays banding over the dumped signature arrays (the one
    * semantic difference — Spark buckets on xxhash64(band tuple), the
    * oracle on the tuple itself — only diverges on a 64-bit hash
    * collision). */
  val qDedupMinhash: Q = (s, dir) => {
    val auto = s.conf.getOption("spark.graft.minhash.autoBanding")
      .contains("true")
    val (b, r) =
      if (auto) {
        val pick = qDedupLshAutopick(s, dir)
          .select(col("bands"), col("rows_per_band")).collect()(0)
        (pick.getLong(0).toInt, pick.getLong(1).toInt)
      } else (16, 2)
    minhashPairs(s, dir, b, r)
  }

  /** The POLICY-TUNED deployment of [[qDedupMinhash]] as a declared,
    * value-oracled query (the end-to-end autopick wiring, r12 item 8
    * closed at full strength): run the measured banding sweep, apply
    * the declared pick policy, and band the deployed pipeline at the
    * chosen (b, r) — the oracle recomputes the pick from ITS OWN
    * sweep replay and checks the pair set at whatever point policy
    * chose, so a drifted pick OR a drifted banding both fail the
    * value gate. (q_dedup_minhash stays at the fixed robust 16×2 —
    * the two queries together document tune-time vs deploy-time.) */
  val qDedupMinhashTuned: Q = (s, dir) => {
    val pick = qDedupLshAutopick(s, dir)
      .select(col("bands"), col("rows_per_band")).collect()(0)
    minhashPairs(s, dir, pick.getLong(0).toInt, pick.getLong(1).toInt)
  }

  /** The [[qDedupMinhash]] pipeline at an explicit (bands, rows)
    * operating point (b·r must divide the 32-perm signature).
    * Package-visible so the autopick-wiring spec can pin the
    * conf-gated path against the policy's point directly. */
  private[graft] def minhashPairs(s: org.apache.spark.sql.SparkSession,
      dir: String, b: Int, r: Int): org.apache.spark.sql.DataFrame =
    bandPairs(sigFrame(s, dir), b, r)

  /** The persisted-and-dumped 32-perm signature frame (doc_id, sig)
    * — shared by [[minhashPairs]]' banding pipeline and the
    * estimation-error audit (CorpusOps77), so both replay oracles
    * read ONE dump. */
  private[ops] def sigFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    // same 3-gram shingles as the exact-Jaccard baseline: single-token
    // sets are near-identical across this small-vocab corpus, so only
    // shingles give a discriminative Jaccard.
    val sh = shingled(s, dir)
    // persist the signature frame: it feeds BOTH band self-join sides and
    // both signature re-joins (4 consumers). Unpersisted, the dominant
    // cost — tokenize -> shingle -> xxhash64 -> MinHashAgg over every
    // document — is recomputed per consumer (r6 plan: four full
    // documents scans, each with its own ObjectHashAggregate pair, no
    // exchange reuse because broadcast wrappers differ per consumer).
    // The cached frame is one 32-long sketch per doc — tiny relative to
    // the corpus — and MEMORY_AND_DISK spills instead of OOMing at scale.
    // CacheScope-tracked like the jaccard shingle stream: released by
    // the harness after materialization (ADVICE r7).
    val sigs = graft.CacheScope.track(sh
      .withColumn("th", xxhash64(col("g")))
      .groupBy(col("doc_id"))
      .agg(expr("minhash32(th)").as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // dump for the oracle replay — a TEST artifact, not engine work.
    // Skipped under Bench (graft.noDumps): the fingerprint scan and the
    // parquet write would otherwise be timed as query cost (r8 review).
    // Skipped when the fingerprint partition is already complete: the
    // fingerprint keys the corpus CONTENT, so an existing partition
    // holds identical signatures — rewriting it would only re-open the
    // overwrite window against a concurrent oracle reader. coalesce(1):
    // one 32-long array per doc is kilobytes at any test SF.
    dumpSigs(s, dir, sigs)
    sigs
  }

  /** LSH banding + signature-agreement ranking over a persisted
    * 32-perm signature frame (doc_id, sig) — shared by the declared
    * query and the `Graft.minhashPairs` facade. */
  private[graft] def bandPairs(sigs: org.apache.spark.sql.DataFrame,
      b: Int, r: Int): org.apache.spark.sql.DataFrame = {
    require(b * r <= 32 && b >= 1 && r >= 1 && 32 % (b * r) == 0,
      s"banding ($b, $r): b*r must divide the 32-perm signature " +
        "(a non-divisor would silently band only a prefix of the " +
        "permutations while est_jaccard still uses all 32)")
    // at (16, 2) this generates byte-for-byte the historical band
    // expression, so the default path's hashes are unchanged
    val els = (1 to r)
      .map(j => s"element_at(sig, bi * $r + $j)").mkString(", ")
    val bands = sigs.select(col("doc_id"),
      posexplode(expr(
        s"transform(sequence(0, ${b - 1}), bi -> xxhash64($els))")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bh")
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("da"), col("sig").as("sa")), "da")
      .join(sigs.select(col("doc_id").as("db"), col("sig").as("sb")), "db")
      .select(col("da"), col("db"),
        (expr("""aggregate(zip_with(sa, sb, (x, y) -> if(x = y, 1, 0)),
                 0, (acc, x) -> acc + x)""").cast("double") / 32.0)
          .as("est_jacc"))
      .filter(col("est_jacc") >= 0.2)
      .orderBy(col("da"), col("db"))
  }

  private def dumpSigs(s: org.apache.spark.sql.SparkSession, dir: String,
      sigs: org.apache.spark.sql.DataFrame): Unit =
    if (!sys.props.contains("graft.noDumps")) {
      val part = s"$MinhashSigDump/k=${corpusFingerprint(s, dir)}"
      val done = new org.apache.hadoop.fs.Path(part, "_SUCCESS")
      val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(done))
        sigs.coalesce(1).write.mode("overwrite").parquet(part)
    }

  /** LSH banding (b, r) operating-point sweep over ONE shared 32-perm
    * signature frame — the S-curve tuning table (Leskovec, Rajaraman,
    * Ullman, "Mining of Massive Datasets" §3.4.2) a deployment reads
    * before fixing its banding: more bands of fewer rows push the
    * collision curve left (recall ↑, candidates ↑). Three points
    * (32×1, 16×2, 8×4) report the closed-form collision probability
    * at J = 0.5 (1 − (1 − 2⁻ʳ)ᵇ, exact integers: 1000 −
    * (2ʳ−1)ᵇ·1000 div 2ʳᵇ), measured candidate volume, and measured
    * recall against the EXACT J ≥ 0.5 truth (the PPJoin pipeline,
    * proven lossless in DedupSimilaritySpec — no df-cap caveat).
    *
    * Scale: signatures computed once and persisted (the qDedupMinhash
    * discipline); each point is a band equi-join over doc×b rows plus
    * a semi-join against the truth pairs — never all-pairs. Band keys
    * with > 50 members are PRUNED from the candidate join (the df-cap
    * discipline every other dedup join carries): without it one
    * boilerplate-heavy band value goes quadratic. The dropped-key
    * count rides each row as `dropped_keys`, so the reported recall
    * stays honest about what the cap cost. */
  val qDedupLshSweep: Q = (s, dir) => {
    val sigs = graft.CacheScope.track(shingled(s, dir)
      .withColumn("th", xxhash64(col("g")))
      .groupBy(col("doc_id"))
      .agg(expr("minhash32(th)").as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    dumpSigs(s, dir, sigs)
    val truth = graft.CacheScope.track(CorpusOps21.ppjoinImpl(
        Tables(s, dir, "documents").select(col("doc_id"), col("text")),
        500, 3)
      .select(col("da"), col("db")).persist())
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val points = Seq((32, 1), (16, 2), (8, 4)).map { case (b, r) =>
      val theory = 1000L - (BigInt((1L << r) - 1).pow(b) * 1000 /
        BigInt(1L << r).pow(b)).toLong
      val bands = graft.CacheScope.track(sigs
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, ${b - 1}), bi -> slice(sig, bi * $r + 1, $r))")))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // hot-band cap: a (band, key) bucket with > 50 docs is
      // boilerplate, not near-duplication — anti-join it out before
      // the self-join (worst case bounded at 50·49/2 pairs per key)
      val hot = graft.CacheScope.track(bands
        .groupBy(col("band"), col("key")).agg(count(lit(1)).as("df"))
        .filter(col("df") > 50)
        .select(col("band"), col("key")).persist())
      val nDrop = hot.agg(count(lit(1)).as("dropped_keys"))
      val cold = bands.join(broadcast(hot), Seq("band", "key"), "left_anti")
      // ONE pass per sweep point (optimization r17): the r11 shape
      // consumed the UNPERSISTED band self-join twice (candidate count
      // + truth semi-join), doubling each point's join work. The truth
      // pair set is unique on (da, db), so a LEFT join cannot duplicate
      // a candidate row: n_candidates = count(1), hits = matched rows —
      // value-identical.
      val counts = cold.as("a").join(cold.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
        .join(truth.withColumn("tf", lit(1L)), Seq("da", "db"), "left")
        .agg(count(lit(1)).as("n_candidates"), count(col("tf")).as("hits"))
      counts.crossJoin(nTruth).crossJoin(nDrop)
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          lit(theory).as("theory_permille_at_500"),
          col("n_candidates"), col("dropped_keys"),
          col("n_truth"), col("hits"),
          expr("hits * 1000 div n_truth").as("recall_permille"))
    }
    points.reduce(_ unionByName _).orderBy(col("bands").desc)
  }

  /** Operating-point AUTOPICK over the [[qDedupLshSweep]] table — the
    * FAISS-autotune shape: a declared policy (recall floor ≥ 900
    * permille at J = 0.5; among qualifiers, smallest candidate
    * budget; bands DESC tie-break) joined against the measured sweep,
    * emitting the ONE (b, r) point a deployment should band with. If
    * no point meets the floor, the fallback maximizes recall. On this
    * fixture every point measures 1000‰ (the planted near-dups are
    * high-Jaccard), so the policy rightly picks the cheapest (8, 4);
    * the theory column records why 16×2 stays the robust default for
    * a J ≈ 0.5 regime (990‰ vs 404‰ closed-form collision odds) —
    * the autopick turns that trade into data either way.
    *
    * Scale: one bounded sort over the 3-row sweep table — the sweep
    * itself is the only distributed work. */
  val qDedupLshAutopick: Q = (s, dir) => {
    val sweep = qDedupLshSweep(s, dir)
    sweep
      .withColumn("meets_floor",
        when(col("recall_permille") >= 900, 1L).otherwise(0L))
      .orderBy(col("meets_floor").desc,
        when(col("meets_floor") === 1, col("n_candidates"))
          .otherwise(lit(1000000000L) - col("recall_permille")),
        col("bands").desc)
      .limit(1)
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS algorithm): hash every 5-token k-gram,
    * slide a w = 4 window over the hash stream, and keep the
    * LEFTMOST MINIMUM of each window as a fingerprint — the
    * position-aware local scheme that GUARANTEES any shared run of
    * ≥ w + k − 1 tokens yields a shared fingerprint (the detection
    * floor MinHash's whole-document sketch cannot promise). Pairs
    * sharing ≥ 2 fingerprints are reported with their shared count;
    * fingerprints appearing in > 50 docs are dropped (boilerplate
    * guard — same df-cap discipline as the postings band, documented
    * recall caveat for mass-boilerplate only).
    *
    * Scale: the window min runs per-doc (partitioned, never global);
    * fingerprint density is ~2/(w+1) of the gram stream, so the
    * pair join's posting lists are df-capped AND ¼ the length the
    * raw gram inverted index would carry. Hashes ride the md5
    * 60-bit bridge, exact in both engines. */
  val qDedupWinnow: Q = (s, dir) =>
    winnowPairs(Tables(s, dir, "documents")
      .select(col("doc_id"), col("text")))

  /** The winnowing pipeline behind [[qDedupWinnow]], shared with the
    * generated-data guarantee spec and the public API
    * (`Graft.winnowPairs`): docs = (doc_id, text); `k` = gram length,
    * `w` = winnowing window (guarantee threshold t = w + k − 1). */
  private[graft] def winnowPairs(
      docs: org.apache.spark.sql.DataFrame,
      k: Int = 5, w: Int = 4): org.apache.spark.sql.DataFrame = {
    val K = k; val W = w
    require(K >= 1 && W >= 1, s"k and w must be >= 1, got k=$K w=$W")
    import org.apache.spark.sql.expressions.Window
    val g = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= K)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(t) - ${K - 1}),
            i -> array_join(slice(t, i, $K), ' '))""")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        conv(substring(md5(col("col")), 1, 15), 16, 10).cast("long")
          .as("h"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val fps = g
      .withColumn("ng", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("fp", min(struct(col("h"), col("pos")))
        .over(byDoc.rowsBetween(0, W - 1)))
      .filter(col("pos") <= greatest(col("ng") - (W - 1), lit(1)))
      .select(col("doc_id"), col("fp.h").as("h"))
      .distinct()
    val fpsP = graft.CacheScope.track(fps.persist())
    val hot = fpsP.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 50)
    val cold = fpsP.join(broadcast(hot), Seq("h"), "left_anti")
    cold.as("a").join(cold.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= 2)
      .orderBy(col("da"), col("db"))
  }

  /** Unsorted SimHash fingerprint frame shared by the presentation query
    * and the pair scan. The pair scan must NOT inherit a global orderBy:
    * in r4 the inherited range-exchange + sort was computed once per join
    * side (no exchange reuse through the sort), doubling the most
    * expensive subtree for an ordering the join never needed. */
  private def fingerprints(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame =
    fingerprintsOf(Tables(s, dir, "documents")
      .select(col("doc_id"), col("text")))

  /** Frame-based SimHash fingerprint core (docs = (doc_id, text)) —
    * shared with the simhash-pair blocker and `Graft.blockingAudit`. */
  private[graft] def fingerprintsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val h = toks.select(col("doc_id"),
      conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
    val bitSums = (0 until 60).map { j =>
      sum(when(expr(s"shiftright(h, $j) & 1") === 1, 1).otherwise(-1))
        .as(s"s$j")
    }
    val fingerprint = (0 until 60)
      .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    h.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fingerprint.as("simhash"))
  }

  /** SimHash 60-bit fingerprints from md5-derived token hashes — fully
    * deterministic AND oracle-checkable cross-engine (md5 is the hash).
    * One hash-aggregate pass with 60 per-bit sum columns (map-side
    * combinable) instead of exploding 60 rows per token — the naive
    * (doc, bit) explode costs a 60x row blowup and a second shuffle. */
  val qDedupSimhash: Q = (s, dir) =>
    fingerprints(s, dir).orderBy(col("doc_id"))

  /** Hamming radius for SimHash near-dup pairs. Radius 7 with 8 blocks is
    * exact by pigeonhole: 7 differing bits cannot touch all 8 disjoint
    * blocks, so every qualifying pair shares at least one block verbatim
    * and candidate generation by block equi-join loses NOTHING vs the
    * all-pairs scan (the oracle is the plain all-pairs hamming query).
    * Manku et al. (WWW 2007) run 64-bit/radius-3/4x16-bit blocks at web
    * scale; a larger radius needs narrower blocks (coarser buckets, more
    * candidates) — the standard radius/selectivity tradeoff. Radius 7
    * covers >= 0.9 of the fixture's jacc >= 0.8 planted near-dups
    * (asserted in DedupSimilaritySpec). */
  private val SimhashRadius = 7

  /** Bit ranges of the 8 disjoint blocks over the 60-bit fingerprint:
    * 4 blocks of 8 bits then 4 of 7 (offsets precomputed). */
  private val SimhashBlocks: Seq[(Int, Int)] = // (offset, width)
    Seq((0, 8), (8, 8), (16, 8), (24, 8), (32, 7), (39, 7), (46, 7), (53, 7))

  /** SimHash near-dup pairs (hamming <= 7) via exact pigeonhole blocking:
    * each doc emits one row per block keyed by (block_id, block_bits); the
    * self equi-join on that key generates candidates (shuffle
    * O(docs x 8), never O(docs^2) — vs the all-pairs BNLJ this replaces),
    * exact hamming is verified within each block's bucket, and duplicates
    * (pairs agreeing on several blocks) collapse via distinct. */
  val qDedupSimhashPairs: Q = (s, dir) =>
    simhashPairsOf(Tables(s, dir, "documents")
      .select(col("doc_id"), col("text")))

  /** Frame-based core of [[qDedupSimhashPairs]] (docs = (doc_id,
    * text)) — shared with `Graft.blockingAudit`. Keeps the conf-gated
    * skew-salting fallback of the declared query. */
  private[graft] def simhashPairsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    val sh = fingerprintsOf(docs)
    val blockCols = SimhashBlocks.zipWithIndex.map { case ((off, width), i) =>
      expr(s"shiftright(simhash, $off) & ${(1L << width) - 1}")
        .cast("long").as(s"b$i")
    }
    val blocks = sh.select(col("doc_id") +: col("simhash") +: blockCols: _*)
      .select(col("doc_id"), col("simhash"),
        posexplode(array((0 until SimhashBlocks.size)
          .map(i => col(s"b$i")): _*)))
      .withColumnRenamed("pos", "blk")
      .withColumnRenamed("col", "bv")
    val saltBuckets = s.conf.getOption(SimhashSaltConf).map(_.toInt)
      .getOrElse(0)
    val joined = if (saltBuckets <= 1) {
      // shuffle_hash hint: both self-join sides go through IDENTICAL
      // shuffle exchanges on (blk, bv), so ReuseExchange computes the
      // fingerprint subtree ONCE regardless of size estimates —
      // unhinted, Catalyst broadcasts one side at small SF, and the
      // BroadcastExchange wrapper defeats reuse (r4: the whole
      // aggregation ran twice). At 100 TB the blocks table could never
      // broadcast anyway, and SHJ avoids the sort a merge join would
      // add per side. SHJ's per-partition hash build must fit in
      // memory, and simhash block values skew hard in near-dup-rich
      // corpora (one hot bv = one giant partition) — on such a corpus
      // set the salt conf below and the salted path takes over.
      blocks.as("a").join(blocks.as("b").hint("shuffle_hash"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
    } else {
      // Skew fallback (VERDICT r7 item 5, was comment-only): hot
      // (blk, bv) keys — df above spark.graft.simhash.hotBlockDf — get
      // salted the same way qDedupJaccard caps hot shingles: the hot
      // list is a small aggregate that broadcasts unhinted (AQE
      // degrades to a shuffled join on a pathological corpus instead
      // of OOMing the driver). Probe side A scatters each hot row into
      // one of `saltBuckets` sub-keys by doc_id hash; build side B
      // replicates hot rows across ALL sub-keys, so every qualifying
      // pair still meets on exactly one (blk, bv, salt) key — the
      // giant partition splits into `saltBuckets` bounded ones at the
      // cost of replicating only the hot slice of one side. Cold keys
      // keep salt 0 on both sides: no replication, no extra shuffle
      // width. The block table is persisted because the two sides now
      // project differently (no exchange reuse through explode).
      val hotDf = s.conf.getOption(SimhashHotDfConf).map(_.toLong)
        .getOrElse(1000L)
      val hot = blocks.groupBy(col("blk"), col("bv"))
        .agg(count(lit(1)).as("df")).filter(col("df") > hotDf)
        .select(col("blk"), col("bv"), lit(true).as("hot"))
      val marked = graft.CacheScope.track(
        blocks.join(hot, Seq("blk", "bv"), "left").persist())
      val probe = marked.withColumn("salt",
        when(col("hot").isNotNull,
          pmod(xxhash64(col("doc_id")), lit(saltBuckets.toLong)))
          .otherwise(lit(0L)))
      val build = marked.withColumn("salt",
        explode(when(col("hot").isNotNull,
          sequence(lit(0L), lit(saltBuckets.toLong - 1)))
          .otherwise(array(lit(0L)))))
      probe.as("a").join(build.as("b"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
          col("a.salt") === col("b.salt") &&
          col("a.doc_id") < col("b.doc_id"))
    }
    joined
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        bit_count(expr("a.simhash ^ b.simhash")).as("hamming"))
      .filter(col("hamming") <= SimhashRadius)
      .distinct()
      .orderBy(col("da"), col("db"))
  }

  /** >1 enables the skew-salting fallback in [[qDedupSimhashPairs]]. */
  val SimhashSaltConf = "spark.graft.simhash.saltBuckets"

  /** (blk, bv) keys with df above this are salted when salting is on. */
  val SimhashHotDfConf = "spark.graft.simhash.hotBlockDf"

  /** Incremental ingest dedup — the production shape of fuzzy dedup: a
    * small NEW batch (doc_id % 10 == 0) is checked against the EXISTING
    * corpus (the rest) without ever forming corpus-corpus pairs. The
    * batch's block table broadcasts (it's the day's ingest, not the
    * 100 TB corpus), so the corpus side streams map-side through the
    * block equi-join with ZERO shuffle of corpus rows; pigeonhole
    * blocking stays exact for cross-set pairs (same radius-7/8-block
    * argument as qDedupSimhashPairs). Oracle: all cross-set pairs by
    * brute-force hamming. */
  val qDedupIncremental: Q = (s, dir) => {
    val sh = fingerprints(s, dir)
    val blockCols = SimhashBlocks.zipWithIndex.map { case ((off, width), i) =>
      expr(s"shiftright(simhash, $off) & ${(1L << width) - 1}")
        .cast("long").as(s"b$i")
    }
    def blocks(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id") +: col("simhash") +: blockCols: _*)
      .select(col("doc_id"), col("simhash"),
        posexplode(array((0 until SimhashBlocks.size)
          .map(i => col(s"b$i")): _*)))
      .withColumnRenamed("pos", "blk")
      .withColumnRenamed("col", "bv")
    val corpus = blocks(sh.filter(col("doc_id") % 10 =!= 0))
      .select(col("doc_id").as("old_id"), col("simhash").as("old_sh"),
        col("blk"), col("bv"))
    val batch = blocks(sh.filter(col("doc_id") % 10 === 0))
      .select(col("doc_id").as("new_id"), col("simhash").as("new_sh"),
        col("blk"), col("bv"))
    corpus.join(broadcast(batch), Seq("blk", "bv"))
      .select(col("new_id"), col("old_id"),
        bit_count(expr("new_sh ^ old_sh")).as("hamming"))
      .filter(col("hamming") <= SimhashRadius)
      .distinct()
      .orderBy(col("new_id"), col("old_id"))
  }

  /** Connected components over the near-dup pair graph (the clustering
    * step of fuzzy dedup): min-label components via [[componentsOf]],
    * which solves a broadcast-sized pair graph on the driver and
    * iterates pointer-jumping shuffle rounds above that size (the
    * 100 TB shape). Oracle: DuckDB recursive-CTE reachability closure. */
  val qDedupComponents: Q = (s, dir) => {
    componentsOf(jaccardPairs(s, dir).select(col("da"), col("db")))
      .select(col("v").as("doc_id"), col("l").as("component"))
      .orderBy(col("doc_id"))
  }

  /** Min-label connected components over an undirected pair list
    * (columns `da`, `db`) — the core of [[qDedupComponents]], shared by
    * every other edge set (entity-resolution matches, similarity
    * graphs, the cc-delta contraction). Returns (v, l): vertex →
    * min-reachable label.
    *
    * `pairs` is planned once: the undirected edge set is its explode
    * into both orientations, eagerly locally checkpointed. Its stored
    * bytes (read from the driver's storage info, no job) then choose
    * the path, as a broadcast join chooses its build side: at or below
    * `spark.sql.autoBroadcastJoinThreshold` the edges are collected in
    * one action and solved by union-find on the driver; above it (or
    * for vertex types whose collected values do not compare as Spark
    * compares them) the pointer-jumping loop runs one shuffle round per
    * step, capped at 20 rounds. Both paths return the same rows under
    * the same schema, nullability included. A null endpoint is a vertex
    * that no join matches: it takes the smallest label of the
    * components it touches (null if it touches none) and joins none of
    * them. The edge blocks are released before returning. */
  private[graft] def componentsOf(
      pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // unsorted pairs: a presentation ORDER BY would tax the edge fill
    // with a range exchange + global sort the iterative join never
    // needs. repartition(da): every round's edges-side probe reuses
    // this one materialized partitioning instead of re-exchanging the
    // edge set per iteration. An EAGER localCheckpoint, not persist:
    // under AQE each round's reference to a persisted frame plans its
    // own table-cache query stage, while a checkpoint is a plain RDD
    // scan that keeps the hash partitioning; its blocks are also what
    // the size gate measures.
    // Both orientations come from ONE reference to `pairs`: a union
    // with its swap planned the whole pair pipeline (the jaccard join,
    // for q_dedup_components) twice into round 1. Same edge multiset.
    val edges = pairs
      .select(explode(array(struct(col("da"), col("db")),
        struct(col("db").as("da"), col("da").as("db")))).as("e"))
      .select(col("e.da").as("da"), col("e.db").as("db"))
      .repartition(col("da"))
      .localCheckpoint()
    val edgeRdd = graft.CacheScope.checkpointRdd(edges).get
    // Seed with round 1 directly: label(v) = min(v, min neighbor) in
    // the same single shuffle a bare verts-distinct would have cost.
    val seed = edges.groupBy(col("da"))
      .agg(min(col("db")).as("mn"))
      .select(col("da").as("v"), least(col("da"), col("mn")).as("l"))
    val spark = pairs.sparkSession
    try {
      if (driverKeyed(edges.schema("da").dataType) &&
          graft.CacheScope.storedBytes(edgeRdd) <=
            spark.sessionState.conf.autoBroadcastJoinThreshold)
        LocalFold.frame(spark,
          ccRound(edges, seed, jump = false).select(col("v"), col("l")).schema,
          unionFind(LocalFold.packSorted(edges, "da", "db")), col("v"))
      else pointerJumping(edges, seed)
    } finally edgeRdd.unpersist(blocking = false)
  }

  /** Vertex types whose collected values are equal exactly when Spark
    * groups them together (no float normalization, no byte-array
    * identity, no collation). */
  private def driverKeyed(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
          DateType | TimestampType | TimestampNTZType | StringType |
          _: DecimalType => true
      case _ => false
    }
  }

  /** Min-label components of a symmetric edge list in Spark's
    * `ORDER BY da, db` order. Every endpoint is some edge's `da`, so
    * first-seen order is Spark's vertex order; union-find with path
    * compression lets the smaller root win, so each root is its
    * component's minimum vertex. A null endpoint mirrors the loop: its
    * row carries the smallest root among its non-null neighbors. */
  private def unionFind(edges: Seq[org.apache.spark.sql.Row])
      : Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.Row
    val index = scala.collection.mutable.HashMap.empty[Any, Int]
    val vertex = scala.collection.mutable.ArrayBuffer.empty[Any]
    edges.foreach { e =>
      if (!e.isNullAt(0) && !index.contains(e.get(0))) {
        index(e.get(0)) = vertex.size
        vertex += e.get(0)
      }
    }
    val parent = Array.range(0, vertex.size)
    def find(i: Int): Int = {
      var root = i
      while (parent(root) != root) root = parent(root)
      var j = i
      while (parent(j) != root) { val up = parent(j); parent(j) = root; j = up }
      root
    }
    edges.foreach { e =>
      if (!e.isNullAt(0) && !e.isNullAt(1)) {
        val (a, b) = (find(index(e.get(0))), find(index(e.get(1))))
        if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
    }
    val nullEdges = edges.filter(_.isNullAt(0))
    val nullRow = if (nullEdges.isEmpty) Nil else Seq(Row(null,
      nullEdges.filterNot(_.isNullAt(1)).map(e => find(index(e.get(1))))
        .minOption.map(vertex).orNull))
    nullRow ++ vertex.indices.map(i => Row(vertex(i), vertex(find(i))))
  }

  /** One min-label round over (v, l) labels: each vertex takes the
    * smallest of its own label, its neighbors' labels and, with
    * `jump`, the label of its label; `moved` marks a label that fell. */
  private def ccRound(edges: org.apache.spark.sql.DataFrame,
      labels: org.apache.spark.sql.DataFrame, jump: Boolean)
      : org.apache.spark.sql.DataFrame = {
    val own = labels.select(col("v"), col("l"), lit(true).as("own"))
    val viaEdge = edges
      .join(labels.withColumnRenamed("v", "da"), "da")
      .select(col("db").as("v"), col("l"), lit(false).as("own"))
    // Pointer jumping (optimization r18, guide §1.2: rounds are the
    // serial resource): l(l(v)) via a self-join of the label frame.
    // l(v) is always the id of a vertex in v's component, so the jump
    // stays inside the component; labels only ever DECREASE, so the
    // fixed point is the component min. Distance-to-min roughly halves
    // per round on top of the one-hop extension, so rounds drop from
    // ~diameter to ~log2(diameter).
    val candidates =
      if (!jump) own.union(viaEdge)
      else own.union(viaEdge).union(
        labels.select(col("l").as("lk"), col("v"))
          .join(labels.select(col("v").as("lk"), col("l")), "lk")
          .select(col("v"), col("l"), lit(false).as("own")))
    candidates.groupBy(col("v"))
      .agg(min(col("l")).as("l"), min(when(col("own"), col("l"))).as("was"))
      .select(col("v"), col("l"), (col("l") < col("was")).as("moved"))
  }

  /** The shuffle path of [[componentsOf]]: pointer-jumping rounds from
    * `seed` until no label moves. Each round is one lazily
    * localCheckpointed frame materialized by its own convergence count,
    * so a round's plan is a constant-depth read of the previous
    * round's blocks. */
  private def pointerJumping(edges: org.apache.spark.sql.DataFrame,
      seed: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    var labels = seed
    var changed = true
    var rounds = 0
    val maxRounds = 20
    // checkpoint blocks live at the RDD level, invisible to
    // Dataset.unpersist — free each superseded round's RDD directly
    var prevCkpt: Option[org.apache.spark.rdd.RDD[_]] = None
    while (changed && rounds < maxRounds) {
      // The jump joins two CACHED sides, so it is skipped in round 1,
      // where `labels` is the unpersisted seed aggregation.
      // INVARIANT (ADVICE r17): the convergence count below MUST act
      // on `next` (a full-partition action) BEFORE prevCkpt.unpersist
      // frees round r-1's blocks — a lazy checkpoint only truncates
      // lineage once materialized, and the count materializes it in
      // the same action (no separate materialization job).
      val next = ccRound(edges, labels, jump = rounds > 0)
        .localCheckpoint(false)
      // labels only fall, so a round moved nothing iff none fell; a
      // count of falls works for every orderable vertex type (a label
      // sum would need numeric ids)
      changed = next.filter(col("moved")).count() > 0
      prevCkpt.foreach(_.unpersist(blocking = false))
      prevCkpt = graft.CacheScope.checkpointRdd(next)
      labels = next.select(col("v"), col("l"))
      rounds += 1
    }
    // the final round's checkpoint blocks stay live for the consumer;
    // tracked at the RDD level so the harness release actually frees
    // them after materialization (ADVICE r7, corrected r8)
    prevCkpt.foreach(graft.CacheScope.trackRdd)
    // A silently-truncated convergence would return WRONG labels for any
    // component of diameter > maxRounds — fail loudly instead (ADVICE r02).
    if (changed) throw new IllegalStateException(
      s"connected components did not converge within $maxRounds rounds " +
        "(a label still fell) — raise the round cap")
    labels
  }

  /** Canonical-representative selection — the step after clustering in
    * every near-dup pipeline: per duplicate cluster, keep the "best"
    * document (longest, doc_id tie-break) and report what the cluster
    * drops. Composes the components operator with a per-cluster
    * window rank — deterministic, so fully oracled.
    *
    * Scale: inherits the components loop's shape; the added work is a
    * |clustered-docs|-sized join with the doc stats and one window rank
    * partitioned by component — both tiny next to the pair graph. */
  val qDedupCanonical: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val comp = qDedupComponents(s, dir)
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val j = comp.join(docs, "doc_id")
    val w = Window.partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    j.withColumn("rn", row_number().over(w))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        min(when(col("rn") === 1, col("doc_id"))).as("canonical_id"),
        min(when(col("rn") === 1, col("n_chars"))).as("kept_chars"),
        sum(col("n_chars")).as("cluster_chars"))
      .orderBy(col("component"))
  }

  /** LSH recall confusion table — the sketch-quality report a dedup
    * pipeline review asks for before trusting MinHash at corpus scale:
    * full-outer-join the LSH candidate pairs (est_jacc >= 0.2) against
    * the exact word-3-gram Jaccard truth (j >= 0.2) and report
    * confirmed / missed-by-LSH / sketch-false-positive counts with their
    * rates (recall, miss rate, and the sketch's false-discovery rate).
    * Turns the spec-level recall bound into oracled DATA.
    *
    * Determinism: both pair sets are deterministic; rates are one IEEE
    * division + round over integer counts.
    *
    * Scale: both sides are the already-blocked pair pipelines (band
    * equi-join / df-capped inverted index — never all-pairs); the
    * full-outer join runs on the pair keys (output-sized, tiny relative
    * to the corpus) and collapses to one counter row. */
  val qDedupMinhashRecall: Q = (s, dir) => {
    val mh = qDedupMinhash(s, dir)
      .select(col("da"), col("db"), lit(1).as("m"))
    val ex = jaccardPairs(s, dir)
      .select(col("da"), col("db"), lit(1).as("e"))
    val cnt = mh.join(ex, Seq("da", "db"), "full_outer").agg(
      sum(when(col("m") === 1 && col("e") === 1, 1L).otherwise(0L))
        .as("n_both"),
      sum(when(col("m").isNull, 1L).otherwise(0L)).as("n_miss"),
      sum(when(col("e").isNull, 1L).otherwise(0L)).as("n_fp"))
    cnt.selectExpr(
      """stack(3, 'confirmed', n_both, 'missed_by_lsh', n_miss,
               'sketch_false_positive', n_fp) AS (category, n_pairs)""",
        "n_both", "n_miss", "n_fp")
      .withColumn("denom",
        when(col("category") === "sketch_false_positive",
          col("n_both") + col("n_fp"))
          .otherwise(col("n_both") + col("n_miss")))
      .select(col("category"), col("n_pairs"),
        round(col("n_pairs").cast("double") /
          greatest(col("denom"), lit(1L)).cast("double"), 4).as("rate"))
      .orderBy(col("category"))
  }

  /** Leakage-safe train/val/test split — the assignment step every LLM
    * data pipeline runs after near-dup clustering: hash-split by CLUSTER
    * (the component label), not by document, so two near-duplicates can
    * never land on opposite sides of a train/eval boundary (the classic
    * contamination-by-split bug). Singleton docs form their own cluster.
    * Reports per split: docs, clusters, and docs that belong to multi-doc
    * clusters (the rows a naive per-doc hash could have leaked).
    *
    * Split hash reuses the overflow-safe multiplicative contract of
    * q_sample_stratified (label reduced mod 1e9+7 before the multiply);
    * 8/1/1 train/val/test.
    *
    * Scale: inherits the components loop; the added work is one
    * |docs|-sized left join against the (much smaller) clustered-doc map
    * and a 3-group aggregate — both partial-aggregable. */
  val qSplitLeakageSafe: Q = (s, dir) => {
    val comp = qDedupComponents(s, dir)
    val docs = Tables(s, dir, "documents").select(col("doc_id"))
    val grouped = docs.join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("grp"))
    val sizes = grouped.groupBy(col("grp")).agg(count(lit(1)).as("sz"))
    grouped
      .withColumn("h", expr("(grp % 1000000007) * 2654435761 % 10"))
      .withColumn("split",
        when(col("h") < 8, "train").when(col("h") === 8, "val")
          .otherwise("test"))
      .join(sizes, Seq("grp"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("grp")).as("n_clusters"),
        sum(when(col("sz") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .orderBy(col("split"))
  }

  val queries: Map[String, Q] = Map(
    "q_dedup_components" -> qDedupComponents,
    "q_dedup_canonical" -> qDedupCanonical,
    "q_split_leakage_safe" -> qSplitLeakageSafe,
    "q_dedup_minhash_recall" -> qDedupMinhashRecall,
    "q_dedup_exact" -> qDedupExact,
    "q_dedup_jaccard" -> qDedupJaccard,
    "q_dedup_minhash" -> qDedupMinhash,
    "q_dedup_minhash_tuned" -> qDedupMinhashTuned,
    "q_dedup_lsh_sweep" -> qDedupLshSweep,
    "q_dedup_lsh_autopick" -> qDedupLshAutopick,
    "q_dedup_winnow" -> qDedupWinnow,
    "q_dedup_simhash" -> qDedupSimhash,
    "q_dedup_simhash_pairs" -> qDedupSimhashPairs,
    "q_dedup_incremental" -> qDedupIncremental)

  /** Shared oracle prefix: the near-dup pair graph + recursive
    * reachability closure (consumed by the components and canonical
    * oracles — `reach` holds (v, every label reachable from v)). */
  private[ops] val componentsCte = """
      WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents),
      sh0 AS (SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
             FROM (SELECT *, unnest(range(1, len(t) - 1)) AS i FROM toks)),
      keep AS (SELECT g FROM sh0 GROUP BY g HAVING count(*) <= 100),
      sh AS (SELECT sh0.doc_id, sh0.g FROM sh0 JOIN keep USING (g)),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
                FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      pairs AS (SELECT da, db FROM inter
                JOIN sizes sa ON da = sa.doc_id
                JOIN sizes sb ON db = sb.doc_id
                WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE)
                      >= 0.2),
      edges AS (SELECT da AS src, db AS dst FROM pairs
                UNION SELECT db, da FROM pairs),
      verts AS (SELECT DISTINCT src AS v FROM edges),
      reach AS (SELECT v, v AS l FROM verts
                UNION
                SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v)"""

  /** Exact word-3-gram Jaccard pair SQL (the [[qDedupJaccard]] oracle),
    * also embedded by the recall-table oracle as a CTE body. */
  /** The integer pair stream (da, db, i, na, nb) — DuckDB twin of
    * [[jaccardPairStream]], shared by the q_dedup_jaccard oracle and
    * the r15 threshold-sweep oracle (CorpusOps48). */
  private[ops] val jaccardStreamSql = """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents),
      sh0 AS (SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
             FROM (SELECT *, unnest(range(1, len(t) - 1)) AS i FROM toks)),
      keep AS (SELECT g FROM sh0 GROUP BY g HAVING count(*) <= 100),
      sh AS (SELECT sh0.doc_id, sh0.g FROM sh0 JOIN keep USING (g)),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
                FROM sh a JOIN sh b
                  ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT da, db, i, sa.n AS na, sb.n AS nb
      FROM inter
      JOIN sizes sa ON da = sa.doc_id
      JOIN sizes sb ON db = sb.doc_id"""

  private val jaccardOracleSql = s"""
      WITH ps AS ($jaccardStreamSql)
      SELECT da, db,
        CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) AS jacc
      FROM ps
      WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= 0.2
      ORDER BY da, db"""

  /** DuckDB twin of [[qDedupWinnow]] — shared by its own oracle entry
    * and the r15 blocking-audit oracle (CorpusOps48). */
  private[ops] val winnowOracleSql: String = """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents WHERE len(string_split(text, ' ')) >= 5),
      g AS (SELECT doc_id, i AS pos,
              CAST('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' ||
                t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]), 1, 15)
                AS BIGINT) AS h
            FROM (SELECT *, unnest(range(1, len(t) - 3)) AS i FROM toks)),
      ng AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      ws AS (SELECT g.doc_id, g.pos AS w0 FROM g JOIN ng USING (doc_id)
             WHERE g.pos <= greatest(ng.n - 3, 1)),
      wmin AS (SELECT ws.doc_id, ws.w0, min(g.h) AS mh
               FROM ws JOIN g ON g.doc_id = ws.doc_id
                 AND g.pos BETWEEN ws.w0 AND ws.w0 + 3
               GROUP BY 1, 2),
      fps AS (SELECT DISTINCT doc_id, mh AS h FROM wmin),
      cold AS (SELECT doc_id, h FROM fps WHERE h IN
                 (SELECT h FROM fps GROUP BY h HAVING count(*) <= 50))
      SELECT a.doc_id AS da, b.doc_id AS db,
        CAST(count(*) AS BIGINT) AS shared_fp
      FROM cold a JOIN cold b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
      ORDER BY da, db"""

  private val simhashSql = """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                   FROM documents),
      h AS (SELECT doc_id,
              CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
            FROM tok),
      b AS (SELECT doc_id, j,
              sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
            FROM h, range(0, 60) r(j) GROUP BY doc_id, j)
      SELECT doc_id,
        CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                      ELSE 0 END) AS BIGINT) AS simhash
      FROM b GROUP BY doc_id"""

  /** DuckDB twin of [[qDedupSimhashPairs]] — shared by its own oracle
    * entry and the r15 blocking-audit oracle (CorpusOps48). */
  private[ops] val simhashPairsOracleSql: String = s"""
      WITH sh AS ($simhashSql)
      SELECT a.doc_id AS da, b.doc_id AS db,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 7
      ORDER BY da, db"""

  // replay oracle: reads the signature arrays the query itself dumped
  // (see MinhashSigDump) and re-derives band candidacy + agreement —
  // a value check over everything downstream of the engine-specific
  // permutations. bi in 0..15 selects band rows (2i+1, 2i+2) of the
  // 1-indexed 32-slot signature, mirroring the Spark banding exactly.
  // A def (reads MinhashSigDump); also embedded as a CTE body by the
  // recall-table oracle.
  /** The dumped-signature scan shared by every minhash replay oracle
    * (fingerprint-partitioned — see [[MinhashSigDump]]). */
  private[ops] def sigDumpSql: String = s"""
      SELECT doc_id, sig
      FROM read_parquet('$MinhashSigDump/*/*.parquet',
                        hive_partitioning = true)
      WHERE k = (SELECT bit_xor(CAST('0x' ||
          substr(md5(text), 1, 15) AS BIGINT))
        FROM documents)"""

  /** "some band of the (b, r) banding agrees" over two dumped
    * signature lists aliased a/b. */
  private def bandMatchSql(b: Int, r: Int): String = {
    val eqs = (1 to r)
      .map(j => s"a.sig[bi * $r + $j] = b.sig[bi * $r + $j]")
      .mkString(" AND ")
    s"len(list_filter(range(0, $b), bi -> $eqs)) > 0"
  }

  private[ops] def minhashOracleSql: String = s"""
      WITH s AS ($sigDumpSql),
      c AS (
        SELECT a.doc_id AS da, b.doc_id AS db,
          CAST(list_sum(list_transform(range(1, 33),
            i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
            AS DOUBLE) / 32.0 AS est_jacc,
          ${bandMatchSql(16, 2)} AS hit
        FROM s a JOIN s b ON a.doc_id < b.doc_id)
      SELECT da, db, est_jacc FROM c
      WHERE hit AND est_jacc >= 0.2
      ORDER BY da, db"""

  /** Tuned-deployment replay: recompute the policy pick from the
    * sweep replay, then band-check the dumped signatures at the
    * CHOSEN point (CASE over the three sweep configurations). */
  private def minhashTunedOracleSql: String = s"""
      WITH s AS ($sigDumpSql),
      pick AS (
        SELECT bands FROM ($lshSweepSql) sweep
        ORDER BY
          CASE WHEN recall_permille >= 900 THEN 1 ELSE 0 END DESC,
          CASE WHEN recall_permille >= 900 THEN n_candidates
               ELSE 1000000000 - recall_permille END,
          bands DESC
        LIMIT 1),
      c AS (
        SELECT a.doc_id AS da, b.doc_id AS db,
          CAST(list_sum(list_transform(range(1, 33),
            i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
            AS DOUBLE) / 32.0 AS est_jacc,
          CASE WHEN (SELECT bands FROM pick) = 32
                 THEN ${bandMatchSql(32, 1)}
               WHEN (SELECT bands FROM pick) = 16
                 THEN ${bandMatchSql(16, 2)}
               ELSE ${bandMatchSql(8, 4)} END AS hit
        FROM s a JOIN s b ON a.doc_id < b.doc_id)
      SELECT da, db, est_jacc FROM c
      WHERE hit AND est_jacc >= 0.2
      ORDER BY da, db"""

  private def lshTheory(b: Int, r: Int): Long =
    1000L - (BigInt((1L << r) - 1).pow(b) * 1000 /
      BigInt(1L << r).pow(b)).toLong

  /** Per-(b, r) candidate CTE + stats row for the sweep oracle. */
  private def lshSweepSql: String = {
    val cfgs = Seq((32, 1), (16, 2), (8, 4))
    val cands = cfgs.map { case (b, r) => s"""
      bk_${b}_$r AS (SELECT doc_id, bi,
          list_transform(range(1, ${r + 1}), kk -> sig[bi * $r + kk])
            AS key
        FROM s, range(0, $b) t(bi)),
      hot_${b}_$r AS (SELECT bi, key FROM bk_${b}_$r
        GROUP BY 1, 2 HAVING count(*) > 50),
      cold_${b}_$r AS (SELECT bk.doc_id, bk.bi, bk.key
        FROM bk_${b}_$r bk ANTI JOIN hot_${b}_$r h
          ON bk.bi = h.bi AND bk.key = h.key),
      c_${b}_$r AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM cold_${b}_$r a JOIN cold_${b}_$r b
          ON a.bi = b.bi AND a.key = b.key AND a.doc_id < b.doc_id)"""
    }.mkString(",")
    val rows = cfgs.map { case (b, r) => s"""
      SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT)
          AS rows_per_band,
        CAST(${lshTheory(b, r)} AS BIGINT) AS theory_permille_at_500,
        (SELECT CAST(count(*) AS BIGINT) FROM c_${b}_$r) AS n_candidates,
        (SELECT CAST(count(*) AS BIGINT) FROM hot_${b}_$r)
          AS dropped_keys,
        (SELECT n_truth FROM nt) AS n_truth,
        (SELECT CAST(count(*) AS BIGINT)
         FROM c_${b}_$r JOIN truth USING (da, db)) AS hits""" }
      .mkString(" UNION ALL ")
    s"""
      WITH s AS (SELECT doc_id, sig
                 FROM read_parquet('$MinhashSigDump/*/*.parquet',
                                   hive_partitioning = true)
                 WHERE k = (SELECT bit_xor(CAST('0x' ||
                     substr(md5(text), 1, 15) AS BIGINT))
                   FROM documents)),
      toks AS (SELECT doc_id, string_split(text, ' ') AS t
               FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
             FROM (SELECT *, unnest(range(1, len(t) - 1)) AS i
                   FROM toks)),
      sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                FROM sh GROUP BY 1),
      inter AS (SELECT a.doc_id AS da, b.doc_id AS db,
                  CAST(count(*) AS BIGINT) AS i
                FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      truth AS (SELECT da, db FROM inter
                JOIN sizes sa ON da = sa.doc_id
                JOIN sizes sb ON db = sb.doc_id
                WHERE i * 1000 // (sa.n + sb.n - i) >= 500),
      nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
      $cands
      SELECT bands, rows_per_band, theory_permille_at_500, n_candidates,
        dropped_keys, n_truth, hits,
        hits * 1000 // n_truth AS recall_permille
      FROM ($rows) ORDER BY bands DESC"""
  }

  def oracle: Map[String, String] = Map(
    "q_dedup_minhash" -> minhashOracleSql,
    "q_dedup_minhash_tuned" -> minhashTunedOracleSql,
    "q_dedup_lsh_sweep" -> lshSweepSql,
    "q_dedup_lsh_autopick" -> s"""
      SELECT bands, rows_per_band, theory_permille_at_500, n_candidates,
        dropped_keys, n_truth, hits, recall_permille,
        CAST(CASE WHEN recall_permille >= 900 THEN 1 ELSE 0 END
          AS BIGINT) AS meets_floor
      FROM ($lshSweepSql) sweep
      ORDER BY meets_floor DESC,
        CASE WHEN recall_permille >= 900 THEN n_candidates
             ELSE 1000000000 - recall_permille END,
        bands DESC
      LIMIT 1""",
    "q_dedup_winnow" -> winnowOracleSql,
    // sketch-quality confusion table: both sides reuse the exact oracle
    // texts above/below as nested-WITH CTE bodies, so the recall numbers
    // are derived from the SAME pair definitions the pair queries verify
    "q_dedup_minhash_recall" -> s"""
      WITH mh AS ($minhashOracleSql),
      ex AS ($jaccardOracleSql),
      j AS (SELECT (mh.da IS NOT NULL) AS m, (ex.da IS NOT NULL) AS e
            FROM mh FULL JOIN ex ON mh.da = ex.da AND mh.db = ex.db),
      cnt AS (SELECT
          CAST(sum(CASE WHEN m AND e THEN 1 ELSE 0 END) AS BIGINT)
            AS n_both,
          CAST(sum(CASE WHEN NOT m THEN 1 ELSE 0 END) AS BIGINT)
            AS n_miss,
          CAST(sum(CASE WHEN NOT e THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
        FROM j),
      r AS (
        SELECT 'confirmed' AS category, n_both AS n_pairs,
               n_both + n_miss AS denom FROM cnt
        UNION ALL SELECT 'missed_by_lsh', n_miss, n_both + n_miss FROM cnt
        UNION ALL SELECT 'sketch_false_positive', n_fp, n_both + n_fp
        FROM cnt)
      SELECT category, n_pairs,
        round(CAST(n_pairs AS DOUBLE)
          / CAST(greatest(denom, 1) AS DOUBLE), 4) AS rate
      FROM r ORDER BY category""",
    "q_dedup_components" -> (componentsCte + """
      SELECT v AS doc_id, min(l) AS component
      FROM reach GROUP BY v ORDER BY doc_id"""),
    "q_split_leakage_safe" -> (componentsCte + """,
      comp AS (SELECT v AS doc_id, min(l) AS component
               FROM reach GROUP BY v),
      grouped AS (SELECT d.doc_id,
                    coalesce(comp.component, d.doc_id) AS grp
                  FROM documents d LEFT JOIN comp USING (doc_id)),
      gsizes AS (SELECT grp, count(*) AS sz FROM grouped GROUP BY grp),
      assigned AS (SELECT g.doc_id, g.grp, s.sz,
                     CASE WHEN (g.grp % 1000000007) * 2654435761 % 10 < 8
                            THEN 'train'
                          WHEN (g.grp % 1000000007) * 2654435761 % 10 = 8
                            THEN 'val'
                          ELSE 'test' END AS split
                   FROM grouped g JOIN gsizes s USING (grp))
      SELECT split, count(*) AS n_docs,
        CAST(count(DISTINCT grp) AS BIGINT) AS n_clusters,
        CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_docs
      FROM assigned GROUP BY split ORDER BY split"""),
    "q_dedup_canonical" -> (componentsCte + """,
      comp AS (SELECT v AS doc_id, min(l) AS component
               FROM reach GROUP BY v),
      jn AS (SELECT comp.doc_id, comp.component, d.n_chars,
               row_number() OVER (PARTITION BY comp.component
                 ORDER BY d.n_chars DESC, comp.doc_id) AS rn
             FROM comp JOIN documents d ON comp.doc_id = d.doc_id)
      SELECT component, count(*) AS n_docs,
        min(CASE WHEN rn = 1 THEN doc_id END) AS canonical_id,
        CAST(min(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
          AS kept_chars,
        CAST(sum(n_chars) AS BIGINT) AS cluster_chars
      FROM jn GROUP BY component ORDER BY component"""),
    "q_dedup_exact" -> """
      SELECT min(doc_id) AS canonical_id, md5(text) AS fp,
             count(*) AS copies
      FROM documents GROUP BY md5(text) ORDER BY canonical_id""",
    "q_dedup_jaccard" -> jaccardOracleSql,
    "q_dedup_simhash" -> (simhashSql + " ORDER BY doc_id"),
    "q_dedup_simhash_pairs" -> simhashPairsOracleSql,
    "q_dedup_incremental" -> s"""
      WITH sh AS ($simhashSql)
      SELECT n.doc_id AS new_id, o.doc_id AS old_id,
        CAST(bit_count(xor(n.simhash, o.simhash)) AS INT) AS hamming
      FROM sh n JOIN sh o
        ON n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0
      WHERE bit_count(xor(n.simhash, o.simhash)) <= 7
      ORDER BY new_id, old_id""")
}
