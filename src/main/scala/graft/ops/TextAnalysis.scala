package graft.ops

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.Tables

/** Text-analysis operators for a training-data pipeline (north star /
  * SURVEY.md §2.M): stopword-profile language ID, quality scoring,
  * token counting (whitespace + BPE-ish regex), and normalized-content
  * fingerprinting for fuzzy-dedup clustering.
  *
  * Everything is built from codegen'd builtins (split / filter HOF /
  * regexp counts) — per-document, embarrassingly parallel, no shuffle
  * until the final aggregate, so it scales linearly with input splits.
  */
object TextAnalysis {

  private[graft] val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "fr" -> Seq("le", "la", "et", "de", "les", "un"),
    "de" -> Seq("der", "die", "und", "das", "ein", "ist"),
    "es" -> Seq("el", "los", "y", "que", "en", "un"))

  private def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, x => x.isInCollection(words)))

  /** Stopword-profile language ID + agreement with the labeled lang. */
  val qTextLangId: Q = (s, dir) => {
    val toks = split(col("text"), " ")
    val scored = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        hits(toks, stopwords("en")).as("s_en"),
        hits(toks, stopwords("fr")).as("s_fr"),
        hits(toks, stopwords("de")).as("s_de"),
        hits(toks, stopwords("es")).as("s_es"))
    scored.select(col("doc_id"), col("lang"),
        col("s_en"), col("s_fr"), col("s_de"), col("s_es"),
        when(greatest(col("s_en"), col("s_fr"), col("s_de"), col("s_es")) === 0,
          "und")
          .when(col("s_en") >= greatest(col("s_fr"), col("s_de"), col("s_es")),
            "en")
          .when(col("s_fr") >= greatest(col("s_de"), col("s_es")), "fr")
          .when(col("s_de") >= col("s_es"), "de")
          .otherwise("es").as("predicted"))
      .withColumn("agrees", col("predicted") === col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: length / punctuation / digit / stopword / unique-
    * token ratios combined into one score. */
  val qTextQuality: Q = (s, dir) => {
    val toks = split(col("text"), " ")
    val n = length(col("text"))
    val punct = n - length(regexp_replace(col("text"), "[.,!?;:]", ""))
    val digits = n - length(regexp_replace(col("text"), "[0-9]", ""))
    val nTok = size(toks)
    val sw = hits(toks, stopwords("en"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), n.as("n_chars_m"), nTok.as("n_toks"),
        (punct.cast("double") / n.cast("double")).as("punct_ratio"),
        (digits.cast("double") / n.cast("double")).as("digit_ratio"),
        (sw.cast("double") / nTok.cast("double")).as("stop_ratio"),
        (size(array_distinct(toks)).cast("double") / nTok.cast("double"))
          .as("uniq_ratio"))
      .withColumn("quality",
        col("uniq_ratio") * 0.5 + col("stop_ratio") * 0.3 +
          (lit(1.0) - col("punct_ratio")) * 0.1 +
          (lit(1.0) - col("digit_ratio")) * 0.1)
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens vs a BPE-ish word/punct regex. */
  val qTextTokens: Q = (s, dir) => {
    val toks = split(col("text"), " ")
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        size(toks).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0)))
          .as("bpe_ish_tokens"),
        size(array_distinct(toks)).as("uniq_tokens"),
        (length(col("text")).cast("double") / size(toks).cast("double"))
          .as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer-fertility rollup per language: BPE-ish regex tokens per
    * whitespace word and chars per token, in exact permille — the
    * "how many tokens does this language cost" audit that sizes a
    * multilingual training mix (fertility in the SentencePiece /
    * tokenizer-efficiency sense). Per-doc token counts already exist
    * ([[qTextTokens]]); this is the corpus-planning aggregate.
    *
    * Scale: map-side per-doc counts, one partial-aggregated shuffle
    * to |languages| rows. */
  val qTokFertility: Q = (s, dir) => {
    Tables(s, dir, "documents")
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("ws"),
        size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0)))
          .cast("long").as("re"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
        sum(col("re")).as("re_tokens"), sum(col("n_chars")).as("chars"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"),
        col("re_tokens"), col("chars"),
        expr("re_tokens * 1000 div ws_tokens").as("fertility_permille"),
        expr("chars * 1000 div re_tokens").as("chars_per_token_permille"))
      .orderBy(col("lang"))
  }

  /** Content fingerprint: md5 of the sorted distinct lowercase token set
    * (the classic "fingerprint clustering" normalizer). */
  val qTextFingerprint: Q = (s, dir) => {
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        md5(array_join(
          sort_array(array_distinct(split(lower(col("text")), " "))), " "))
          .as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_docs"))
      .select(col("canonical_id"), col("fp"), col("n_docs"))
      .orderBy(col("canonical_id"))
  }

  /** TF-IDF-style term weighting (Spärck Jones, "A statistical
    * interpretation of term specificity", J. Doc. 1972), top-5 terms per
    * document. The damping
    * is an EXACT integer ratio weight = tf * 1e6 div df instead of
    * tf * ln(N/df): Java Math.log and DuckDB's libm ln disagree by 1 ulp
    * on 44 of 500 possible (N/df) inputs (measured r03), so a log-based
    * weight cannot hash-match cross-engine; the ratio preserves the
    * ranking tf/df induces for fixed N and keeps every value exact.
    * Scale shape: two hash aggregations (term frequency, document
    * frequency) + a broadcast-sized df join + per-doc top-k window. */
  val qTextTfidf: Q = (s, dir) => {
    val tok = Tables(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tok.distinct().groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("weight").desc, col("term"))
    tf.join(broadcast(df), "term")
      .withColumn("weight", expr("tf * 1000000L div df"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("weight"), col("rnk"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Corpus-wide top-k n-gram frequency — the Hive `ngrams()` UDAF
    * surface [hive: ql/.../udf/generic/GenericUDAFnGrams.java] done
    * EXACTLY: Hive's UDAF estimates per-mapper with bounded heaps
    * because MR lacked cheap two-stage top-k; on Spark the same result
    * is a partial-aggregable count + TakeOrderedAndProject, exact at
    * any corpus size with one shuffle of distinct grams. */
  val qFnNgrams: Q = (s, dir) => {
    Tables(s, dir, "documents")
      .select(split(col("text"), " ").as("a"))
      .filter(size(col("a")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(a) - 1),
           i -> concat_ws(' ', element_at(a, i), element_at(a, i + 1)))"""))
        .as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("ngram"))
      .limit(10)
      .orderBy(col("ngram"))
  }

  /** Hive `context_ngrams()` analogue: top-k successors of a fixed
    * context token ("data", null) — same exact two-stage top-k shape. */
  val qFnContextNgrams: Q = (s, dir) => {
    Tables(s, dir, "documents")
      .select(split(col("text"), " ").as("a"))
      .filter(size(col("a")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(a) - 1),
           i -> struct(element_at(a, i) AS w1,
                       element_at(a, i + 1) AS w2))""")).as("p"))
      .filter(col("p.w1") === "data")
      .groupBy(col("p.w2").as("next_tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("next_tok"))
      .limit(10)
      .orderBy(col("next_tok"))
  }

  /** BPE merge-candidate statistics (Sennrich et al. 2016, the
    * tokenizer-training inner loop): weighted counts of adjacent
    * symbol pairs — characters plus the end-of-word marker — reporting
    * the top-20 merge candidates.
    *
    * Scale: the corpus collapses to the word-frequency DICTIONARY
    * first (one partial-aggregated scan to |V| rows), and the pair
    * fan-out runs over the dictionary weighted by frequency — the
    * standard BPE trick. A 100 TB corpus still reduces to a few
    * million dictionary rows, so every merge iteration after the
    * first scan is dictionary-sized, not corpus-sized. */
  /** Word-frequency dictionary with each word's BPE symbolization:
    * space-separated characters plus the `</w>` end-of-word marker. */
  private def symbolizedDict(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    symbolizedDocs(Tables(s, dir, "documents").select(col("text")))

  /** Frame-based symbolization core (a `text` column of
    * space-separated tokens) — shared by the declared BPE queries and
    * `Graft.bpeTrain`. */
  private[graft] def symbolizedDocs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("sym",
        concat(regexp_replace(col("word"), "(.)", "$1 "), lit("</w>")))

  /** Boundary-ANCHORED BPE merge application (ADVICE r14): a plain
    * substring `replace(sym, "X Y", "XY")` matches ACROSS symbol
    * boundaries once multi-char symbols exist (round 2+) — pair
    * "h e" fires inside "th e", minting a symbol ("the") no merge
    * ever created, deviating from Sennrich's algorithm. Regex
    * lookaround can't anchor it cross-engine (DuckDB's RE2 has no
    * lookbehind), so the anchor is structural: double every
    * separator space and pad the ends, so each symbol owns a
    * non-shared boundary space on each side; the pattern
    * `" X  Y "` then matches ONLY whole adjacent symbols, and the
    * replacement `" XY "` restores the doubled invariant for
    * neighbouring matches (left-to-right non-overlap = BPE's greedy
    * merge order, so "a a a" → "aa a" exactly). Collapse + trim
    * returns the canonical single-space form. `replace`/`trim`
    * semantics are identical in Spark and DuckDB, so the oracle
    * mirrors this verbatim (see [[anchoredMergeSql]]). */
  private[graft] def anchoredMerge(sym: Column, mg: Column): Column =
    trim(replace(
      replace(
        concat(lit(" "), replace(sym, lit(" "), lit("  ")), lit(" ")),
        concat(lit(" "), replace(mg, lit(" "), lit("  ")), lit(" ")),
        concat(lit(" "), replace(mg, lit(" "), lit("")), lit(" "))),
      lit("  "), lit(" ")))

  /** DuckDB mirror of [[anchoredMerge]]: `sym` / `mg` are SQL
    * fragments (a column or a scalar subquery). */
  private[graft] def anchoredMergeSql(sym: String, mg: String): String =
    s"""trim(replace(replace(' ' || replace($sym, ' ', '  ') || ' ',
        ' ' || replace($mg, ' ', '  ') || ' ',
        ' ' || replace($mg, ' ', '') || ' '), '  ', ' '))"""

  /** Frequency-weighted adjacent-symbol pair counts over a `(freq,
    * sym)` frame — the statistics both BPE queries share. A
    * single-symbol word (`a</w>` after a merge, or the empty word's
    * `</w>`) has no adjacent pair and contributes nothing. */
  private[graft] def pairCounts(df: org.apache.spark.sql.DataFrame) = df
    // bind the split ONCE per row in a projection below the Generate
    // (optimization r18, guide §4 per-task work): higher-order-function
    // lambdas evaluate outside whole-stage codegen's subexpression
    // elimination, so the old in-lambda `split(sym, ' ')` re-split the
    // word for EVERY pair position — O(len²) char work per word per
    // trainer round. The Generate's child projection computes the
    // array once; values are identical.
    .select(col("freq"), split(col("sym"), " ").as("syms"))
    // sequence(1, 0) is [1, 0], whose element_at(syms, 0) throws
    .filter(size(col("syms")) > 1)
    .select(col("freq"), explode(expr(
      """transform(sequence(1, size(syms) - 1),
         i -> concat(element_at(syms, i), ' ',
                     element_at(syms, i + 1)))"""))
      .as("pair"))
    .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))

  val qBpePairCount: Q = (s, dir) =>
    pairCounts(symbolizedDict(s, dir))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)
      .orderBy(col("pair"))

  /** One full BPE merge iteration (the loop body of tokenizer
    * training): symbolize the dictionary (chars + `</w>`), pick the
    * best-scoring adjacent pair, apply the merge to every word's
    * symbol string (boundary-anchored left-to-right `replace` — see
    * [[anchoredMerge]] — identical in both engines), and recount —
    * emitting the applied merge with
    * the post-merge top-20 pair table. Iterating this step IS BPE
    * training; `q_bpe_pair_count` is its cold-start statistics pass.
    *
    * Scale: everything after the first corpus scan is dictionary-sized
    * — the best pair is a 1-row broadcast, the merge is a map-side
    * string rewrite over |V| rows, and the recount fans out |V|·len.
    * 100 TB of text never re-enters the loop. */
  val qBpeMergeStep: Q = (s, dir) => {
    val dict = symbolizedDict(s, dir)
    val best = pairCounts(dict)
      .orderBy(col("cnt").desc, col("pair")).limit(1)
      .select(col("pair").as("merge"))
    val merged = dict.crossJoin(broadcast(best))
      .withColumn("sym", anchoredMerge(col("sym"), col("merge")))
    pairCounts(merged.select(col("freq"), col("sym"), col("merge")))
      .crossJoin(broadcast(best))
      .orderBy(col("cnt").desc, col("pair")).limit(20)
      .select(col("merge"), col("pair"), col("cnt"))
      .orderBy(col("pair"))
  }

  /** Full BPE tokenizer TRAINING loop (Sennrich, Haddow, Birch, ACL
    * 2016) — the composition q_bpe_merge_step is one iteration of:
    * 6 rounds of pick-best-pair → apply-merge over the weighted
    * word-frequency dictionary, emitting the learned merge table
    * (round, merge, cnt-at-pick) — the artifact a tokenizer ships.
    *
    * Scale: the corpus collapses to the |V|-row dictionary in ONE
    * scan; the rounds then run in [[trainMerges]] on the driver,
    * which holds the |V| `(freq, sym)` rows. 100 TB of text never
    * re-enters the loop. */
  val qBpeTrain: Q = (s, dir) => bpeMerges(symbolizedDict(s, dir), 6)

  /** The training loop behind [[qBpeTrain]] and `Graft.bpeTrain`:
    * `k` rounds over a symbolized (freq, sym) dictionary, each picking
    * the highest-count pair; the k-row table is a [[LocalFold.frame]]. */
  private[graft] def bpeMerges(dict0: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    LocalFold.frame(dict0.sparkSession,
      StructType.fromDDL("round BIGINT NOT NULL, merge STRING, cnt BIGINT NOT NULL"),
      trainMerges(dict0, k, "bpeMerges")(_.best((_, cnt) => cnt))(_._1)
        .zipWithIndex.map { case ((mg, cnt), i) => Row(i + 1L, mg, cnt) },
      col("round"))

  /** The merge-training loop of BPE ([[bpeMerges]]) and WordPiece
    * (`CorpusOps59.wordpieceMerges`), which differ only in `pick`.
    * The `(freq, sym)` dictionary is collected ONCE — the driver holds
    * its |V| rows, and `spark.driver.maxResultSize` fails loudly past
    * that — and the `k` rounds run here with the semantics of the
    * per-round Spark formulation ([[pairCounts]], an
    * `orderBy(score.desc, col("pair")).limit(1)` pick, and
    * [[anchoredMerge]] over every row): one Spark job in all, instead
    * of a collect of several jobs plus a persisted dictionary copy per
    * round. `pair` names the merge a picked row applies. A dictionary
    * with no adjacent pair left fails the round loudly. */
  private[graft] def trainMerges[R](dict0: org.apache.spark.sql.DataFrame,
      k: Int, who: String)(pick: MergeStats => Option[R])(
      pair: R => String): Seq[R] = {
    // a null sym splits to null in Spark: no pairs, no symbols, and it
    // stays null through every merge
    val rows = dict0.select(col("freq"), col("sym"))
      .filter(col("sym").isNotNull).collect()
    val freqs = rows.map(_.getLong(0))
    val syms = rows.map(_.getString(1))
    (1 to k).map { _ =>
      val picked = pick(new MergeStats(freqs, syms))
      require(picked.nonEmpty, s"$who: no symbol pairs to merge — " +
        "empty or single-char dictionary (is the training corpus empty?)")
      val merge = anchoredMergeOf(pair(picked.get))
      syms.indices.foreach(i => syms(i) = merge(syms(i)))
      picked.get
    }
  }

  /** One round's statistics over the current dictionary, as the Spark
    * formulation computes them: `split(sym, " ")` (Java's split with
    * limit -1, trailing empties kept), frequency-weighted sums that
    * fail on int64 overflow like ANSI `sum`, and no pairs from a
    * single-symbol word. */
  private[graft] final class MergeStats(freqs: Array[Long],
      syms: Array[String]) {
    private def weighted(keys: Array[String] => Iterator[String]) = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      syms.indices.foreach { w =>
        keys(syms(w).split(" ", -1)).foreach(key =>
          m(key) = Math.addExact(m.getOrElse(key, 0L), freqs(w)))
      }
      m
    }
    /** Adjacent-pair counts, keyed `"l r"` ([[pairCounts]]). */
    val pairs: scala.collection.Map[String, Long] = weighted(a =>
      Iterator.range(1, a.length).map(i => a(i - 1) + " " + a(i)))
    /** Symbol counts (WordPiece's denominators), built on first use. */
    lazy val symbols: scala.collection.Map[String, Long] =
      weighted(_.iterator)

    /** The pair with the greatest `key(pair, cnt)`, ties broken by the
      * smaller pair in UTF-8 byte order — Spark's string order, which
      * is not `String.compareTo`'s UTF-16 order once a supplementary
      * character meets a U+E000–U+FFFF one. */
    def best[K](key: (String, Long) => K)(implicit ord: Ordering[K])
        : Option[(String, Long)] = {
      val smallerFirst: Ordering[UTF8String] = (a, b) => b.compareTo(a)
      pairs.maxByOption { case (p, c) => (key(p, c), UTF8String.fromString(p)) }(
        Ordering.Tuple2(ord, smallerFirst))
    }
  }

  /** Spark's double order (`SQLOrderingUtil.compareDoubles`: NaN
    * greatest, -0.0 == 0.0), for [[MergeStats.best]] on a double key. */
  private[graft] val sparkDoubleOrder: Ordering[Double] =
    (a: Double, b: Double) => SQLOrderingUtil.compareDoubles(a, b)

  /** [[anchoredMerge]] of the literal merge `mg` as a driver-side
    * function with Spark's semantics: `String.replace` is Spark's
    * left-to-right non-overlapping `replace` for these non-empty
    * patterns, and Spark's `trim` strips only spaces (`String.trim`
    * would also strip control characters). */
  private[graft] def anchoredMergeOf(mg: String): String => String = {
    val from = " " + mg.replace(" ", "  ") + " "
    val to = " " + mg.replace(" ", "") + " "
    sym => {
      val s = (" " + sym.replace(" ", "  ") + " ").replace(from, to)
        .replace("  ", " ")
      var (b, e) = (0, s.length)
      while (b < e && s.charAt(b) == ' ') b += 1
      while (e > b && s.charAt(e - 1) == ' ') e -= 1
      s.substring(b, e)
    }
  }

  /** BPE tokenizer APPLICATION + fertility report — the consumer of
    * [[qBpeTrain]]'s merge table (train → apply → measure, the full
    * tokenizer lifecycle): the 6 learned merges (a bounded scalar
    * driver read) compose into ONE chained map-side `replace`
    * projection over the word dictionary, and the per-source fertility
    * — BPE tokens per word, the sentencepiece "pieces per word" health
    * metric a multilingual corpus tracks per language/source — rolls
    * up from vocab-sized joins, never a corpus re-scan: per source,
    * Σ freq_s(w)·symlen(w) over the dictionary.
    *
    * Scale: the corpus is touched ONCE to build (source, word, freq);
    * everything downstream is vocabulary-sized. Fertility is exact
    * milli units (floor div). */
  val qBpeApply: Q = (s, dir) => {
    // ONE corpus scan: the per-source word frequencies are the finest
    // grain, and the global training dictionary is their rollup
    val ws = graft.CacheScope.track(Tables(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("freq_s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dict0 = graft.CacheScope.track(ws
      .groupBy(col("word")).agg(sum(col("freq_s")).as("freq"))
      .withColumn("sym",
        concat(regexp_replace(col("word"), "(.)", "$1 "), lit("</w>")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val merges = bpeMerges(dict0, 6)
      .orderBy(col("round")).collect().map(_.getString(1))
    fertilityFrom(ws, dict0, merges.toSeq, "source")
  }

  /** Post-merge fertility rollup over a (grp, word, freq_s) frame and
    * its symbolized dictionary — shared by [[qBpeApply]] and
    * `Graft.bpeFertility`. The merge table composes into ONE chained
    * boundary-anchored map-side rewrite; everything is
    * vocabulary-sized. */
  private[graft] def fertilityFrom(ws: org.apache.spark.sql.DataFrame,
      dict0: org.apache.spark.sql.DataFrame, merges: Seq[String],
      grp: String): org.apache.spark.sql.DataFrame = {
    val symAfter = merges.foldLeft(col("sym")) { (c, mg) =>
      anchoredMerge(c, lit(mg))
    }
    val symlen = dict0
      .select(col("word"),
        size(split(symAfter, " ")).cast("long").as("toks"))
    ws.join(symlen, Seq("word"))
      .groupBy(col(grp))
      .agg(sum(col("freq_s")).as("n_words"),
        sum(col("freq_s") * col("toks")).as("n_bpe_tokens"))
      .select(col(grp), col("n_words"), col("n_bpe_tokens"),
        expr("n_bpe_tokens * 1000 div n_words").as("bpe_per_word_milli"))
      .orderBy(col(grp))
  }

  /** BPE vocab-size ROI curve (r15 w40) — the "is a bigger vocabulary
    * worth it" table a tokenizer owner reads before fixing |V|: after
    * m ∈ {0, 2, 4, 6} of the 6 learned merges, the distinct symbol
    * count (the vocabulary axis), the corpus-total BPE token count,
    * and tokens-per-word in exact milli. Each merge adds one symbol
    * and removes token mass; the curve's flattening marginal is the
    * stopping signal (compression ROI per added symbol — the Sennrich
    * 2016 economy rendered as data).
    *
    * Scale: the q_bpe_train shape — the corpus collapses to the
    * |V|-row dictionary in ONE scan, the 6-round loop runs on the
    * driver over its |V| collected rows, and each curve point
    * is a rollup of a map-side re-merge of that dictionary. Token
    * totals and symbol counts are exact integers. */
  val qBpeVocabCurve: Q = (s, dir) =>
    vocabCurveFrom(Tables(s, dir, "documents").select(col("text")))

  /** The ROI curve behind [[qBpeVocabCurve]] and
    * `Graft.bpeVocabCurve`: `docs` carries a `text` column. */
  private[graft] def vocabCurveFrom(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dict0 = graft.CacheScope.track(symbolizedDocs(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val merges = bpeMerges(dict0, 6)
      .orderBy(col("round")).collect().map(_.getString(1)).toSeq
    Seq(0, 2, 4, 6).map { m =>
      val d = applyMerges(dict0, merges.take(m))
      val toks = d.select(col("freq"),
        split(col("sym"), " ").as("a"))
      val totals = toks.agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * size(col("a"))).as("total_tokens"))
      val syms = toks.select(explode(col("a")).as("sm"))
        .agg(countDistinct(col("sm")).as("n_symbols"))
      totals.crossJoin(syms)
        .select(lit(m.toLong).as("n_merges"), col("n_symbols"),
          col("total_tokens"),
          expr("total_tokens * 1000 div n_words")
            .as("tokens_per_word_milli"))
    }.reduce(_ unionAll _).orderBy(col("n_merges"))
  }

  /** Apply a learned merge table to a symbolized `(word, freq, sym)`
    * dictionary — the tokenized dictionary a deployment ships. Shared
    * by `Graft.bpeApply`. */
  private[graft] def applyMerges(dict: org.apache.spark.sql.DataFrame,
      merges: Seq[String]): org.apache.spark.sql.DataFrame =
    dict.withColumn("sym",
      merges.foldLeft(col("sym")) { (c, mg) => anchoredMerge(c, lit(mg)) })

  /** PMI collocation mining (Church & Hanks 1990, "Word association
    * norms, mutual information, and lexicography"): rank adjacent word
    * pairs by pointwise mutual information, log2(c_xy * N / (c_x * c_y)),
    * with a min-support floor so rare-pair noise never tops the list —
    * the classic phrase/terminology extraction pass over a corpus.
    *
    * Determinism: PMI is assembled from PER-TERM fixed-point logs
    * (round(log2(count) * 1e6) for each of c_xy, N, c_x, c_y — the same
    * micro-bits trick as q_text_perplexity), so the score is integer
    * arithmetic and the (pmi desc, pair) ranking is bit-stable in both
    * engines; no product c_xy * N is ever formed, so nothing overflows
    * at corpus scale.
    *
    * Scale: bigram and unigram counts partial-aggregate map-side; the
    * unigram table is vocab-bounded and broadcasts into the bigram
    * stream twice; the top-30 lowers to TakeOrderedAndProject. */
  val qTextCollocations: Q = (s, dir) => {
    def lg(c: Column): Column = round(log2(c) * lit(1e6)).cast("long")
    val toks = Tables(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("a"))
    val uni = toks.select(explode(col("a")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val n = uni.agg(sum(col("c")).as("n"))
    val bi = toks.filter(size(col("a")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(a) - 1),
           i -> struct(element_at(a, i) as w1,
                       element_at(a, i + 1) as w2))""")).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= 5)
    bi.join(broadcast(uni.select(col("w").as("w1"), col("c").as("cx"))),
        Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("cy"))),
        Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("cxy"),
        (lg(col("cxy")) + lg(col("n")) - lg(col("cx")) - lg(col("cy")))
          .as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(30)
  }

  val queries: Map[String, Q] = Map(
    "q_text_collocations" -> qTextCollocations,
    "q_bpe_pair_count" -> qBpePairCount,
    "q_bpe_merge_step" -> qBpeMergeStep,
    "q_bpe_train" -> qBpeTrain,
    "q_bpe_apply" -> qBpeApply,
    "q_bpe_vocab_curve" -> qBpeVocabCurve,
    "q_text_tfidf" -> qTextTfidf,
    "q_text_langid" -> qTextLangId,
    "q_text_quality" -> qTextQuality,
    "q_text_tokens" -> qTextTokens,
    "q_tok_fertility" -> qTokFertility,
    "q_text_fingerprint" -> qTextFingerprint,
    "q_fn_ngrams" -> qFnNgrams,
    "q_fn_context_ngrams" -> qFnContextNgrams)

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  private def hitsSql(words: Seq[String]): String =
    s"CAST(len(list_filter(string_split(text, ' '), x -> x IN (${inList(words)}))) AS INT)"

  /** One unrolled BPE training round for the q_bpe_train oracle:
    * reads d{r−1}, emits p{r} (pair counts), b{r} (the picked merge)
    * and d{r} (post-merge dictionary). MATERIALIZED is load-bearing —
    * inlined, DuckDB re-evaluates the whole round chain per consumer
    * (the q_sim_ivf_rebalance lesson). */
  private[graft] def bpeRoundSql(r: Int): String = {
    val p = r - 1
    s"""
      p$r AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                SELECT freq, a[i] || ' ' || a[i + 1] AS pair
                FROM (SELECT freq, string_split(sym, ' ') AS a
                      FROM d$p) t,
                     unnest(range(1, len(a))) u(i)) x GROUP BY pair),
      b$r AS (SELECT pair AS merge, cnt FROM p$r
              ORDER BY cnt DESC, pair LIMIT 1),
      d$r AS MATERIALIZED (
        SELECT word, freq,
          ${anchoredMergeSql("sym", s"(SELECT merge FROM b$r)")} AS sym
        FROM d$p)"""
  }

  /** The shared 6-round BPE training CTE chain (d0 … d6, b1 … b6) —
    * the q_bpe_train oracle reads the merge table off b1…b6, the
    * q_bpe_apply oracle reads post-merge symbol lengths off d6. */
  private[graft] def bpeChainSql: String = s"""
      d0 AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS freq,
          regexp_replace(word, '(.)', '\\1 ', 'g') || '</w>' AS sym
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents) t
        GROUP BY word),
      ${(1 to 6).map(bpeRoundSql).mkString(",")}"""

  val oracle: Map[String, String] = Map(
    "q_tok_fertility" -> """
      WITH f AS (SELECT lang,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
        CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)
          AS re,
        n_chars
        FROM documents)
      SELECT lang, count(*) AS n_docs,
        CAST(sum(ws) AS BIGINT) AS ws_tokens,
        CAST(sum(re) AS BIGINT) AS re_tokens,
        CAST(sum(n_chars) AS BIGINT) AS chars,
        CAST(sum(re) AS BIGINT) * 1000 // CAST(sum(ws) AS BIGINT)
          AS fertility_permille,
        CAST(sum(n_chars) AS BIGINT) * 1000 // CAST(sum(re) AS BIGINT)
          AS chars_per_token_permille
      FROM f GROUP BY lang ORDER BY lang""",
    "q_text_collocations" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS a
                    FROM documents),
      uni AS (SELECT w, count(*) AS c
              FROM (SELECT unnest(a) AS w FROM toks) GROUP BY w),
      n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
      bi AS (SELECT a[i] AS w1, a[i + 1] AS w2, count(*) AS cxy
             FROM (SELECT *, unnest(range(1, len(a))) AS i FROM toks)
             GROUP BY 1, 2 HAVING count(*) >= 5),
      sc AS (SELECT w1, w2, CAST(cxy AS BIGINT) AS cxy,
               CAST(round(log2(cxy) * 1e6) AS BIGINT)
                 + CAST(round(log2(n.n) * 1e6) AS BIGINT)
                 - CAST(round(log2(ux.c) * 1e6) AS BIGINT)
                 - CAST(round(log2(uy.c) * 1e6) AS BIGINT) AS pmi_micro
             FROM bi
             JOIN uni ux ON bi.w1 = ux.w
             JOIN uni uy ON bi.w2 = uy.w
             CROSS JOIN n)
      SELECT * FROM sc ORDER BY pmi_micro DESC, w1, w2 LIMIT 30""",
    "q_bpe_pair_count" -> """
      WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
                 FROM documents),
      dict AS (SELECT word, count(*) AS freq FROM w GROUP BY 1),
      pairs AS (
        SELECT word[i] || ' ' ||
               CASE WHEN i = len(word) THEN '</w>' ELSE word[i + 1] END
          AS pair, freq
        FROM (SELECT *, unnest(range(1, len(word) + 1)) AS i FROM dict)),
      c AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
            FROM pairs GROUP BY 1),
      t AS (SELECT * FROM c ORDER BY cnt DESC, pair LIMIT 20)
      SELECT pair, cnt FROM t ORDER BY pair""",
    "q_bpe_train" -> s"""
      WITH $bpeChainSql
      SELECT round, merge, cnt FROM (
        ${(1 to 6).map(r =>
          s"SELECT CAST($r AS BIGINT) AS round, merge, cnt FROM b$r")
          .mkString(" UNION ALL ")})
      ORDER BY round""",
    "q_bpe_apply" -> s"""
      WITH $bpeChainSql,
      sl AS (SELECT word,
               CAST(len(string_split(sym, ' ')) AS BIGINT) AS toks
             FROM d6),
      ws AS (SELECT source, word, CAST(count(*) AS BIGINT) AS freq_s
             FROM (SELECT source,
                     unnest(string_split(text, ' ')) AS word
                   FROM documents) t
             GROUP BY 1, 2)
      SELECT source, CAST(sum(freq_s) AS BIGINT) AS n_words,
        CAST(sum(freq_s * toks) AS BIGINT) AS n_bpe_tokens,
        CAST(sum(freq_s * toks) * 1000 // sum(freq_s) AS BIGINT)
          AS bpe_per_word_milli
      FROM ws JOIN sl USING (word)
      GROUP BY source ORDER BY source""",
    "q_bpe_vocab_curve" -> s"""
      WITH $bpeChainSql,
      ${Seq(0, 2, 4, 6).map(m => s"""
      t$m AS (SELECT CAST($m AS BIGINT) AS n_merges,
                (SELECT count(DISTINCT sm) FROM (
                   SELECT unnest(string_split(sym, ' ')) AS sm
                   FROM d$m) u) AS n_symbols,
                CAST(sum(freq * len(string_split(sym, ' '))) AS BIGINT)
                  AS total_tokens,
                CAST(sum(freq * len(string_split(sym, ' '))) * 1000
                  // sum(freq) AS BIGINT) AS tokens_per_word_milli
              FROM d$m)""").mkString(",")}
      SELECT n_merges, CAST(n_symbols AS BIGINT) AS n_symbols,
        total_tokens, tokens_per_word_milli FROM (
        SELECT * FROM t0 UNION ALL SELECT * FROM t2
        UNION ALL SELECT * FROM t4 UNION ALL SELECT * FROM t6)
      ORDER BY n_merges""",
    "q_bpe_merge_step" -> """
      WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
                 FROM documents),
      dict AS (SELECT word, count(*) AS freq FROM w GROUP BY 1),
      d AS (SELECT freq,
              regexp_replace(word, '(.)', '\1 ', 'g') || '</w>' AS sym
            FROM dict),
      p0 AS (SELECT a[i] || ' ' || a[i + 1] AS pair, sum(freq) AS cnt
             FROM (SELECT *, unnest(range(1, len(a))) AS i
                   FROM (SELECT freq, string_split(sym, ' ') AS a FROM d))
             GROUP BY 1),
      best AS (SELECT pair AS merge FROM p0
               ORDER BY cnt DESC, pair LIMIT 1),
      m AS (SELECT freq,
              trim(replace(replace(' ' || replace(sym, ' ', '  ') || ' ',
                ' ' || replace(best.merge, ' ', '  ') || ' ',
                ' ' || replace(best.merge, ' ', '') || ' '),
                '  ', ' ')) AS sym,
              best.merge
            FROM d CROSS JOIN best),
      p1 AS (SELECT merge, a[i] || ' ' || a[i + 1] AS pair,
                    CAST(sum(freq) AS BIGINT) AS cnt
             FROM (SELECT *, unnest(range(1, len(a))) AS i
                   FROM (SELECT freq, merge, string_split(sym, ' ') AS a
                         FROM m))
             GROUP BY 1, 2),
      t AS (SELECT * FROM p1 ORDER BY cnt DESC, pair LIMIT 20)
      SELECT merge, pair, cnt FROM t ORDER BY pair""",
    "q_fn_ngrams" -> """
      WITH toks AS (SELECT string_split(text, ' ') AS a FROM documents),
      g AS (SELECT a[i] || ' ' || a[i + 1] AS ngram
            FROM (SELECT *, unnest(range(1, len(a))) AS i FROM toks)),
      c AS (SELECT ngram, count(*) AS freq FROM g GROUP BY ngram),
      t AS (SELECT * FROM c ORDER BY freq DESC, ngram LIMIT 10)
      SELECT ngram, freq FROM t ORDER BY ngram""",
    "q_fn_context_ngrams" -> """
      WITH toks AS (SELECT string_split(text, ' ') AS a FROM documents),
      p AS (SELECT a[i] AS w1, a[i + 1] AS w2
            FROM (SELECT *, unnest(range(1, len(a))) AS i FROM toks)),
      c AS (SELECT w2 AS next_tok, count(*) AS freq
            FROM p WHERE w1 = 'data' GROUP BY w2),
      t AS (SELECT * FROM c ORDER BY freq DESC, next_tok LIMIT 10)
      SELECT next_tok, freq FROM t ORDER BY next_tok""",
    "q_text_tfidf" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                   FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf
             FROM tok GROUP BY doc_id, term),
      df AS (SELECT term, count(*) AS df
             FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term),
      ranked AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
          tf.tf * 1000000 // df.df AS weight,
          CAST(row_number() OVER (PARTITION BY tf.doc_id
            ORDER BY tf.tf * 1000000 // df.df DESC, tf.term) AS INT) AS rnk
        FROM tf JOIN df USING (term))
      SELECT doc_id, term, tf, df, weight, rnk
      FROM ranked WHERE rnk <= 5 ORDER BY doc_id, rnk""",
    "q_text_langid" -> s"""
      WITH scored AS (SELECT doc_id, lang,
        ${hitsSql(stopwords("en"))} AS s_en,
        ${hitsSql(stopwords("fr"))} AS s_fr,
        ${hitsSql(stopwords("de"))} AS s_de,
        ${hitsSql(stopwords("es"))} AS s_es
        FROM documents)
      SELECT doc_id, lang, s_en, s_fr, s_de, s_es,
        CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
             WHEN s_en >= greatest(s_fr, s_de, s_es) THEN 'en'
             WHEN s_fr >= greatest(s_de, s_es) THEN 'fr'
             WHEN s_de >= s_es THEN 'de'
             ELSE 'es' END AS predicted,
        (CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
             WHEN s_en >= greatest(s_fr, s_de, s_es) THEN 'en'
             WHEN s_fr >= greatest(s_de, s_es) THEN 'fr'
             WHEN s_de >= s_es THEN 'de'
             ELSE 'es' END) = lang AS agrees
      FROM scored ORDER BY doc_id""",
    "q_text_quality" -> s"""
      WITH q AS (SELECT doc_id,
        CAST(length(text) AS INT) AS n_chars_m,
        CAST(len(string_split(text, ' ')) AS INT) AS n_toks,
        CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
          AS DOUBLE) / length(text) AS punct_ratio,
        CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
          AS DOUBLE) / length(text) AS digit_ratio,
        CAST(${hitsSql(stopwords("en"))} AS DOUBLE)
          / len(string_split(text, ' ')) AS stop_ratio,
        CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / len(string_split(text, ' ')) AS uniq_ratio
        FROM documents)
      SELECT *, uniq_ratio * 0.5 + stop_ratio * 0.3 +
        (1.0 - punct_ratio) * 0.1 + (1.0 - digit_ratio) * 0.1 AS quality
      FROM q ORDER BY doc_id""",
    "q_text_tokens" -> """
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INT)
          AS bpe_ish_tokens,
        CAST(len(list_distinct(string_split(text, ' '))) AS INT)
          AS uniq_tokens,
        CAST(length(text) AS DOUBLE) / len(string_split(text, ' '))
          AS chars_per_token
      FROM documents ORDER BY doc_id""",
    "q_text_fingerprint" -> """
      WITH f AS (SELECT doc_id,
        md5(array_to_string(
          list_sort(list_distinct(string_split(lower(text), ' '))), ' '))
          AS fp
        FROM documents)
      SELECT min(doc_id) AS canonical_id, fp, count(*) AS n_docs
      FROM f GROUP BY fp ORDER BY canonical_id""")
}
