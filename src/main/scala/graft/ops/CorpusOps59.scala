package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables

/** Corpus operators, r17 wave 59 (SURVEY.md §2.M): the WORDPIECE
  * tokenizer trainer (Schuster & Nakajima, ICASSP 2012 — the BERT
  * tokenizer), completing the production tokenizer-algorithm family:
  * BPE picks the HIGHEST-COUNT adjacent pair; WordPiece picks the
  * highest LIKELIHOOD GAIN — score(l, r) = count(l r) /
  * (count(l) · count(r)) — so rare-but-always-together pieces merge
  * before frequent-but-independent ones. Same dictionary
  * symbolization, same boundary-anchored merge application, same
  * 6-round loop as the BPE trainer (shared code: symbolizedDocs,
  * trainMerges) — ONLY the pick rule differs, which is
  * exactly how the two algorithms differ in the literature.
  *
  * Determinism: the score ranks via ONE IEEE double division of
  * exact int64s (count · denominator both exact, the cosine-ranking
  * discipline — identical bits in both engines), ties on the pair
  * string ascending. The emitted table carries the exact integer
  * ingredients (cnt, left_cnt, right_cnt), never the double.
  *
  * Scale: the corpus collapses to the |V|-row dictionary in ONE
  * scan; the rounds run on the driver, which holds the |V|
  * `(freq, sym)` rows (pair counts and symbol counts per round,
  * [[TextAnalysis.trainMerges]]). 100 TB of text never re-enters the
  * loop.
  */
object CorpusOps59 {

  val qTokWordpieceTrain: Q = (s, dir) =>
    wordpieceMerges(
      TextAnalysis.symbolizedDocs(
        Tables(s, dir, "documents").select(col("text"))), 6)

  /** The training loop behind [[qTokWordpieceTrain]] and
    * `Graft.wordpieceTrain`: `k` rounds of the shared
    * [[TextAnalysis.trainMerges]] over a symbolized (freq, sym)
    * dictionary, each picking the highest likelihood gain. Emits
    * (round, merge, cnt, left_cnt, right_cnt) as a [[LocalFold.frame]]. */
  private[graft] def wordpieceMerges(dict0: DataFrame,
      k: Int): DataFrame = {
    val merges = TextAnalysis.trainMerges(dict0, k, "wordpieceMerges") { st =>
      def lr(pair: String) = {
        val a = pair.split(" ", -1)
        (st.symbols(a(0)), st.symbols(a(1)))
      }
      // ONE double division of exact int64s ranks the likelihood gain
      // (the cosine discipline); the pair string breaks ties
      st.best { (pair, cnt) =>
        val (l, r) = lr(pair)
        cnt.toDouble / Math.multiplyExact(l, r).toDouble
      }(TextAnalysis.sparkDoubleOrder).map { case (pair, cnt) =>
        val (l, r) = lr(pair)
        (pair, cnt, l, r)
      }
    }(_._1)
    LocalFold.frame(dict0.sparkSession, StructType.fromDDL(
        "round BIGINT NOT NULL, merge STRING, cnt BIGINT NOT NULL, " +
          "left_cnt BIGINT NOT NULL, right_cnt BIGINT NOT NULL"),
      merges.zipWithIndex.map { case ((mg, cnt, l, r), i) =>
        Row(i + 1L, mg, cnt, l, r)
      }, col("round"))
  }

  /** Per-source fertility under the FINAL WordPiece model — the
    * apply+measure leg (the q_bpe_apply shape), read side-by-side
    * with q_bpe_apply and q_tok_unigram_fertility when choosing the
    * tokenizer algorithm: train → apply → measure now exists for all
    * THREE production algorithms. One corpus scan to (source, word,
    * freq); the model trains on the rolled-up dictionary and the
    * readout is a vocab-sized join. */
  val qTokWordpieceFertility: Q = (s, dir) => {
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ws = graft.CacheScope.track(Tables(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("freq_s"))
      .persist(mad))
    val dict0 = graft.CacheScope.track(ws
      .groupBy(col("word")).agg(sum(col("freq_s")).as("freq"))
      .withColumn("sym",
        concat(regexp_replace(col("word"), "(.)", "$1 "), lit("</w>")))
      .persist(mad))
    val merges = wordpieceMerges(dict0, 6)
      .orderBy(col("round")).collect().map(_.getString(1)).toSeq
    TextAnalysis.fertilityFrom(ws, dict0, merges, "source")
  }

  val queries: Map[String, Q] = Map(
    "q_tok_wordpiece_train" -> qTokWordpieceTrain,
    "q_tok_wordpiece_fertility" -> qTokWordpieceFertility)

  /** One unrolled WordPiece round: pair counts p$r + weighted symbol
    * counts s$r off d{r−1}, the likelihood-gain pick b$r, the
    * post-merge dictionary d$r. Mirrors TextAnalysis.bpeRoundSql with
    * ONLY the pick rule changed. */
  private[graft] def wpRoundSql(r: Int): String = {
    val p = r - 1
    s"""
      p$r AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                SELECT freq, a[i] || ' ' || a[i + 1] AS pair
                FROM (SELECT freq, string_split(sym, ' ') AS a
                      FROM d$p) t,
                     unnest(range(1, len(a))) u(i)) x GROUP BY pair),
      s$r AS (SELECT s, CAST(sum(freq) AS BIGINT) AS scnt FROM (
                SELECT freq, unnest(string_split(sym, ' ')) AS s
                FROM d$p) t GROUP BY s),
      b$r AS (SELECT pair AS merge, cnt, sl.scnt AS left_cnt,
                sr.scnt AS right_cnt
              FROM p$r
              JOIN s$r sl ON sl.s = string_split(pair, ' ')[1]
              JOIN s$r sr ON sr.s = string_split(pair, ' ')[2]
              ORDER BY CAST(cnt AS DOUBLE) /
                CAST(sl.scnt * sr.scnt AS DOUBLE) DESC, pair
              LIMIT 1),
      d$r AS MATERIALIZED (
        SELECT word, freq,
          ${TextAnalysis.anchoredMergeSql("sym",
            s"(SELECT merge FROM b$r)")} AS sym
        FROM d$p)"""
  }

  val oracle: Map[String, String] = Map(
    "q_tok_wordpiece_train" -> s"""
      WITH d0 AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS freq,
          regexp_replace(word, '(.)', '\\1 ', 'g') || '</w>' AS sym
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents) t
        GROUP BY word),
      ${(1 to 6).map(wpRoundSql).mkString(",")}
      SELECT round, merge, cnt, left_cnt, right_cnt FROM (
        ${(1 to 6).map(r =>
          s"SELECT CAST($r AS BIGINT) AS round, merge, cnt, " +
            s"left_cnt, right_cnt FROM b$r").mkString(" UNION ALL ")})
      ORDER BY round""",
    "q_tok_wordpiece_fertility" -> s"""
      WITH d0 AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS freq,
          regexp_replace(word, '(.)', '\\1 ', 'g') || '</w>' AS sym
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents) t
        GROUP BY word),
      ${(1 to 6).map(wpRoundSql).mkString(",")},
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
      GROUP BY source ORDER BY source""")
}
