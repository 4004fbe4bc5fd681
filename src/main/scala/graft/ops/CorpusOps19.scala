package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus operators, r10 wave 1 (SURVEY.md §2.M): the URL/domain
  * pipeline stage (Penedo et al. 2023, "The RefinedWeb Dataset for
  * Falcon LLM" §2.2 — URL filtering precedes every content filter
  * because it is the only stage that costs zero content reads).
  *
  * The fixtures carry no URL column, so each doc derives a
  * DETERMINISTIC synthetic URL from md5(doc_id) — the same
  * `conv(substr(md5(x),1,8),16,10)` ↔ `CAST('0x'||substr(..) AS
  * BIGINT)` bridge every hashed operator in this repo uses, so both
  * engines replay the identical URL set and the oracle stays a full
  * hash compare. Spark extracts the host with the custom
  * [[graft.functions.ParseUrlTuple]] Generator (the Hive
  * parse_url_tuple UDTF analogue) — the URL work rides the engine's
  * own URL surface, not string slicing.
  */
object CorpusOps19 {

  /** Register the synthetic-URL view: ~100 distinct hosts
    * (`www{h%25}.example.{tld}`, tld from a 4-slot literal array), path
    * and query carrying doc/source. Bounded domain axis by
    * construction — per-domain rollups shuffle to ~100 rows at any
    * corpus size. */
  private def urlView(s: org.apache.spark.sql.SparkSession, dir: String,
      view: String): Unit = {
    Tables(s, dir, "documents")
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"))
      .withColumn("url", expr(
        """concat('https://www', h % 25, '.example.',
             element_at(array('com','org','net','io'),
               cast((h div 25) % 4 as int) + 1),
             '/doc/', doc_id, '?s=', source)"""))
      .createOrReplaceTempView(view)
  }

  /** Per-domain corpus rollup behind a blocklist gate: parse the host
    * out of each URL (parse_url_tuple), drop domains whose first label
    * is on a 3-entry blocklist via a broadcast LEFT ANTI join (the
    * RefinedWeb "curated blocklist" gate), then roll up per surviving
    * domain: docs, tokens, distinct langs/sources, and the domain-level
    * exact-duplicate prior (1000·(n_docs − distinct texts)/n_docs) —
    * the number a pipeline uses to decide which domains deserve the
    * expensive near-dedup passes.
    *
    * Scale: the blocklist is 3 literal rows (broadcast anti join —
    * never a filter pushed into a UDF); the rollup shuffles to the
    * ~100-row domain axis with partial aggregation; token counts are
    * map-side. Exactness: every metric is a count or an exact integer
    * division with non-negative operands. */
  val qUrlDomains: Q = (s, dir) => {
    urlView(s, dir, "url_docs")
    s.sql("""
      WITH parsed AS (
        SELECT d.doc_id, d.text, d.lang, d.source, t.host
        FROM url_docs d
        LATERAL VIEW parse_url_tuple(d.url) t AS protocol, host, path, query),
      blocked AS (SELECT * FROM VALUES ('www7'), ('www13'), ('www23')
                  AS b(p))
      SELECT host,
             count(*) AS n_docs,
             CAST(sum(size(split(text, ' '))) AS BIGINT) AS tokens,
             count(DISTINCT lang) AS n_langs,
             count(DISTINCT source) AS n_sources,
             (count(*) - count(DISTINCT md5(text))) * 1000
               div count(*) AS dup_permille
      FROM parsed LEFT ANTI JOIN blocked
        ON element_at(split(parsed.host, '[.]'), 1) = blocked.p
      GROUP BY host
      ORDER BY host""")
  }

  /** The other side of the gate: what the blocklist removed. Per
    * blocked first-label, the docs/tokens/domains it cost — the audit a
    * pipeline publishes so a blocklist edit is a measured decision, not
    * a guess. Semi-join shape (only blocked rows survive), 3 output
    * rows however large the corpus. */
  val qUrlBlocklistAudit: Q = (s, dir) => {
    urlView(s, dir, "url_docs_audit")
    s.sql("""
      WITH parsed AS (
        SELECT d.doc_id, d.text, t.host,
               element_at(split(t.host, '[.]'), 1) AS label1
        FROM url_docs_audit d
        LATERAL VIEW parse_url_tuple(d.url) t AS protocol, host, path, query)
      SELECT label1 AS blocked_label,
             count(*) AS n_docs,
             CAST(sum(size(split(text, ' '))) AS BIGINT) AS tokens,
             count(DISTINCT host) AS n_domains
      FROM parsed
      WHERE label1 IN ('www7', 'www13', 'www23')
      GROUP BY label1
      ORDER BY blocked_label""")
  }

  val queries: Map[String, Q] = Map(
    "q_url_domains" -> qUrlDomains,
    "q_url_blocklist_audit" -> qUrlBlocklistAudit)

  val oracle: Map[String, String] = Map(
    "q_url_domains" -> """
      WITH u AS (
        SELECT doc_id, text, lang, source,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
            AS BIGINT) AS h
        FROM documents),
      parsed AS (
        SELECT doc_id, text, lang, source,
          'www' || (h % 25) || '.example.' ||
            (['com','org','net','io'])[CAST((h // 25) % 4 AS INT) + 1]
            AS host
        FROM u)
      SELECT host,
             count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             (count(*) - count(DISTINCT md5(text))) * 1000
               // count(*) AS dup_permille
      FROM parsed
      WHERE split_part(host, '.', 1) NOT IN ('www7', 'www13', 'www23')
      GROUP BY host
      ORDER BY host""",
    "q_url_blocklist_audit" -> """
      WITH u AS (
        SELECT doc_id, text,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
            AS BIGINT) AS h
        FROM documents),
      parsed AS (
        SELECT doc_id, text,
          'www' || (h % 25) || '.example.' ||
            (['com','org','net','io'])[CAST((h // 25) % 4 AS INT) + 1]
            AS host
        FROM u)
      SELECT split_part(host, '.', 1) AS blocked_label,
             count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
             CAST(count(DISTINCT host) AS BIGINT) AS n_domains
      FROM parsed
      WHERE split_part(host, '.', 1) IN ('www7', 'www13', 'www23')
      GROUP BY 1
      ORDER BY blocked_label""")
}
