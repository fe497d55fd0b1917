package graft
package queries

import graft.api._
import graft.functions.GraftFunctions
import graft.operators._
import graft.queries.Fixtures._
import graft.queries.Shared._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus and document statistics: quality signals, language,
  * diversity, sketches and data cards. */
private[queries] object CorpusRows {

  /** Render a Scala string as a DuckDB expression, ASCII runs as
    * plain literals and everything else as chr(codepoint) — the
    * text_normalize oracle's technique, generalized, so planted
    * non-ASCII fixtures keep ONE source of truth and the SQL dump
    * stays pure ASCII. */
  private def sqlChrLit(s: String): String = {
    if (s.isEmpty) return "''"
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val run = new StringBuilder
    def flush(): Unit = if (run.nonEmpty) {
      parts += "'" + run.result().replace("'", "''") + "'"
      run.clear()
    }
    s.foreach { ch =>
      if (ch >= 0x20 && ch < 0x7f) run += ch
      else { flush(); parts += s"chr(${ch.toInt})" }
    }
    flush()
    parts.mkString(" || ")
  }

  /** Planted mojibake variants (single source of truth for the
    * text_mojibake row AND its oracle SQL): Latin-1 misdecodes of
    * "café déjà", curly-quote/em-dash punctuation, "naïve über", and
    * a decoy lead (Ã before ASCII) that must NOT flag. */
  private val MojiAccents = " caf\u00C3\u00A9 d\u00C3\u00A9j\u00C3\u00A0"

  private val MojiPunct =
    " \u00E2\u0080\u009Cq\u00E2\u0080\u009D em\u00E2\u0080\u0094dash"

  private val MojiUmlaut = " na\u00C3\u00AFve \u00C3\u00BCber"

  private val MojiDecoy = " \u00C3 x"

  val specs: Seq[QuerySpec] = Seq(
    // Data-quality expectation suites (the Deequ pattern): a whole
    // constraint card — uniqueness, completeness, domains, ranges,
    // formats — compiled into ONE aggregate pass; verdicts compare
    // integer violation counts, so the card is exact at any scale.
    QuerySpec("data_expectations", (s, d) => {
      import Expectations._
      validate(table(s, d, "orders"), Seq(
        UniqueRule("orderkey_unique", "o_orderkey"),
        RowRule("custkey_complete", "o_custkey", col("o_custkey").isNull),
        RowRule("totalprice_positive", "o_totalprice",
          !(col("o_totalprice") > 0)),
        RowRule("totalprice_le_100k", "o_totalprice",
          col("o_totalprice") > 100000, maxViolations = 100),
        RowRule("status_domain", "o_orderstatus",
          !col("o_orderstatus").isin("O", "F", "P")),
        RowRule("priority_format", "o_orderpriority",
          !col("o_orderpriority").rlike("^[1-5]-"))))
        .orderBy("check")
    },
      // Expectation cards: one scalar-aggregate CTE re-derives every
      // violation count; verdicts are integer-count comparisons.
      """WITH t AS (SELECT
        |  CAST(count(*) AS BIGINT) AS total,
        |  CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS v0,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |  CAST(sum(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |  CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        |  CAST(sum(CASE WHEN NOT (o_orderstatus IN ('O','F','P')) THEN 1 ELSE 0 END) AS BIGINT) AS v4,
        |  CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT) AS v5
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'orderkey_unique' AS "check", 'o_orderkey' AS "column",
        |         v0 AS violations, total, v0 <= 0 AS passed FROM t
        |  UNION ALL SELECT 'custkey_complete', 'o_custkey', v1, total, v1 <= 0 FROM t
        |  UNION ALL SELECT 'totalprice_positive', 'o_totalprice', v2, total, v2 <= 0 FROM t
        |  UNION ALL SELECT 'totalprice_le_100k', 'o_totalprice', v3, total, v3 <= 100 FROM t
        |  UNION ALL SELECT 'status_domain', 'o_orderstatus', v4, total, v4 <= 0 FROM t
        |  UNION ALL SELECT 'priority_format', 'o_orderpriority', v5, total, v5 <= 0 FROM t)
        |ORDER BY "check"""".stripMargin),
    QuerySpec("corpus_expectations", (s, d) => {
      import Expectations._
      validate(table(s, d, "documents"), Seq(
        UniqueRule("doc_id_unique", "doc_id"),
        RowRule("text_complete", "text", col("text").isNull),
        RowRule("n_chars_consistent", "n_chars",
          col("n_chars") =!= length(col("text"))),
        RowRule("lang_domain", "lang",
          !col("lang").isin("en", "de", "zh", "fr", "es")),
        RowRule("source_format", "source",
          !col("source").rlike("^src[0-9]+$")),
        RowRule("text_min_len", "text",
          length(col("text")) < 50, maxViolations = 1000)))
        .orderBy("check")
    },
      """WITH t AS (SELECT
        |  CAST(count(*) AS BIGINT) AS total,
        |  CAST(count(doc_id) - count(DISTINCT doc_id) AS BIGINT) AS v0,
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |  CAST(sum(CASE WHEN n_chars != length(text) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |  CAST(sum(CASE WHEN NOT (lang IN ('en','de','zh','fr','es')) THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        |  CAST(sum(CASE WHEN NOT regexp_matches(source, '^src[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) AS v4,
        |  CAST(sum(CASE WHEN length(text) < 50 THEN 1 ELSE 0 END) AS BIGINT) AS v5
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT 'doc_id_unique' AS "check", 'doc_id' AS "column",
        |         v0 AS violations, total, v0 <= 0 AS passed FROM t
        |  UNION ALL SELECT 'text_complete', 'text', v1, total, v1 <= 0 FROM t
        |  UNION ALL SELECT 'n_chars_consistent', 'n_chars', v2, total, v2 <= 0 FROM t
        |  UNION ALL SELECT 'lang_domain', 'lang', v3, total, v3 <= 0 FROM t
        |  UNION ALL SELECT 'source_format', 'source', v4, total, v4 <= 0 FROM t
        |  UNION ALL SELECT 'text_min_len', 'text', v5, total, v5 <= 1000 FROM t)
        |ORDER BY "check"""".stripMargin),
    // Flesch readability card: reading-ease + grade level from three
    // codegen regexp_count integers, scan-local, no shuffle.
    QuerySpec("doc_readability", (s, d) =>
      TextAnalysis.readability(table(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      // Readability re-derived from the same three regex counts; the
      // float scores are the identical expression shape on both sides,
      // computed per row from integers (no accumulation order).
      """WITH c AS (
        |  SELECT doc_id,
        |         greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
        |         greatest(1, len(regexp_extract_all(text, '[A-Za-z]+'))) AS w,
        |         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(s AS BIGINT) AS n_sentences,
        |       CAST(w AS BIGINT) AS n_words,
        |       CAST(y AS BIGINT) AS n_syllables,
        |       CAST(w AS DOUBLE) / CAST(s AS DOUBLE) AS words_per_sentence,
        |       CAST(y AS DOUBLE) / CAST(w AS DOUBLE) AS syllables_per_word,
        |       206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |               - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)) AS flesch,
        |       0.39 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |         + 11.8 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)) - 15.59 AS fk_grade
        |FROM c ORDER BY doc_id""".stripMargin),
    // Count-Min point-frequency estimates for the exact top-20 terms:
    // the sketch is a (j, bucket, cnt) relation, the estimate a min
    // over d md5-seeded cells — deterministic, so the oracle rebuilds
    // the identical sketch and checks estimate ≥ truth cell by cell.
    QuerySpec("sketch_cms_topk", (s, d) => {
      val docs = table(s, d, "documents")
      val tc = CountMinSketch.termCounts(docs, "text")
      val sketch = CountMinSketch.build(docs, "text", depth = 4, width = 256)
      val top = tc.orderBy(col("cnt").desc, col("term")).limit(20)
      CountMinSketch.estimate(sketch, top.select("term"), depth = 4, width = 256)
        .join(broadcast(top), Seq("term"))
        .select(col("term"), col("cnt").as("exact"), col("estimate"))
        .orderBy(col("exact").desc, col("term"))
    },
      // The CMS rebuilt cell by cell from the same md5-seeded buckets
      // (first two digest nibbles, width 256, depth 4): estimates must
      // match exactly, not just bound the truth.
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |tc AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS cnt
        |  FROM toks WHERE term != '' GROUP BY term),
        |js(j) AS (VALUES (0), (1), (2), (3)),
        |cells AS (
        |  SELECT js.j,
        |         ((strpos('0123456789abcdef',
        |             substr(md5('cms:' || js.j || ':' || tc.term), 1, 1)) - 1) * 16
        |          + strpos('0123456789abcdef',
        |             substr(md5('cms:' || js.j || ':' || tc.term), 2, 1)) - 1) % 256
        |           AS bucket,
        |         CAST(sum(tc.cnt) AS BIGINT) AS cnt
        |  FROM tc CROSS JOIN js GROUP BY 1, 2),
        |top AS (SELECT term, cnt AS exact FROM tc ORDER BY cnt DESC, term LIMIT 20),
        |probes AS (
        |  SELECT t.term, t.exact, js.j,
        |         ((strpos('0123456789abcdef',
        |             substr(md5('cms:' || js.j || ':' || t.term), 1, 1)) - 1) * 16
        |          + strpos('0123456789abcdef',
        |             substr(md5('cms:' || js.j || ':' || t.term), 2, 1)) - 1) % 256
        |           AS bucket
        |  FROM top t CROSS JOIN js)
        |SELECT p.term, p.exact,
        |       CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS estimate
        |FROM probes p LEFT JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
        |GROUP BY p.term, p.exact
        |ORDER BY exact DESC, term""".stripMargin),
    // Incremental corpus refresh: MERGE a derived changeset (updates,
    // deletes, inserts keyed off doc_id residues) into the snapshot —
    // one full-outer join, exactly reproduced by the oracle's set SQL.
    QuerySpec("corpus_merge", (s, d) => {
      val snap = table(s, d, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      val u = snap.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), upper(col("text")).as("text"), col("lang"),
          col("source"), col("n_chars"), lit("U").as("op"))
      val del = snap.filter(col("doc_id") % 7 === 1)
        .withColumn("op", lit("D"))
      val ins = snap.filter(col("doc_id") % 7 === 2)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("copy: "), col("text")).as("text"),
          lit("xx").as("lang"), lit("srcNew").as("source"),
          (col("n_chars") + 6L).as("n_chars"), lit("I").as("op"))
      Snapshot.merge(snap, u.unionByName(del).unionByName(ins), "doc_id")
        .orderBy("doc_id")
    },
      // The merge's set semantics re-derived directly: untouched rows,
      // updated payloads, inserts; deleted residues absent.
      """WITH up AS (
        |  SELECT doc_id, upper(text) AS text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 7 = 0),
        |keep AS (
        |  SELECT doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 7 NOT IN (0, 1)),
        |ins AS (
        |  SELECT doc_id + 1000000 AS doc_id, 'copy: ' || text AS text,
        |         'xx' AS lang, 'srcNew' AS source, n_chars + 6 AS n_chars
        |  FROM documents WHERE doc_id % 7 = 2)
        |SELECT * FROM keep
        |UNION ALL SELECT * FROM up
        |UNION ALL SELECT * FROM ins
        |ORDER BY doc_id""".stripMargin),
    // Language-ID eval card: the marker-word classifier's predictions
    // cross-tabulated against the labeled language.
    QuerySpec("lang_confusion", (s, d) =>
      TextAnalysis.langConfusion(table(s, d, "documents"), "lang", "text")
        .orderBy("lang_true", "lang_pred"),
      // The confusion matrix over the same marker-word hit counters and
      // tie-break chain as the lang_id oracle.
      """WITH h AS (
        |  SELECT lang,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'and', 'of'))) AS en_hits,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'das', 'und'))) AS de_hits,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('le', 'la', 'les', 'et'))) AS fr_hits,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('el', 'los', 'las', 'y'))) AS es_hits
        |  FROM documents)
        |SELECT lang AS lang_true,
        |       CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
        |            WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
        |            WHEN fr_hits >= es_hits THEN 'fr'
        |            ELSE 'es' END AS lang_pred,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM h GROUP BY 1, 2 ORDER BY lang_true, lang_pred""".stripMargin),
    // Wilson lower confidence bound on per-source good-doc rate — the
    // statistically honest release ranking (3/3 must not beat
    // 960/1000). Derived per source from two integer counts through
    // one fixed double expression, identical on both sides.
    QuerySpec("source_quality_wilson", (s, d) =>
      TextAnalysis.sourceWilson(table(s, d, "documents"), "source",
        col("n_chars") >= 200)
        .orderBy("source"),
      // Wilson bound re-derived from the same (n, k) integers with the
      // identically-shaped double expression (z cast to DOUBLE so the
      // decimal literal cannot change the arithmetic).
      """WITH a AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM documents GROUP BY source),
        |c AS (
        |  SELECT source, n, k,
        |         CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |         CAST(n AS DOUBLE) AS nd,
        |         CAST(1.96 AS DOUBLE) AS z
        |  FROM a)
        |SELECT source, n, k, p AS p_hat,
        |       (p + z * z / (2.0 * nd) -
        |        z * sqrt(p * (1.0 - p) / nd + z * z / (4.0 * nd * nd))) /
        |       (1.0 + z * z / nd) AS wilson_lower
        |FROM c ORDER BY source""".stripMargin),
    // Two-pass exact heavy hitters: Misra–Gries candidates (bounded
    // map-side partials — the exchange carries ≤ capacity pairs per
    // task regardless of vocabulary size) + an exact recount of the
    // candidates. Output exact ⇒ plain SQL oracle.
    QuerySpec("corpus_heavy_hitters", (s, d) =>
      HeavyHitters.heavyTokens(table(s, d, "documents"), "text",
        num = 1, den = 1000).orderBy("token"),
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE text IS NOT NULL),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |      FROM toks GROUP BY token)
        |SELECT token, cnt FROM c, tot WHERE 1000 * cnt >= 1 * n""".stripMargin),
    // Incremental stats maintenance — the write-side twin of the
    // rollup rewrite: state(old) ⊕ state(delta) == state(old ∪ delta)
    // for merge-closed statistics (cnt/sum/sumsq/min/max; sumsq is
    // DECIMAL(38,0) so the second moment survives 100 TB), so the
    // datacard refresh scans ONLY the delta. The oracle is the full
    // rescan the merge replaces. The card emits sumsq_v as a canonical
    // decimal STRING: the internal accumulator stays exact DECIMAL(38),
    // but a decimal-typed OUTPUT column hash-mismatches in the driver
    // comparator (pandas object-Decimal vs DuckDB float64), so the
    // boundary serializes it losslessly instead of down-casting.
    QuerySpec("stats_incremental", (s, d) => {
      val docs = table(s, d, "documents")
      val old = docs.filter(col("doc_id") % 10 =!= 0)
      val delta = docs.filter(col("doc_id") % 10 === 0)
      IncrementalStats.card(
        IncrementalStats.merge(Seq(
          IncrementalStats.summarize(old, Seq("lang"), "n_chars"),
          IncrementalStats.summarize(delta, Seq("lang"), "n_chars")),
          Seq("lang")), Scale)
        .withColumn("sumsq_v", col("sumsq_v").cast("string"))
        .orderBy("lang")
    },
      // The full rescan the incremental merge replaces: cnt/sum/sumsq/
      // min/max per lang plus mean as one final division.
      """SELECT lang, count(*) AS cnt,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_v,
        |       CAST(CAST(sum(CAST(n_chars AS HUGEINT) * n_chars)
        |                 AS DECIMAL(38,0)) AS VARCHAR) AS sumsq_v,
        |       min(n_chars) AS min_v, max(n_chars) AS max_v,
        |       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_v
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    // Corpus snapshot diff by content fingerprint: docs < 250 as v1,
    // >= 250 as v2 → added/removed/retained classes with distinct-text
    // and doc counts. Only 32-hex fingerprints ever shuffle.
    QuerySpec("corpus_diff", (s, d) => {
      val docs = table(s, d, "documents")
      TextAnalysis.corpusDiff(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        "text")
        .orderBy("status")
    },
      // Fingerprint-level full outer join re-derived per class.
      """WITH o AS (
        |  SELECT md5(lower(text)) AS fp, count(*) AS n_old
        |  FROM documents WHERE doc_id < 250 GROUP BY 1),
        |n AS (
        |  SELECT md5(lower(text)) AS fp, count(*) AS n_new
        |  FROM documents WHERE doc_id >= 250 GROUP BY 1),
        |j AS (
        |  SELECT n_old, n_new FROM o FULL OUTER JOIN n ON o.fp = n.fp)
        |SELECT CASE WHEN n_old IS NULL THEN 'added'
        |            WHEN n_new IS NULL THEN 'removed'
        |            ELSE 'retained' END AS status,
        |       CAST(count(*) AS BIGINT) AS n_texts,
        |       CAST(sum(coalesce(n_new, n_old)) AS BIGINT) AS n_docs
        |FROM j GROUP BY 1 ORDER BY status""".stripMargin),
    // Text analysis.
    QuerySpec("text_stats", (s, d) =>
      TextAnalysis.textStats(table(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS len_chars,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |       round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
        |             len(string_split(text, ' ')), 6) AS ttr,
        |       round(CAST(len(list_filter(string_split(text, ' '),
        |                 t -> t IN ('the', 'a', 'of', 'and'))) AS DOUBLE) /
        |             len(string_split(text, ' ')), 6) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),
    // One-row corpus datacard: volumes, diversity, exact-dup surplus.
    QuerySpec("corpus_datacard", (s, d) =>
      TextAnalysis.corpusDatacard(table(s, d, "documents"), "doc_id", "text",
        "lang", "source"),
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT md5(lower(text))) AS BIGINT) AS n_distinct_texts,
        |       CAST(count(*) - count(DISTINCT md5(lower(text))) AS BIGINT)
        |         AS exact_dup_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |       round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |FROM documents""".stripMargin),
    // Per-source scorecard: volumes, quality full-pass rate (same
    // expressions as the doc_quality gate), exact-dup surplus — one
    // scan, one source-keyed hash aggregate.
    QuerySpec("source_scorecard", (s, d) =>
      TextAnalysis.sourceScorecard(table(s, d, "documents"), "doc_id",
        "text", "source")
        .orderBy("source"),
      // Same per-doc expressions as the doc_quality oracle, rolled up by
      // source; ratios are single divisions of integer aggregates.
      """WITH q AS (
        |  SELECT source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS mean_word_len,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              t -> t IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS stopword_ratio,
        |         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
        |           / length(text) AS punct_ratio,
        |         md5(lower(text)) AS fp
        |  FROM documents),
        |c AS (
        |  SELECT source, n_tokens, fp,
        |         CASE WHEN n_tokens >= 20 AND n_tokens <= 100000
        |               AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |               AND stopword_ratio >= 0.01 AND punct_ratio <= 0.2
        |              THEN 1 ELSE 0 END AS pass
        |  FROM q)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       round(avg(n_tokens), 4) AS mean_tokens,
        |       CAST(sum(pass) AS BIGINT) AS pass_docs,
        |       round(CAST(sum(pass) AS DOUBLE) / count(*), 4) AS pass_rate,
        |       CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS dup_docs
        |FROM c GROUP BY source
        |ORDER BY source""".stripMargin),
    QuerySpec("lang_id", (s, d) =>
      TextAnalysis.languageId(table(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      """SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
        |       CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
        |            WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
        |            WHEN fr_hits >= es_hits THEN 'fr'
        |            ELSE 'es' END AS lang_pred
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'and', 'of'))) AS BIGINT) AS en_hits,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'das', 'und'))) AS BIGINT) AS de_hits,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('le', 'la', 'les', 'et'))) AS BIGINT) AS fr_hits,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('el', 'los', 'las', 'y'))) AS BIGINT) AS es_hits
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),
    QuerySpec("lang_stats", (s, d) =>
      TextAnalysis.langStats(table(s, d, "documents"), "lang", "text")
        .orderBy("lang"),
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |       round(avg(length(text)), 4) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    // Composite quality scoring (Gopher/C4-style corpus filter).
    QuerySpec("doc_quality", (s, d) =>
      TextAnalysis.qualityScore(table(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      """SELECT doc_id, n_tokens,
        |       round(mean_word_len, 6) AS mean_word_len,
        |       round(stopword_ratio, 6) AS stopword_ratio,
        |       round(punct_ratio, 6) AS punct_ratio,
        |       CAST(c1 + c2 + c3 + c4 AS BIGINT) AS checks_passed,
        |       round((c1 + c2 + c3 + c4) / 4.0, 6) AS quality
        |FROM (
        |  SELECT doc_id, n_tokens, mean_word_len, stopword_ratio, punct_ratio,
        |         CASE WHEN n_tokens >= 20 AND n_tokens <= 100000 THEN 1 ELSE 0 END AS c1,
        |         CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0 THEN 1 ELSE 0 END AS c2,
        |         CASE WHEN stopword_ratio >= 0.01 THEN 1 ELSE 0 END AS c3,
        |         CASE WHEN punct_ratio <= 0.2 THEN 1 ELSE 0 END AS c4
        |  FROM (
        |    SELECT doc_id,
        |           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |           CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |             / len(string_split(text, ' ')) AS mean_word_len,
        |           CAST(len(list_filter(string_split(text, ' '),
        |                t -> t IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
        |             / len(string_split(text, ' ')) AS stopword_ratio,
        |           CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
        |             / length(text) AS punct_ratio
        |    FROM documents))
        |ORDER BY doc_id""".stripMargin),
    // Gopher-style intra-document repetition metrics (dup 3-grams,
    // dup tokens, most-frequent-token share) — one scan-local projection.
    QuerySpec("doc_repetition", (s, d) =>
      TextAnalysis.repetitionStats(table(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      """WITH m AS (
        |  SELECT doc_id, tk,
        |         CASE WHEN len(tk) >= 3
        |              THEN list_transform(generate_series(1, len(tk) - 2),
        |                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
        |              ELSE [] END AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents))
        |SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_tokens,
        |  CAST(len(sh) AS BIGINT) AS n_shingles,
        |  CASE WHEN len(sh) = 0 THEN 0.0
        |       ELSE round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6) END
        |    AS dup_3gram_ratio,
        |  CASE WHEN len(tk) = 0 THEN 0.0
        |       ELSE round(1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6) END
        |    AS dup_token_ratio,
        |  CASE WHEN len(tk) = 0 THEN 0.0
        |       ELSE round(CAST(list_max(list_transform(list_distinct(tk),
        |            d -> len(list_filter(tk, x -> x = d)))) AS DOUBLE) / len(tk), 6) END
        |    AS max_token_ratio
        |FROM m ORDER BY doc_id""".stripMargin),
    // CCNet-style fluency signal: count-based trigram LM (stupid
    // backoff, Brants et al. 2007) trained on the corpus, then each
    // document scored under it — the perplexity ranking CCNet uses to
    // keep the fluent tail of a crawl. Model card first, per-doc
    // perplexity second.
    // RefinedWeb/CCNet boilerplate pass: pages assembled in-plan with a
    // per-source copyright header, a global nav line, the document body
    // and a low-frequency promo line; lines recurring in ≥3 distinct
    // docs of a source are template chrome and get deleted, prose and
    // rare promos survive. Output = per-doc removal summary + cleaned
    // fingerprint (order-preserving).
    QuerySpec("line_boilerplate", (s, d) => {
      val docs = table(s, d, "documents")
      val page = concat(
        lit("c "), col("source"), lit(" all rights reserved\n"),
        lit("nav home about\n"),
        col("text"), lit("\n"),
        lit("promo "), (col("doc_id") % 250).cast("string"))
      Boilerplate.removeBoilerplate(
        docs.select(col("doc_id"), col("source"), page.as("page")),
        "doc_id", "source", "page", minDocs = 3)
        .orderBy("doc_id")
    },
      // Boilerplate oracle: rebuild the same in-plan pages, explode
      // numbered lines, re-derive the ≥3-distinct-doc verdict per
      // (source, line), and fingerprint the kept lines in order.
      """WITH pages AS (
        |  SELECT doc_id, source,
        |         'c ' || source || ' all rights reserved' || chr(10) ||
        |         'nav home about' || chr(10) || text || chr(10) ||
        |         'promo ' || CAST(doc_id % 250 AS VARCHAR) AS page
        |  FROM documents),
        |ls AS (
        |  SELECT doc_id, source, g.pos AS pos, g.line AS line FROM (
        |    SELECT doc_id, source,
        |           unnest(list_transform(generate_series(1, len(parts)),
        |             i -> struct_pack(pos := i, line := parts[i]))) AS g
        |    FROM (SELECT doc_id, source, string_split(page, chr(10)) AS parts
        |          FROM pages))),
        |boiler AS (
        |  SELECT source, line FROM ls
        |  GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 3),
        |flagged AS (
        |  SELECT l.doc_id, l.pos, l.line, b.line IS NOT NULL AS is_b
        |  FROM ls l LEFT JOIN boiler b
        |    ON l.source = b.source AND l.line = b.line)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(coalesce(sum(CASE WHEN is_b THEN 1 END), 0) AS BIGINT)
        |         AS n_removed,
        |       md5(coalesce(string_agg(CASE WHEN NOT is_b THEN line END,
        |                               chr(10) ORDER BY pos), '')) AS clean_fp
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // Spearman feature-redundancy card: rank correlation between the
    // cheap per-doc features a quality classifier would ingest —
    // exact integer algebra over doubled average ranks, one
    // sqrt+division at the end.
    QuerySpec("doc_feature_spearman", (s, d) => {
      val docs = table(s, d, "documents").filter(col("text").isNotNull)
        .select(size(split(col("text"), " ")).cast("long").as("n_tokens"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          size(array_distinct(split(col("text"), " "))).cast("long")
            .as("n_distinct"))
      def pair(label: String, a: String, b: String) =
        TextAnalysis.spearman(docs, a, b)
          .select(lit(label).as("pair"), col("n"), col("rho"))
      pair("bytes_distinct", "n_bytes", "n_distinct")
        .unionAll(pair("tokens_bytes", "n_tokens", "n_bytes"))
        .unionAll(pair("tokens_distinct", "n_tokens", "n_distinct"))
        .orderBy("pair")
    },
    {
      def branch(label: String, x: String, y: String) =
        s"""(WITH f AS (
           |  SELECT CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           |         CAST(strlen(text) AS BIGINT) AS n_bytes,
           |         CAST(length(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
           |  FROM documents WHERE text IS NOT NULL),
           |r AS (
           |  SELECT 2 * rank() OVER (ORDER BY $x) + count(*) OVER (PARTITION BY $x) - 1 AS u,
           |         2 * rank() OVER (ORDER BY $y) + count(*) OVER (PARTITION BY $y) - 1 AS v
           |  FROM f),
           |a AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |         sum(CAST(u AS HUGEINT)) AS su, sum(CAST(v AS HUGEINT)) AS sv,
           |         sum(CAST(u AS HUGEINT) * v) AS suv,
           |         sum(CAST(u AS HUGEINT) * u) AS suu,
           |         sum(CAST(v AS HUGEINT) * v) AS svv
           |  FROM r)
           |SELECT '$label' AS pair, n,
           |       round(CAST(CAST(n AS HUGEINT) * suv - su * sv AS DOUBLE) /
           |             (sqrt(CAST(CAST(n AS HUGEINT) * suu - su * su AS DOUBLE)) *
           |              sqrt(CAST(CAST(n AS HUGEINT) * svv - sv * sv AS DOUBLE))), 6) AS rho
           |FROM a)""".stripMargin
      s"""SELECT * FROM (
         |${branch("bytes_distinct", "n_bytes", "n_distinct")}
         |UNION ALL
         |${branch("tokens_bytes", "n_tokens", "n_bytes")}
         |UNION ALL
         |${branch("tokens_distinct", "n_tokens", "n_distinct")}
         |) ORDER BY pair""".stripMargin
    }),
    // Per-source distinct-content cardinality: exact count_distinct
    // (oracle-matched) next to the HLL++ sketch — the 100 TB path,
    // whose map-side register-merge never shuffles values — verified
    // in-plan through a 5% relative-error bound (HLL++ at rsd=0.02 is
    // deterministic for a fixed input set, so the bound is stable).
    QuerySpec("corpus_cardinality", (s, d) => {
      val docs = table(s, d, "documents")
      val fp = TextAnalysis.fingerprint(col("text"))
      docs.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          count_distinct(fp).as("n_distinct"),
          approx_count_distinct(fp, 0.02).as("__approx"))
        .select(col("source"), col("n_docs"), col("n_distinct"),
          (abs(col("__approx") - col("n_distinct")).cast("double") /
            col("n_distinct") <= 0.05).as("approx_within_5pct"))
        .orderBy("source")
    },
      // Exact side oracle-matched; the sketch side asserts its error
      // bound in-plan (same scheme as events_quantiles_approx).
      """SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT md5(lower(text))) AS BIGINT) AS n_distinct,
        |       TRUE AS approx_within_5pct
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin),
    // Sliding-window token chunking (40-token windows, stride 30) — the
    // pre-embedding fan-out, one generate+explode inside the scan stage.
    QuerySpec("doc_chunks", (s, d) =>
      TextAnalysis.chunkTokens(table(s, d, "documents"), "doc_id", "text",
        chunkSize = 40, stride = 30)
        .orderBy("doc_id", "chunk_id"),
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |starts AS (
        |  SELECT doc_id, tk,
        |         unnest(generate_series(0,
        |           CASE WHEN n <= 40 THEN 0
        |                ELSE CAST(floor((n - 40 + 29) / 30.0) AS INT) END)) AS k
        |  FROM t)
        |SELECT doc_id,
        |       CAST(k AS BIGINT) AS chunk_id,
        |       CAST(len(list_slice(tk, k * 30 + 1, k * 30 + 40)) AS BIGINT)
        |         AS n_chunk_tokens,
        |       array_to_string(list_slice(tk, k * 30 + 1, k * 30 + 40), ' ')
        |         AS chunk_text
        |FROM starts
        |ORDER BY doc_id, chunk_id""".stripMargin),
    // t-closeness (Li et al. 2007) — the third rung of the release
    // ladder after k-anonymity (size) and l-diversity (variety): a
    // group whose length distribution sits in one tail of the
    // corpus-wide distribution leaks even when large and varied.
    // Ordered-bin EMD in EXACT integer arithmetic (cum sums in
    // DECIMAL(38,0), micro result by integral division) — the oracle
    // replays the identical sums in HUGEINT. One corpus-sized
    // aggregate; everything after runs on the |groups|x|bins| grid.
    // Per-source Gini concentration of document volume — "is this
    // source many documents or three giant crawls and dust?" — the
    // mixture-weighting / dedup-priority signal. Exact grouped-data
    // rank formula on the (source, length) histogram; partitioned
    // window only.
    QuerySpec("source_gini", (s, d) =>
      RelationalAnalytics.giniByGroup(
        table(s, d, "documents"), "source", "n_chars")
        .orderBy("source"),
      """WITH h AS (
        |  SELECT source, n_chars AS v, CAST(count(*) AS HUGEINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |cum AS (
        |  SELECT source, v, c,
        |         sum(c) OVER (PARTITION BY source ORDER BY v) AS r
        |  FROM h),
        |a AS (
        |  SELECT source, sum(c) AS n, sum(CAST(v AS HUGEINT) * c) AS s0,
        |         sum(CAST(v AS HUGEINT) * c * (2 * r - c + 1)) AS s1x2
        |  FROM cum GROUP BY 1)
        |SELECT source, CAST(n AS BIGINT) AS n_rows,
        |       CAST(s0 AS BIGINT) AS total,
        |       CAST(CASE WHEN s0 > 0
        |                 THEN (1000000 * (s1x2 - (n + 1) * s0)) // (n * s0)
        |                 ELSE 0 END AS BIGINT) AS gini_micro
        |FROM a ORDER BY source""".stripMargin),
    // Corpus-relative percentile rank WITHOUT the global sort SQL
    // percent_rank demands: bounded-domain counting (histogram +
    // two-level cumulate + broadcast rank table). The oracle computes
    // the same number with the window it CAN afford at sf scale —
    // the plans differ by design, the integers match bitwise.
    QuerySpec("quality_percentile", (s, d) =>
      RelationalAnalytics.percentileRank(
        table(s, d, "documents"), "doc_id", "n_chars", bucketWidth = 64L)
        .orderBy("doc_id"),
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |         rank() OVER (ORDER BY n_chars) AS rk,
        |         count(*) OVER () AS n
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |       CAST(CASE WHEN n > 1 THEN (1000000 * (rk - 1)) // (n - 1)
        |                 ELSE 0 END AS BIGINT) AS pct_micro
        |FROM r ORDER BY doc_id""".stripMargin),
    // Corpus 3-gram saturation curve over 10 arrival-order buckets:
    // new-vs-seen distinct grams per bucket — the "is more data still
    // new data" card behind collect-more vs dedup-harder decisions.
    // Grams shuffle as md5 fingerprints; exact integer counts.
    QuerySpec("corpus_saturation", (s, d) =>
      TextAnalysis.saturationCurve(table(s, d, "documents"),
        "doc_id", "text", n = 3, buckets = 10)
        .orderBy("bucket"),
      // The same buckets/fingerprints; tie-free window (bucket is the
      // group key) so RANGE == ROWS.
      """WITH mx AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS m FROM documents),
        |tk AS (
        |  SELECT doc_id,
        |         list_filter(string_split(COALESCE(text, ''), ' '),
        |                     t -> t != '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT (doc_id * 10) // (mx.m + 1) AS b,
        |         md5(array_to_string(
        |           toks[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')) AS g
        |  FROM tk, mx, unnest(generate_series(1, len(toks) - 2)) t(i)),
        |pb AS (SELECT DISTINCT b, g FROM g),
        |ib AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n_grams FROM pb GROUP BY 1),
        |fs AS (SELECT g, MIN(b) AS b FROM pb GROUP BY 1),
        |ng AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS new_grams FROM fs GROUP BY 1),
        |j AS (
        |  SELECT ib.b AS bucket, ib.n_grams,
        |         CAST(COALESCE(ng.new_grams, 0) AS BIGINT) AS new_grams
        |  FROM ib LEFT JOIN ng ON ib.b = ng.b)
        |SELECT bucket, n_grams, new_grams,
        |       CAST(SUM(new_grams) OVER (ORDER BY bucket) AS BIGINT) AS cum_new,
        |       CAST(CAST(new_grams AS HUGEINT) * 1000000 // n_grams AS BIGINT)
        |         AS novelty_micro
        |FROM j ORDER BY bucket""".stripMargin),
    // Per-source hapax rate — vocabulary richness: templates collapse
    // it toward 0, noise inflates it toward 1, prose sits between.
    QuerySpec("source_hapax", (s, d) =>
      TextAnalysis.hapaxRate(table(s, d, "documents"), "source", "text")
        .orderBy("source"),
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |pt AS (
        |  SELECT source, term, CAST(count(*) AS BIGINT) AS c
        |  FROM toks WHERE length(term) > 0 GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_types,
        |       CAST(sum(c) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_hapax,
        |       CAST((1000000 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)) //
        |            count(*) AS BIGINT) AS hapax_micro
        |FROM pt GROUP BY source ORDER BY source""".stripMargin),
    // Yule's K + Simpson repeat-rate per source — the inverse signal
    // of hapax from the same term relation: lexical CONCENTRATION
    // (authorship/genre constant; boilerplate rises, prose sits low).
    QuerySpec("source_yule", (s, d) =>
      TextAnalysis.lexicalConcentration(
        table(s, d, "documents"), "source", "text")
        .orderBy("source"),
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |pt AS (
        |  SELECT source, term, CAST(count(*) AS HUGEINT) AS c
        |  FROM toks WHERE length(term) > 0 GROUP BY 1, 2),
        |a AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_types,
        |         sum(c) AS n, sum(c * c) AS s2, sum(c * (c - 1)) AS rep
        |  FROM pt GROUP BY 1)
        |SELECT source, n_types, CAST(n AS BIGINT) AS n_tokens,
        |       CAST(CASE WHEN n > 1 THEN (10000000 * (s2 - n)) // (n * n)
        |                 ELSE 0 END AS BIGINT) AS yule_k_milli,
        |       CAST(CASE WHEN n > 1 THEN (1000000 * rep) // (n * (n - 1))
        |                 ELSE 0 END AS BIGINT) AS simpson_micro
        |FROM a ORDER BY source""".stripMargin),
    // Unicode canonicalization (the C4/CCNet pre-pass): NFC compose +
    // accent-strip through the codegen UnicodeKernels, which every
    // fingerprint operator needs upstream (composed é and decomposed
    // e+U+0301 are different bytes, so un-normalized corpora defeat
    // exact AND near dedup). The corpus is extended in-plan with a
    // mixed composed/decomposed suffix so the row exercises REAL
    // normalization on every document — the synthetic corpus is pure
    // ASCII, where NFC is the identity. Oracle = DuckDB's utf8proc
    // implementations of the same UAX #15 forms.
    QuerySpec("text_normalize", (s, d) => {
      GraftFunctions.register(s)
      val suffix = " caf\u00e9 cafe\u0301 n\u0303o \u212b"
      table(s, d, "documents")
        .select(col("doc_id"),
          concat(coalesce(col("text"), lit("")), lit(suffix)).as("s"))
        .select(col("doc_id"),
          length(col("s")).cast("long").as("raw_chars"),
          length(GraftFunctions.nfcNormalize(col("s"))).cast("long").as("nfc_chars"),
          (GraftFunctions.nfcNormalize(col("s")) =!= col("s")).as("changed"),
          md5(GraftFunctions.nfcNormalize(col("s")).cast("binary")).as("nfc_md5"),
          md5(GraftFunctions.stripAccents(col("s")).cast("binary")).as("plain_md5"))
        .orderBy("doc_id")
    },
      // Same UAX #15 forms via utf8proc; the suffix is spelled with
      // chr() so no SQL-literal encoding ambiguity can creep in.
      """WITH sx AS (SELECT doc_id,
        |    COALESCE(text, '') || ' caf' || chr(233) || ' cafe' || chr(769) ||
        |    ' n' || chr(771) || 'o ' || chr(8491) AS s FROM documents)
        |SELECT doc_id, CAST(length(s) AS BIGINT) AS raw_chars,
        |       CAST(length(nfc_normalize(s)) AS BIGINT) AS nfc_chars,
        |       (nfc_normalize(s) <> s) AS changed,
        |       md5(nfc_normalize(s)) AS nfc_md5,
        |       md5(strip_accents(s)) AS plain_md5
        |FROM sx ORDER BY doc_id""".stripMargin),
    // Mojibake (encoding-damage) triage — the ftfy-class routing pass:
    // UTF-8-misdecoded-as-Latin-1 signatures (lead Â/Ã/â + a
    // continuation-range char) are planted in-plan on four id strides
    // (2-byte accents, the 3-byte punctuation block, a repeat, and a
    // DECOY lead with no continuation that must NOT flag); the card
    // counts signature bigrams + raw continuation chars scan-locally.
    // The oracle runs the same regex class in DuckDB's RE2 — an
    // independent engine's detector must agree hit-for-hit.
    QuerySpec("text_mojibake", (s, d) => {
      val v = col("doc_id") % 5
      val planted = table(s, d, "documents")
        .select(col("doc_id").as("id"),
          concat(coalesce(col("text"), lit("")),
            when(v === 1, lit(MojiAccents))
              .when(v === 2, lit(MojiPunct))
              .when(v === 3, lit(MojiUmlaut))
              .when(v === 4, lit(MojiDecoy))
              .otherwise(lit(""))).as("text"))
      Mojibake.card(planted, "id", "text").orderBy("id")
    },
      // The same signature class in DuckDB's RE2 over the same planted
      // text (chr()-built from the shared constants) — an independent
      // detector must agree hit-for-hit.
    {
      val sig = "[\\x{00C2}\\x{00C3}\\x{00E2}][\\x{0080}-\\x{00BF}]"
      val cont = "[\\x{0080}-\\x{00BF}]"
      s"""WITH planted AS (
         |  SELECT doc_id AS id,
         |         COALESCE(text, '') ||
         |           CASE doc_id % 5
         |             WHEN 1 THEN ${sqlChrLit(MojiAccents)}
         |             WHEN 2 THEN ${sqlChrLit(MojiPunct)}
         |             WHEN 3 THEN ${sqlChrLit(MojiUmlaut)}
         |             WHEN 4 THEN ${sqlChrLit(MojiDecoy)}
         |             ELSE '' END AS text
         |  FROM documents)
         |SELECT id,
         |       CAST(len(regexp_extract_all(text, '$sig')) AS BIGINT)
         |         AS moji_hits,
         |       CAST(length(text) -
         |         length(regexp_replace(text, '$cont', '', 'g')) AS BIGINT)
         |         AS cont_chars,
         |       len(regexp_extract_all(text, '$sig')) >= 1 AS flagged
         |FROM planted ORDER BY id""".stripMargin
    }),
    // Corpus diversity card: distinct-n ratios for n=1..3 (n=1 is the
    // type-token ratio; falling 2/3-gram ratios flag template spam and
    // synthetic mode collapse). Grams shuffle as MD5 fingerprints —
    // bounded key width at any n; the 100 TB variant swaps exact
    // count(distinct) for approx_count_distinct (spec-pinned).
    QuerySpec("corpus_diversity", (s, d) =>
      TextAnalysis.ngramDiversity(table(s, d, "documents"), "text")
        .orderBy("n"),
    {
      val perN = Seq(1, 2, 3).map { n =>
        s"""SELECT $n AS n,
           |  unnest(list_transform(generate_series(1, len(toks) - ${n - 1}),
           |    i -> array_to_string(toks[i:i+${n - 1}], ' '))) AS gram FROM tk"""
          .stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH tk AS (
         |  SELECT list_filter(string_split(COALESCE(text, ''), ' '),
         |                     t -> t != '') AS toks
         |  FROM documents),
         |g AS (
         |$perN)
         |SELECT CAST(n AS BIGINT) AS n,
         |       CAST(count(*) AS BIGINT) AS total_ngrams,
         |       CAST(count(DISTINCT md5(gram)) AS BIGINT) AS distinct_ngrams,
         |       round(count(DISTINCT md5(gram)) * 1.0 / count(*), 6) AS distinct_ratio
         |FROM g GROUP BY n ORDER BY n""".stripMargin
    }),
    // Chi-square drift card between corpus snapshots (doc_id halves,
    // the corpus_diff split) over token-count buckets: integer counts
    // + one identical-shape double expression → oracle-exact.
    QuerySpec("corpus_drift", (s, d) => {
      val docs = table(s, d, "documents")
      TextAnalysis.bucketDrift(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        "text").orderBy("bucket")
    },
      """WITH ob AS (
        |  SELECT CAST(LEAST(floor(len(string_split(text, ' ')) * 1.0 / 10), 20) AS BIGINT) AS bucket,
        |         count(*) AS n_old
        |  FROM documents WHERE doc_id < 250 GROUP BY 1),
        |nb AS (
        |  SELECT CAST(LEAST(floor(len(string_split(text, ' ')) * 1.0 / 10), 20) AS BIGINT) AS bucket,
        |         count(*) AS n_new
        |  FROM documents WHERE doc_id >= 250 GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(ob.bucket, nb.bucket) AS bucket,
        |         CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
        |         CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new
        |  FROM ob FULL OUTER JOIN nb ON ob.bucket = nb.bucket),
        |t AS (SELECT sum(n_old) AS toto, sum(n_new) AS totn FROM j)
        |SELECT bucket, n_old, n_new,
        |       CASE WHEN n_old > 0 THEN
        |         round((n_new - n_old * (CAST(totn AS DOUBLE) / toto)) *
        |               (n_new - n_old * (CAST(totn AS DOUBLE) / toto)) /
        |               (n_old * (CAST(totn AS DOUBLE) / toto)), 6)
        |       END AS contrib
        |FROM j, t ORDER BY bucket""".stripMargin),
    // Zipf-frequency document quality: mean log10 corpus frequency of
    // each doc's tokens (rare-token-heavy docs — OCR noise, gibberish —
    // score low). Per-token logs rounded then summed in DECIMAL, so the
    // score is partition-order independent.
    QuerySpec("doc_logfreq", (s, d) =>
      TextAnalysis.tokenLogFreqScore(table(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |freq AS (SELECT term, count(*) AS tf FROM terms GROUP BY term)
        |SELECT doc_id, count(*) AS n_tokens,
        |       round(CAST(sum(CAST(round(log10(tf), 6) AS DECIMAL(28,6))) AS DOUBLE)
        |             / count(*), 6) AS logfreq_score
        |FROM terms JOIN freq USING (term)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // CCNet-style calibrated gate: per-language logfreq terciles from
    // the corpus's own distribution (head/middle/tail buckets), never a
    // hardcoded constant. Buckets (not raw interpolated thresholds) are
    // the output, so the oracle's quantile interpolation matches.
    QuerySpec("doc_logfreq_buckets", (s, d) =>
      TextAnalysis.logFreqBuckets(table(s, d, "documents"), "doc_id", "text", "lang")
        .orderBy("doc_id"),
      // Same logfreq derivation with the stratum carried through, then
      // per-language continuous-quantile cut points and the bucket
      // when-chain. quantile_cont and Spark's exact percentile agree on
      // pos = p·(n−1) linear interpolation; comparing 6-dp scores against
      // the cut keeps bucket membership stable at the last ulp.
      """WITH terms AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents),
        |freq AS (SELECT term, count(*) AS tf FROM terms GROUP BY term),
        |scored AS (
        |  SELECT doc_id, lang,
        |         round(CAST(sum(CAST(round(log10(tf), 6) AS DECIMAL(28,6))) AS DOUBLE)
        |               / count(*), 6) AS logfreq_score
        |  FROM terms JOIN freq USING (term)
        |  GROUP BY doc_id, lang),
        |thr AS (
        |  SELECT lang, quantile_cont(logfreq_score, 1.0/3) AS t1,
        |               quantile_cont(logfreq_score, 2.0/3) AS t2
        |  FROM scored GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.logfreq_score,
        |       CAST(CASE WHEN s.logfreq_score < t.t1 THEN 0
        |                 WHEN s.logfreq_score < t.t2 THEN 1
        |                 ELSE 2 END AS BIGINT) AS bucket
        |FROM scored s JOIN thr t USING (lang)
        |ORDER BY doc_id""".stripMargin),
    // Spearman ρ between doc length in chars and in tokens — midrank
    // ties as doubled integers (the mann_whitney convention), exact
    // DECIMAL moments, one rounded double division at the end.
    QuerySpec("corpus_spearman", (s, d) =>
      StatTests.spearmanCard(
        table(s, d, "documents").select(col("n_chars").as("x"),
          size(split(col("text"), " ")).cast("long").as("y")),
        "x", "y"),
      // Spearman replay: midranks from per-value histograms (the
      // mann_whitney doubled-rank window), HUGEINT moments, ρ as the
      // identical double sequence (cast, multiply, sqrt, divide, round).
      """WITH rows_ AS (
        |  SELECT n_chars AS x,
        |         CAST(length(string_split(text, ' ')) AS BIGINT) AS y
        |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
        |hx AS (SELECT x, count(*) AS c FROM rows_ GROUP BY x),
        |rx AS (
        |  SELECT x, 2 * (sum(c) OVER (ORDER BY x) - c) + c + 1 AS xr2
        |  FROM hx),
        |hy AS (SELECT y, count(*) AS c FROM rows_ GROUP BY y),
        |ry AS (
        |  SELECT y, 2 * (sum(c) OVER (ORDER BY y) - c) + c + 1 AS yr2
        |  FROM hy),
        |j AS (
        |  SELECT rx.xr2 AS a, ry.yr2 AS b
        |  FROM rows_ JOIN rx USING (x) JOIN ry USING (y)),
        |m AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n,
        |         sum(CAST(a AS HUGEINT)) AS sa, sum(CAST(b AS HUGEINT)) AS sb,
        |         sum(CAST(a AS HUGEINT) * a) AS saa,
        |         sum(CAST(a AS HUGEINT) * b) AS sab,
        |         sum(CAST(b AS HUGEINT) * b) AS sbb
        |  FROM j),
        |s AS (
        |  SELECT n, n * saa - sa * sa AS sxx, n * sab - sa * sb AS sxy,
        |         n * sbb - sb * sb AS syy
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n,
        |       CASE WHEN sxx > 0 AND syy > 0
        |            THEN round(CAST(sxy AS DOUBLE) /
        |                   sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6)
        |            ELSE 0.0e0 END AS rho
        |FROM s""".stripMargin),
    // Corpus token entropy vs the log2(V) maximum — the redundancy
    // single-number beside the Zipf slope card.
    QuerySpec("corpus_token_entropy", (s, d) =>
      TextAnalysis.tokenEntropy(table(s, d, "documents"), "text"),
      // Token entropy replayed: same rounded log2-of-integers terms,
      // DECIMAL sum, one floored micro division.
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |               CAST(count(*) AS BIGINT) AS n_distinct FROM c),
        |terms AS (
        |  SELECT n, n_distinct,
        |         CAST(c AS DECIMAL(38,6)) *
        |           (CAST(round(log2(n), 6) AS DECIMAL(28,6))
        |            - CAST(round(log2(c), 6) AS DECIMAL(28,6))) AS term
        |  FROM c, tot)
        |SELECT n AS n_tokens, n_distinct,
        |       CAST(CAST(sum(term) * 1000000 AS HUGEINT) // n AS BIGINT)
        |         AS entropy_micro,
        |       CAST(CAST(round(log2(n_distinct), 6) AS DECIMAL(28,6)) * 1000000
        |            AS BIGINT) AS max_entropy_micro
        |FROM terms GROUP BY 1, 2""".stripMargin),
    // Heaps'-law fit: vocabulary growth V(2^j) at doubling prefixes
    // of the deterministic corpus order, log-log OLS for beta —
    // near-dup floods depress it, noise inflates it.
    QuerySpec("corpus_heaps_fit", (s, d) =>
      TextAnalysis.heapsFit(table(s, d, "documents"), "doc_id", "text"),
      // Heaps replayed: doc-offset prefix sum, per-term first global
      // position, V at power-of-two prefixes, the shared OLS formulas.
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |sz AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM t),
        |off AS (
        |  SELECT doc_id,
        |         sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
        |           AS o
        |  FROM sz),
        |tot AS (SELECT sum(n) AS tt FROM sz),
        |pos AS (
        |  SELECT p.doc_id, p.i, p.toks[CAST(p.i AS INT)] AS term
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks))) AS i FROM t) p),
        |fp AS (
        |  SELECT term, min(off.o + pos.i) AS fp
        |  FROM pos JOIN off ON pos.doc_id = off.doc_id
        |  GROUP BY term),
        |pts AS (
        |  SELECT CAST(pow(2, j) AS BIGINT) AS m
        |  FROM (SELECT unnest(generate_series(1, 62)) AS j), tot
        |  WHERE CAST(pow(2, j) AS BIGINT) <= tot.tt),
        |vn AS (
        |  SELECT m, count(*) AS v FROM fp, pts
        |  WHERE fp.fp <= pts.m GROUP BY m),
        |xy AS (
        |  SELECT CAST(round(log10(m), 6) AS DECIMAL(18,6)) AS x,
        |         CAST(round(log10(v), 6) AS DECIMAL(18,6)) AS y
        |  FROM vn),
        |mm AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(x) AS DECIMAL(38,6)) AS sx,
        |         CAST(sum(y) AS DECIMAL(38,6)) AS sy,
        |         CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS sxx,
        |         CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS syy,
        |         CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS sxy
        |  FROM xy),
        |d AS (
        |  SELECT CAST(n AS BIGINT) AS n_points,
        |         CAST(n * sxy - sx * sy AS DOUBLE) AS num,
        |         CAST(n * sxx - sx * sx AS DOUBLE) AS dx,
        |         CAST(n * syy - sy * sy AS DOUBLE) AS dy,
        |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |         CAST(n AS DOUBLE) AS nd
        |  FROM mm)
        |SELECT n_points,
        |       round(CASE WHEN dx > 0 THEN num / dx END, 6) AS beta,
        |       round(CASE WHEN dx > 0
        |             THEN (syd - num / dx * sxd) / nd END, 6) AS log10_k,
        |       round(CASE WHEN dx * dy > 0
        |             THEN num * num / (dx * dy) END, 6) AS r2
        |FROM d""".stripMargin),
    // Zipf-law fit: log-log OLS over the term-frequency table —
    // slope ≈ −1 / r² near 1 for natural text; template floods bend
    // the line. Exact decimal moments, fixed-order double divisions.
    QuerySpec("corpus_zipf_fit", (s, d) =>
      TextAnalysis.zipfFit(table(s, d, "documents"), "text"),
      // Zipf fit replayed: same 6-dp log grid, DECIMAL moments, the
      // identical fixed-order double formulas.
      """WITH f AS (
        |  SELECT term, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE len(term) >= 1 GROUP BY 1),
        |xy AS (
        |  SELECT cnt,
        |    CAST(round(log10(row_number() OVER (ORDER BY cnt DESC, term)), 6)
        |         AS DECIMAL(18,6)) AS x,
        |    CAST(round(log10(cnt), 6) AS DECIMAL(18,6)) AS y
        |  FROM f),
        |m AS (
        |  SELECT count(*) AS n, sum(cnt) AS n_tokens,
        |         CAST(sum(x) AS DECIMAL(38,6)) AS sx,
        |         CAST(sum(y) AS DECIMAL(38,6)) AS sy,
        |         CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS sxx,
        |         CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS syy,
        |         CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS sxy
        |  FROM xy),
        |d AS (
        |  SELECT CAST(n AS BIGINT) AS n_types,
        |         CAST(n_tokens AS BIGINT) AS n_tokens,
        |         CAST(n * sxy - sx * sy AS DOUBLE) AS num,
        |         CAST(n * sxx - sx * sx AS DOUBLE) AS dx,
        |         CAST(n * syy - sy * sy AS DOUBLE) AS dy,
        |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |         CAST(n AS DOUBLE) AS nd
        |  FROM m)
        |SELECT n_types, n_tokens,
        |       round(CASE WHEN dx > 0 THEN num / dx END, 6) AS slope,
        |       round(CASE WHEN dx > 0
        |             THEN (syd - num / dx * sxd) / nd END, 6) AS intercept,
        |       round(CASE WHEN dx * dy > 0
        |             THEN num * num / (dx * dy) END, 6) AS r2
        |FROM d""".stripMargin),
    // TextTiling topical segmentation (Hearst 1997, block form) —
    // "semantic chunking" without a model: documents split where the
    // Jaccard cohesion of adjacent 8-token blocks drops below the
    // threshold, on the micro-integer grid. Chunks that respect topic
    // boundaries embed/retrieve better than blind 512-token slices.
    QuerySpec("text_tiling", (s, d) =>
      TextTiling.segments(table(s, d, "documents"), "doc_id", "text")
        .orderBy("id", "seg_id"),
      // TextTiling replayed: same block slicing, distinct-set Jaccard
      // on the micro grid (// = div on non-negatives), running boundary
      // sum, per-segment aggregate.
      """WITH toks AS (
        |  SELECT doc_id AS id, string_split(text, ' ') AS t,
        |         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS INT) AS nb
        |  FROM documents WHERE text IS NOT NULL),
        |blocks AS (
        |  SELECT id, b - 1 AS block_idx,
        |         t[(b-1)*8 + 1 : (b-1)*8 + 8] AS block
        |  FROM toks, unnest(generate_series(1, nb)) g(b)),
        |sets AS (
        |  SELECT id, block_idx, len(block) AS n_tok,
        |         list_distinct(block) AS tset FROM blocks),
        |adj AS (
        |  SELECT c.id, c.block_idx, c.n_tok, c.tset, p.tset AS prev_tset
        |  FROM sets c LEFT JOIN sets p
        |    ON p.id = c.id AND p.block_idx = c.block_idx - 1),
        |fl AS (
        |  SELECT *, CASE WHEN prev_tset IS NULL THEN 0
        |    WHEN (1000000 * len(list_intersect(tset, prev_tset))) //
        |         len(list_distinct(list_concat(tset, prev_tset))) < 150000
        |    THEN 1 ELSE 0 END AS boundary FROM adj),
        |seg AS (
        |  SELECT *, sum(boundary) OVER
        |    (PARTITION BY id ORDER BY block_idx) AS seg_id FROM fl)
        |SELECT id, CAST(seg_id AS BIGINT) AS seg_id,
        |       CAST(min(block_idx) AS BIGINT) AS first_block,
        |       count(*) AS n_blocks, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM seg GROUP BY id, seg_id ORDER BY id, seg_id""".stripMargin),
    // Unicode script-mix card: per-doc counts over explicit BMP
    // ranges (no \p{Script=} classes — engine availability differs),
    // dominant script with declared tie order. The fixture appends
    // known script runs so every block exercises.
    QuerySpec("text_script_mix", (s, d) => {
      val fixed = table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0, lit(" абвг αβ 漢字数 ١٢"))
              .when(col("doc_id") % 3 === 1, lit(" नमस्ते 12"))
              .otherwise(lit(""))).as("text"))
      TextAnalysis.scriptMix(fixed, "doc_id", "text").orderBy("doc_id")
    },
      // Same explicit ranges via RE2's \x{hhhh} escapes; dominant CASE
      // replays the declared tie order.
    {
      val scripts = Seq(
        "latin" -> "[A-Za-z]",
        "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
        "greek" -> "[\\x{0370}-\\x{03FF}]",
        "cjk" -> "[\\x{4E00}-\\x{9FFF}]",
        "arabic" -> "[\\x{0600}-\\x{06FF}]",
        "devanagari" -> "[\\x{0900}-\\x{097F}]",
        "digit" -> "[0-9]")
      val counts = scripts.map { case (n, cls) =>
        s"CAST(len(regexp_extract_all(t, '$cls')) AS BIGINT) AS n_$n"
      }.mkString(",\n         ")
      val total = scripts.map(sc => s"n_${sc._1}").mkString(" + ")
      val domChain = scripts.init.map { case (n, _) =>
        val geAll = scripts.filter(_._1 != n)
          .map(o => s"n_$n >= n_${o._1}").mkString(" AND ")
        s"WHEN $geAll AND n_$n > 0 THEN '$n'"
      }.mkString("\n              ")
      s"""WITH fixed AS (
         |  SELECT doc_id,
         |         text || CASE WHEN doc_id % 3 = 0 THEN ' абвг αβ 漢字数 ١٢'
         |                      WHEN doc_id % 3 = 1 THEN ' नमस्ते 12'
         |                      ELSE '' END AS t
         |  FROM documents WHERE text IS NOT NULL),
         |c AS (
         |  SELECT doc_id,
         |         $counts
         |  FROM fixed)
         |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk, n_arabic,
         |       n_devanagari, n_digit,
         |       CASE WHEN $total = 0 THEN 'none'
         |              $domChain
         |              ELSE 'digit' END AS dominant
         |FROM c ORDER BY doc_id""".stripMargin
    })
  )
}
