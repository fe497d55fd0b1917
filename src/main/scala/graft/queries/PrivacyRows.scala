package graft
package queries

import graft.api._
import graft.functions.GraftFunctions
import graft.operators._
import graft.queries.Fixtures._
import graft.queries.Shared._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PII detection, redaction and privacy-preserving releases, plus
  * blocklist and license scans. */
private[queries] object PrivacyRows {

  val specs: Seq[QuerySpec] = Seq(
    // Checksum-validated PII: 16-digit card candidates (synthesized
    // in-plan with a correct Luhn check digit iff doc_id % 3 == 0) are
    // extracted and validated by the ISO 7812 mod-10 sum. The oracle
    // derives the verdict from the CONSTRUCTION (valid ⟺ residue 0),
    // so Spark's checksum arithmetic is checked independently.
    QuerySpec("pii_luhn", (s, d) => {
      val base = lpad((col("doc_id") * 7919L % 1000000000000000L)
        .cast("string"), 15, "0")
      val revB = reverse(base)
      val s15 = aggregate(
        transform(sequence(lit(1), lit(15)), j => {
          val dg = ascii(revB.substr(j, lit(1))) - lit(48)
          when(j % 2 === 1,
            when(dg * 2 > 9, dg * 2 - 9).otherwise(dg * 2)).otherwise(dg)
        }),
        lit(0), (acc, v) => acc + v)
      val check = ((lit(10) - s15 % 10) % 10 +
        when(col("doc_id") % 3 === 0, 0).otherwise(5)) % 10
      val fixture = table(s, d, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(" "), base, check.cast("string")).as("text"))
      Pii.luhnAudit(fixture, "doc_id", "text").orderBy("doc_id")
    },
      // The fixture's check digit is correct iff doc_id % 3 = 0, so the
      // oracle states the verdict from the construction — Spark's Luhn
      // arithmetic must reach the same booleans on its own.
      """WITH f AS (
        |  SELECT doc_id,
        |         lpad(CAST(doc_id * 7919 % 1000000000000000 AS VARCHAR), 15, '0')
        |           AS b
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, b,
        |         list_sum(list_transform(generate_series(1, 15), j ->
        |           CASE WHEN j % 2 = 1 THEN
        |             CASE WHEN 2 * (ascii(substr(reverse(b), CAST(j AS INT), 1)) - 48) > 9
        |                  THEN 2 * (ascii(substr(reverse(b), CAST(j AS INT), 1)) - 48) - 9
        |                  ELSE 2 * (ascii(substr(reverse(b), CAST(j AS INT), 1)) - 48) END
        |           ELSE ascii(substr(reverse(b), CAST(j AS INT), 1)) - 48 END)) AS s15
        |  FROM f)
        |SELECT doc_id,
        |       b || CAST(((10 - s15 % 10) % 10 +
        |                  CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 5 END) % 10
        |                 AS VARCHAR) AS candidate,
        |       (doc_id % 3 = 0) AS luhn_valid
        |FROM s ORDER BY doc_id""".stripMargin),
    // Redaction-span union — several detectors' half-open spans per
    // doc merge by sweep (overlap/containment/adjacency become one
    // cut) before any string surgery. Windows partitioned per doc;
    // the oracle replays the identical sweep.
    QuerySpec("pii_span_merge", (s, d) => {
      val a = (col("doc_id") * 7) % 50
      val k = col("doc_id") % 4
      val spans = table(s, d, "documents")
        .select(col("doc_id"), explode(array(
          struct(a.as("s"), (a + 5).as("e")),
          struct((a + 3 + k).as("s"), (a + 9 + k).as("e")),
          struct((a + 20).as("s"), (a + 24).as("e")))).as("sp"))
        .select(col("doc_id"), col("sp.s").as("s"), col("sp.e").as("e"))
      Pii.spanMergeCard(spans, "doc_id", "s", "e").orderBy("doc_id")
    },
      """WITH base AS (
        |  SELECT doc_id, (doc_id * 7) % 50 AS a, doc_id % 4 AS k
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, a AS s, a + 5 AS e FROM base
        |  UNION ALL
        |  SELECT doc_id, a + 3 + k, a + 9 + k FROM base
        |  UNION ALL
        |  SELECT doc_id, a + 20, a + 24 FROM base),
        |g AS (
        |  SELECT doc_id, s, e,
        |         CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |              IS NULL
        |           OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |         THEN 1 ELSE 0 END AS nw
        |  FROM sp),
        |g2 AS (
        |  SELECT doc_id, s, e,
        |         sum(nw) OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
        |  FROM g),
        |m AS (
        |  SELECT doc_id, grp, min(s) AS ms, max(e) AS me
        |  FROM g2 GROUP BY 1, 2)
        |SELECT doc_id, CAST(3 AS BIGINT) AS n_raw,
        |       CAST(count(*) AS BIGINT) AS n_merged,
        |       CAST(sum(me - ms) AS BIGINT) AS covered_chars
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // IBAN audit — the account-number analogue of pii_luhn: extract
    // ISO 13616-shaped candidates and gate them on the ISO 7064
    // mod-97-10 checksum, folded char-by-char in int arithmetic (the
    // big number never materializes; acc stays < 97). Fixture IBANs
    // carry id-derived check digits, so ~1/100 validate — exactly the
    // false-positive separation the checksum exists for. Scan-local
    // HOF projection; the oracle replays the fold with list_reduce.
    QuerySpec("pii_iban", (s, d) => {
      val fixture = table(s, d, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(" iban DE"),
            lpad((col("doc_id") % 100).cast("string"), 2, "0"),
            lpad((col("doc_id") * 7919L % 100000000000L).cast("string"),
              11, "0")).as("text"))
      Pii.ibanAudit(fixture, "doc_id", "text").orderBy("doc_id")
    },
      """WITH cand AS (
        |  SELECT doc_id,
        |         'DE' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
        |         lpad(CAST(doc_id * 7919 % 100000000000 AS VARCHAR), 11, '0')
        |           AS candidate
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, candidate,
        |         substr(candidate, 5) || substr(candidate, 1, 4) AS re
        |  FROM cand)
        |SELECT doc_id, candidate,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(1, length(re) + 1),
        |             i -> CAST(CASE WHEN ascii(substr(re, CAST(i AS INT), 1)) >= 65
        |                       THEN 65536 + ascii(substr(re, CAST(i AS INT), 1)) - 55
        |                       ELSE ascii(substr(re, CAST(i AS INT), 1)) - 48 END
        |                       AS BIGINT))),
        |         (acc, x) -> (acc * (CASE WHEN x >= 65536 THEN 100 ELSE 10 END)
        |                      + x % 65536) % 97) = 1 AS iban_valid
        |FROM r ORDER BY doc_id""".stripMargin),
    // Code-corpus license gate (the-Stack-style): a canonical notice
    // chosen by doc_id arithmetic is prepended in-plan; the regex
    // cascade must rediscover it — spdx id, family, keep verdict —
    // while the oracle re-derives the ground truth arithmetically,
    // so the detector is tested against truth it never saw. Priority
    // order resolves multi-license files conservatively (spec-pinned).
    QuerySpec("code_license_scan", (s, d) => {
      val idx = col("doc_id") % 10
      val header = CodeCorpus.Licenses.map(_._4).zipWithIndex
        .foldRight(lit(""): org.apache.spark.sql.Column) {
          case ((txt, i), rest) => when(idx === i, lit(txt + "\n")).otherwise(rest)
        }
      val fixed = table(s, d, "documents")
        .select(col("doc_id"), concat(header, col("text")).as("text"))
      CodeCorpus.licenseScan(fixed, "doc_id", "text").orderBy("doc_id")
    },
      // Ground truth by doc_id arithmetic — the regex cascade never
      // informs the oracle.
      """SELECT doc_id,
        |  CASE doc_id % 10
        |    WHEN 0 THEN 'AGPL-3.0' WHEN 1 THEN 'GPL-3.0'
        |    WHEN 2 THEN 'GPL-2.0' WHEN 3 THEN 'LGPL-2.1'
        |    WHEN 4 THEN 'MPL-2.0' WHEN 5 THEN 'Apache-2.0'
        |    WHEN 6 THEN 'MIT' WHEN 7 THEN 'BSD-3-Clause'
        |    WHEN 8 THEN 'Unlicense' ELSE 'unknown' END AS license,
        |  CASE WHEN doc_id % 10 IN (0, 1, 2) THEN 'copyleft'
        |       WHEN doc_id % 10 IN (3, 4) THEN 'weak-copyleft'
        |       WHEN doc_id % 10 IN (5, 6, 7) THEN 'permissive'
        |       WHEN doc_id % 10 = 8 THEN 'public-domain'
        |       ELSE 'unknown' END AS family,
        |  (doc_id % 10 IN (5, 6, 7, 8)) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin),
    // PII detection + redaction audit. The synthetic corpus has no
    // natural PII, so a deterministic augmentation step (emails/phones/
    // IPv4s derived from doc_id) is part of the fixture IN the plan —
    // both engines build the identical text, then scrub it.
    // Release-gate governance beside the PII text pass: k-anonymity
    // over the (lang, source) quasi-identifiers — the risk card
    // (sizes, at-risk flags, distinct-content l-diversity evidence)
    // and the standard suppression rewrite (QIs of sub-k groups
    // blanked, payload kept). The group-size relation is |groups|
    // rows, broadcast back; the rewrite itself is scan-local.
    QuerySpec("privacy_k_anonymity", (s, d) =>
      Anonymity.kAnonymityCard(table(s, d, "documents"),
        Seq("lang", "source"), "text", k = 5)
        .orderBy("lang", "source"),
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS l_distinct,
        |       (count(*) < 5) AS at_risk
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin),
    // GDPR erasure-cascade audit: the deletion manifest a
    // right-to-be-forgotten batch must produce — per-table
    // before/removed/after counts as the victim set cascades through
    // the foreign keys (customer → orders → lineitem). Victims and
    // order keys are broadcast semi/anti-join sides; each table is
    // scanned once.
    QuerySpec("privacy_erasure_cascade", (s, d) => {
      val cust = table(s, d, "customer")
      val ord = table(s, d, "orders")
      val li = table(s, d, "lineitem")
      val victims = cust.filter(col("c_custkey") % 97 === 3)
        .select(col("c_custkey").as("k"))
      val deadOrders = ord.join(broadcast(victims),
        col("o_custkey") === col("k")).select(col("o_orderkey").as("ok"))
      def cardRow(name: String, df: DataFrame, removed: DataFrame) = {
        val b = df.agg(count(lit(1)).as("rows_before"))
        val r = removed.agg(count(lit(1)).as("rows_removed"))
        b.crossJoin(r).select(lit(name).as("table_name"),
          col("rows_before"), col("rows_removed"),
          (col("rows_before") - col("rows_removed")).as("rows_after"))
      }
      cardRow("customer", cust,
          cust.join(broadcast(victims), col("c_custkey") === col("k")))
        .unionAll(cardRow("lineitem", li,
          li.join(broadcast(deadOrders), col("l_orderkey") === col("ok"))))
        .unionAll(cardRow("orders", ord,
          ord.join(broadcast(victims), col("o_custkey") === col("k"))))
        .orderBy("table_name")
    },
      """WITH victims AS (
        |  SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 3),
        |dead_orders AS (
        |  SELECT o_orderkey AS ok FROM orders
        |  JOIN victims ON o_custkey = k)
        |SELECT 'customer' AS table_name,
        |       CAST((SELECT count(*) FROM customer) AS BIGINT) AS rows_before,
        |       CAST((SELECT count(*) FROM victims) AS BIGINT) AS rows_removed,
        |       CAST((SELECT count(*) FROM customer) -
        |            (SELECT count(*) FROM victims) AS BIGINT) AS rows_after
        |UNION ALL
        |SELECT 'lineitem',
        |       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
        |       CAST((SELECT count(*) FROM lineitem
        |             JOIN dead_orders ON l_orderkey = ok) AS BIGINT),
        |       CAST((SELECT count(*) FROM lineitem) -
        |            (SELECT count(*) FROM lineitem
        |             JOIN dead_orders ON l_orderkey = ok) AS BIGINT)
        |UNION ALL
        |SELECT 'orders',
        |       CAST((SELECT count(*) FROM orders) AS BIGINT),
        |       CAST((SELECT count(*) FROM dead_orders) AS BIGINT),
        |       CAST((SELECT count(*) FROM orders) -
        |            (SELECT count(*) FROM dead_orders) AS BIGINT)
        |ORDER BY table_name""".stripMargin),
    QuerySpec("privacy_suppress", (s, d) =>
      Anonymity.suppressSmallGroups(table(s, d, "documents"),
        Seq("lang", "source"), k = 5)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      """WITH g AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2)
        |SELECT doc_id,
        |       CASE WHEN n < 5 THEN '*' ELSE d.lang END AS lang,
        |       CASE WHEN n < 5 THEN '*' ELSE d.source END AS source
        |FROM documents d JOIN g USING (lang, source) ORDER BY doc_id""".stripMargin),
    // l-diversity (Machanavajjhala et al. 2006) — the middle rung of
    // the k-anon / l-div / t-closeness release ladder: per source
    // group, distinct AND entropy l-diversity over the language
    // attribute, the entropy on the exact 6-dp log grid.
    QuerySpec("privacy_l_diversity", (s, d) =>
      Anonymity.lDiversityCard(table(s, d, "documents"),
        Seq("source"), "lang", l = 3)
        .orderBy("source"),
      // l-diversity replayed: (source × lang) cells, exact 6-dp-grid
      // entropy, the SAME pinned log10(l) micro threshold literal.
    {
      val thr = graft.operators.Anonymity.logLMicro(3)
      s"""WITH cells AS (
         |  SELECT source, lang, count(*) AS c
         |  FROM documents GROUP BY 1, 2),
         |g AS (
         |  SELECT source, sum(c) AS n_docs, count(*) AS l_distinct
         |  FROM cells GROUP BY 1),
         |e AS (
         |  SELECT cells.source,
         |         CAST(sum(c * (CAST(round(log10(n_docs), 6) AS DECIMAL(28,6))
         |                       - CAST(round(log10(c), 6) AS DECIMAL(28,6))))
         |              AS DECIMAL(38,6)) AS es
         |  FROM cells JOIN g ON cells.source = g.source
         |  GROUP BY cells.source)
         |SELECT g.source, CAST(g.n_docs AS BIGINT) AS n_docs,
         |       CAST(g.l_distinct AS BIGINT) AS l_distinct,
         |       CAST(CAST(e.es * 1000000 AS HUGEINT) //
         |            CAST(g.n_docs AS HUGEINT) AS BIGINT) AS entropy_micro,
         |       g.l_distinct >= 3 AS distinct_pass,
         |       CAST(CAST(e.es * 1000000 AS HUGEINT) //
         |            CAST(g.n_docs AS HUGEINT) AS BIGINT) >= $thr
         |         AS entropy_pass
         |FROM g JOIN e ON g.source = e.source
         |ORDER BY g.source""".stripMargin
    }),
    QuerySpec("privacy_t_closeness", (s, d) =>
      Anonymity.tClosenessCard(table(s, d, "documents"),
        Seq("lang", "source"), "n_chars", bucketWidth = 64L,
        tMicro = 150000L)
        .orderBy("lang", "source"),
      """WITH cell AS (
        |  SELECT lang, source, n_chars // 64 AS bk, CAST(count(*) AS HUGEINT) AS c
        |  FROM documents GROUP BY 1, 2, 3),
        |g AS (SELECT lang, source, sum(c) AS n_g FROM cell GROUP BY 1, 2),
        |gl AS (SELECT bk, sum(c) AS cb FROM cell GROUP BY 1),
        |t AS (SELECT sum(cb) AS n_total, CAST(count(*) AS HUGEINT) AS m FROM gl),
        |grid AS (
        |  SELECT g.lang, g.source, gl.bk, g.n_g, gl.cb,
        |         coalesce(cell.c, 0) AS c
        |  FROM g CROSS JOIN gl
        |  LEFT JOIN cell ON cell.lang = g.lang AND cell.source = g.source
        |                AND cell.bk = gl.bk),
        |cum AS (
        |  SELECT lang, source, n_g,
        |         sum(c * (SELECT n_total FROM t) - cb * n_g)
        |           OVER (PARTITION BY lang, source ORDER BY bk) AS cu
        |  FROM grid),
        |agg AS (
        |  SELECT lang, source, max(n_g) AS n_g, sum(abs(cu)) AS s
        |  FROM cum GROUP BY 1, 2),
        |fin AS (
        |  SELECT lang, source, n_g,
        |         CASE WHEN (SELECT m FROM t) > 1
        |              THEN (1000000 * s) //
        |                   (((SELECT m FROM t) - 1) * n_g * (SELECT n_total FROM t))
        |              ELSE 0 END AS emd
        |  FROM agg)
        |SELECT lang, source, CAST(n_g AS BIGINT) AS n_docs,
        |       CAST(emd AS BIGINT) AS emd_micro,
        |       emd > 150000 AS exceeds_t
        |FROM fin ORDER BY lang, source""".stripMargin),
    QuerySpec("pii_redact", (s, d) => {
      val aug = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), ((col("doc_id") * 7) % 256).cast("string"))).otherwise(lit("")))
      Pii.scrub(table(s, d, "documents").withColumn("text", aug), "doc_id", "text")
        .orderBy("doc_id")
    },
      """WITH aug AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 3 = 0
        |              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 5 = 0
        |              THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 7 = 0
        |              THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
        |                   CAST((doc_id * 7) % 256 AS VARCHAR)
        |              ELSE '' END AS t
        |  FROM documents),
        |red AS (
        |  SELECT doc_id, t,
        |         regexp_replace(regexp_replace(regexp_replace(t,
        |           '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |           '\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS r
        |  FROM aug)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(t,
        |       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(length(r) AS BIGINT) AS n_chars_redacted,
        |  md5(r) AS redacted_fp
        |FROM red ORDER BY doc_id""".stripMargin),
    // Blocklist scan — Aho-Corasick multi-pattern matching: all
    // patterns (words AND multi-word phrases, including one that is a
    // substring of another) found in ONE text pass per document,
    // O(text + matches) regardless of pattern count; the automaton is
    // driver-built and broadcast (handle in the plan, payload fetched
    // once per executor). The oracle re-counts each borderless
    // pattern by replace-arithmetic and sums.
    QuerySpec("blocklist_scan", (s, d) => {
      GraftFunctions.register(s)
      val tag = blocklistTag(s)
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          GraftFunctions.acScan(tag, col("text")).as("r"))
        .select(col("doc_id"),
          col("r.total_matches").as("total_matches"),
          col("r.distinct_patterns").as("distinct_patterns"))
        .orderBy("doc_id")
    },
      // Per-pattern occurrence counts by replace-arithmetic (exact for
      // the borderless patterns used — no occurrence can self-overlap),
      // summed for the total, thresholded for the distinct count.
    {
      val pats = Seq("dup", "hash", "scan", "slow scan", "table value")
      val cnts = pats.map(p =>
        s"(strlen(text) - strlen(replace(text, '$p', ''))) // ${p.length}")
      s"""SELECT doc_id,
         |       CAST(${cnts.mkString(" + ")} AS BIGINT) AS total_matches,
         |       CAST(${cnts.map(c => s"CASE WHEN $c > 0 THEN 1 ELSE 0 END")
          .mkString(" + ")} AS BIGINT) AS distinct_patterns
         |FROM documents WHERE text IS NOT NULL
         |ORDER BY doc_id""".stripMargin
    }),
    // Minified/generated-code gate: even doc_ids become single-line
    // space-stripped "bundles" (tripled to trip the avg-line cap),
    // odd ones become one-word-per-line "formatted" files; the
    // detector recomputes the three features per row and the oracle
    // replays them arithmetically.
    QuerySpec("code_minified_scan", (s, d) => {
      val fixed = table(s, d, "documents")
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0,
            repeat(regexp_replace(col("text"), " ", ""), 3))
            .otherwise(translate(col("text"), " ", "\n")).as("text"))
      CodeCorpus.minifiedStats(fixed, "doc_id", "text").orderBy("doc_id")
    },
      // Minified features replayed arithmetically over the same fixture
      // (explicit [ \t\n\r] class — \s coverage differs Java vs RE2).
      """WITH fixed AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 2 = 0 THEN repeat(replace(text, ' ', ''), 3)
        |              ELSE translate(text, ' ', chr(10)) END AS t
        |  FROM documents WHERE length(text) >= 1),
        |f AS (
        |  SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
        |         CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
        |         CAST(list_max(list_transform(string_split(t, chr(10)),
        |           x -> length(x))) AS BIGINT) AS max_line,
        |         CAST(length(t) - length(regexp_replace(t,
        |           '[ ' || chr(9) || chr(10) || chr(13) || ']', '', 'g'))
        |           AS BIGINT) AS n_ws
        |  FROM fixed),
        |g AS (
        |  SELECT doc_id, n_chars, n_lines, max_line,
        |         round(CAST(n_chars - (n_lines - 1) AS DOUBLE) / n_lines, 6)
        |           AS avg_line,
        |         round(CAST(n_ws AS DOUBLE) / n_chars, 6) AS ws_ratio
        |  FROM f)
        |SELECT doc_id, n_chars, n_lines, max_line, avg_line, ws_ratio,
        |       (avg_line > 200.0 OR (max_line > 500 AND ws_ratio < 0.05))
        |         AS minified
        |FROM g ORDER BY doc_id""".stripMargin),
    // Noisy group counts (truncated geometric mechanism) as a
    // deterministic SIMULATION: the seed is fixed and visible here so
    // the oracle can replay the noise — a 16-bit md5 uniform of the
    // unit-separator-encoded key through precomputed integer
    // inverse-CDF thresholds (eps-DP requires a secret seed; see
    // DifferentialPrivacy's class doc). True n rides along for the
    // gate only.
    QuerySpec("privacy_dp_counts", (s, d) =>
      DifferentialPrivacy.noisyCounts(
        table(s, d, "documents"), Seq("lang", "source"),
        secretSeed = "dp")
        .orderBy("lang", "source"),
      // The DP noise CASE is generated from the SAME precomputed integer
      // thresholds the Spark expression uses — one source of truth, no
      // transcendental at query time on either engine.
    {
      val u16 =
        """((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 +
          | (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 +
          | (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 +
          |  strpos('0123456789abcdef', substr(h, 4, 1)) - 1)""".stripMargin
      s"""WITH g AS (
         |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1, 2),
         |gh AS (
         |  SELECT lang, source, n,
         |         md5('dp' || chr(31) ||
         |             coalesce(CAST(lang AS VARCHAR), chr(0)) || chr(31) ||
         |             coalesce(CAST(source AS VARCHAR), chr(0))) AS h
         |  FROM g),
         |u AS (
         |  SELECT lang, source, n, CAST($u16 AS BIGINT) AS u16 FROM gh),
         |z AS (
         |  SELECT lang, source, n, u16,
         |         CAST(${DifferentialPrivacy.noiseCaseSql("u16")} AS BIGINT)
         |           AS noise
         |  FROM u)
         |SELECT lang, source, n, u16, noise,
         |       greatest(n + noise, 0) AS noisy_n,
         |       ${DifferentialPrivacy.Eps} AS eps
         |FROM z ORDER BY lang, source""".stripMargin
    })
  )
}
