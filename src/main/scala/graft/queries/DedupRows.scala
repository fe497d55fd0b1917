package graft
package queries

import graft.api._
import graft.functions.GraftFunctions
import graft.operators._
import graft.queries.Fixtures._
import graft.queries.Shared._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection, entity resolution, similarity joins and
  * benchmark-contamination checks. */
private[queries] object DedupRows {

  /** Exact all-pairs Hamming-≤3 join over SQL-recomputed simhashes —
    * shared by `dedup_simhash_near` (4-block scheme) and
    * `dedup_simhash_near_wide` (multi-block scheme): both candidate
    * generators have recall 1 by pigeonhole, so no approximation
    * enters the oracle. */
  private lazy val simhashNearHammingOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
       |  FROM documents),
       |th AS (
       |  SELECT doc_id,
       |    ${fnvSql("list_transform(generate_series(1, length(tok)), i -> CAST(ascii(substr(tok, i, 1)) AS HUGEINT))")} AS h
       |  FROM toks),
       |votes AS (
       |  SELECT doc_id, bit,
       |         sum(CASE WHEN (CAST(h AS UBIGINT) >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM th, unnest(generate_series(0, 63)) AS t(bit)
       |  GROUP BY doc_id, bit),
       |sh AS (
       |  SELECT doc_id,
       |         sum(CASE WHEN v > 0 THEN CAST(CAST(1 AS UBIGINT) << bit AS HUGEINT) ELSE 0 END) AS shu
       |  FROM votes GROUP BY doc_id),
       |allsh AS (
       |  SELECT d.doc_id, CAST(COALESCE(s.shu, 0) AS UBIGINT) AS shu
       |  FROM documents d LEFT JOIN sh s USING (doc_id))
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |       CAST(bit_count(xor(a.shu, b.shu)) AS BIGINT) AS hamming
       |FROM allsh a JOIN allsh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.shu, b.shu)) <= 3
       |ORDER BY a_id, b_id""".stripMargin

  /**
   * Generated CTE chain re-running EntityResolution.fsFit in SQL: the
   * blocked-candidate pattern counts (fs0, ≤8 rows), then one
   * (e$$k, par$$k) pair per EM iteration — the E-step posterior
   * micro-quantized with the same fixed-order double product, the
   * M-step as exact HUGEINT sums and clamped integral divisions — so
   * par$$k's m/u/p are bit-identical to the Scala fit's after every
   * iteration.
   */
  private val FsCtes: String = {
    def caseProd(v: Char): String =
      (1 to 3).map(k =>
        s"(CASE WHEN g$k = 1 THEN $v$k / 1e6 ELSE 1 - $v$k / 1e6 END)")
        .mkString(" * ")
    val num = s"(p / 1e6) * ${caseProd('m')}"
    val den = s"((1000000 - p) / 1e6) * ${caseProd('u')}"
    val wq = s"CAST(floor(($num) / (($num) + ($den)) * 1000000 + 0.5) AS BIGINT)"
    val iters = (1 to EntityResolution.FsIters).map { i =>
      s"""e$i AS (
         |  SELECT f.g1, f.g2, f.g3, f.n, $wq AS wq
         |  FROM fs0 f CROSS JOIN par${i - 1}),
         |par$i AS (
         |  SELECT
         |    greatest(1, least(999999, (1000000 * sum(wq * n * g1)) // sum(wq * n))) AS m1,
         |    greatest(1, least(999999, (1000000 * sum(wq * n * g2)) // sum(wq * n))) AS m2,
         |    greatest(1, least(999999, (1000000 * sum(wq * n * g3)) // sum(wq * n))) AS m3,
         |    greatest(1, least(999999, (1000000 * sum((1000000 - wq) * n * g1)) // sum((1000000 - wq) * n))) AS u1,
         |    greatest(1, least(999999, (1000000 * sum((1000000 - wq) * n * g2)) // sum((1000000 - wq) * n))) AS u2,
         |    greatest(1, least(999999, (1000000 * sum((1000000 - wq) * n * g3)) // sum((1000000 - wq) * n))) AS u3,
         |    greatest(1, least(999999, sum(wq * n) // sum(n))) AS p
         |  FROM e$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (
       |  SELECT CAST(doc_id AS BIGINT) AS id, substr(text, 1, 24) AS name
       |  FROM documents WHERE length(text) >= 24),
       |pos AS (SELECT id, name, CAST(id % 16 + 4 AS INT) AS p FROM base),
       |records AS (
       |  SELECT id, name FROM base
       |  UNION ALL
       |  SELECT id + 1000000, substr(name, 1, p) || substr(name, p + 2, 24)
       |  FROM pos),
       |keys AS (
       |  SELECT 'p:' || substr(name, 1, 8) AS blk, id, name FROM records
       |  UNION ALL
       |  SELECT 's:' || substr(name, -8, 8) AS blk, id, name FROM records),
       |keep AS (SELECT blk FROM keys GROUP BY blk HAVING count(*) <= 1024),
       |k2 AS (SELECT k.* FROM keys k JOIN keep USING (blk)),
       |cand AS (
       |  SELECT DISTINCT a.id AS a_id, b.id AS b_id,
       |         a.name AS a_name, b.name AS b_name
       |  FROM k2 a JOIN k2 b ON a.blk = b.blk AND a.id < b.id),
       |cmp AS (
       |  SELECT CASE WHEN substr(a_name, 1, 8) = substr(b_name, 1, 8)
       |              THEN 1 ELSE 0 END AS g1,
       |         CASE WHEN substr(a_name, -8, 8) = substr(b_name, -8, 8)
       |              THEN 1 ELSE 0 END AS g2,
       |         CASE WHEN length(a_name) = length(b_name)
       |              THEN 1 ELSE 0 END AS g3
       |  FROM cand),
       |fs0 AS (SELECT g1, g2, g3, CAST(count(*) AS BIGINT) AS n
       |        FROM cmp GROUP BY 1, 2, 3),
       |par0 AS (SELECT CAST(900000 AS BIGINT) AS m1, CAST(900000 AS BIGINT) AS m2,
       |                CAST(900000 AS BIGINT) AS m3, CAST(100000 AS BIGINT) AS u1,
       |                CAST(100000 AS BIGINT) AS u2, CAST(100000 AS BIGINT) AS u3,
       |                CAST(500000 AS BIGINT) AS p),
       |$iters,
       |ef AS (
       |  SELECT f.g1, f.g2, f.g3, f.n, $wq AS wq
       |  FROM fs0 f CROSS JOIN par${EntityResolution.FsIters})""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // Exact dedup groups on a prefix fingerprint.
    QuerySpec("dedup_exact", (s, d) =>
      Dedup.exactGroups(table(s, d, "documents"), "doc_id",
        substring(col("text"), 1, 16)).orderBy("fp"),
      """SELECT substr(text, 1, 16) AS fp, count(*) AS dup_count, min(doc_id) AS keep_id
        |FROM documents GROUP BY fp ORDER BY fp""".stripMargin),
    // Blocked n-gram Jaccard near-dup pairs (exact, oracle-checked).
    QuerySpec("dedup_ngram_jaccard", (s, d) =>
      Dedup.blockedJaccardPairs(table(s, d, "documents"), "doc_id", "text",
        blockLen = 16, threshold = 0.5, scale = Scale).orderBy("a_id", "b_id"),
      """WITH base AS (
        |  SELECT doc_id AS id, substr(text, 1, 16) AS bk,
        |         list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT a.id AS a_id, b.id AS b_id,
        |         round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |               len(list_distinct(list_cat(a.toks, b.toks))), 6) AS jaccard
        |  FROM base a JOIN base b ON a.bk = b.bk AND a.id < b.id)
        |WHERE jaccard >= 0.5
        |ORDER BY a_id, b_id""".stripMargin),
    // MinHash+LSH near-dup pairs, candidates verified with exact shingle
    // Jaccard. Oracle = the full quadratic exact threshold join: every
    // qualifying pair on this corpus sits far above the 8×4 S-curve knee
    // (min Jaccard 0.9 at sf0.01, per-pair collision prob > 0.999), so
    // LSH recall is 1 and the output IS the exact join. ScalaTest pins
    // recall against ground truth independently of the corpus.
    QuerySpec("dedup_minhash", (s, d) =>
      Dedup.minHashPairs(table(s, d, "documents"), "doc_id", "text",
        bands = 8, rowsPerBand = 4, threshold = 0.5, scale = Scale)
        .orderBy("a_id", "b_id"),
      // Exact shingle-Jaccard threshold join over ALL pairs — the shingling
      // mirrors TextHashKernels.shingleSet: non-empty space-split tokens,
      // distinct 3-grams joined by ' ', whole-doc fallback under 3 tokens.
      (s"WITH $shingleCtes,\n$minhashPairsCte\n" +
        "SELECT a_id, b_id, jaccard FROM mh_pairs ORDER BY a_id, b_id")),
    // Asymmetric shingle containment (Broder): |S(A)∩S(B)|/|S(A)| over
    // informative (df-capped) shingles — the quote/subset detector
    // Jaccard misses. Array-free: one hashed inverted-index self-join
    // + pair-count aggregate. Oracle replays the identical contract
    // (no fixture shingle is hotter than the cap, so the card equals
    // the uncapped metric here; the cap semantics are spec-pinned).
    QuerySpec("dedup_containment", (s, d) =>
      Dedup.containmentPairs(table(s, d, "documents"), "doc_id", "text",
        thresholdMicro = 800000L),
      // Containment replayed over the same shingle replay with the SAME
      // informative-shingle contract (df-capped postings, both sides of
      // the ratio); BIGINT integer division both directions.
      (s"WITH $shingleCtes," + """
        |posts AS (SELECT id, unnest(s) AS sg FROM sh),
        |rare AS (SELECT sg FROM posts GROUP BY sg HAVING count(*) <= 1024),
        |inf AS (SELECT p.id, p.sg FROM posts p JOIN rare USING (sg)),
        |nrel AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM inf GROUP BY 1),
        |ov AS (
        |  SELECT a.id AS a_id, b.id AS b_id, CAST(count(*) AS BIGINT) AS overlap
        |  FROM inf a JOIN inf b ON a.sg = b.sg AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT ov.a_id, ov.b_id, na.n AS n_a, nb.n AS n_b, ov.overlap,
        |       CAST((1000000 * ov.overlap) // na.n AS BIGINT) AS cont_a_micro,
        |       CAST((1000000 * ov.overlap) // nb.n AS BIGINT) AS cont_b_micro
        |FROM ov JOIN nrel na ON na.id = ov.a_id
        |        JOIN nrel nb ON nb.id = ov.b_id
        |WHERE greatest((1000000 * ov.overlap) // na.n,
        |               (1000000 * ov.overlap) // nb.n) >= 800000
        |ORDER BY ov.a_id, ov.b_id""".stripMargin)),
    // LSH calibration card: per verified near-dup pair, the
    // probability the 8×4 MinHash S-curve detects it — 1-(1-s^r)^b
    // via fixed multiply chains on the micro-quantized exact Jaccard
    // (no pow: libm differs across engines; multiply chains are
    // bit-identical). Turns "our dedup knobs are fine" into numbers.
    QuerySpec("lsh_calibration", (s, d) =>
      Dedup.lshCalibration(table(s, d, "documents"), "doc_id", "text",
        blockLen = 16, threshold = 0.5, bands = 8, rowsPerBand = 4)
        .orderBy("a_id", "b_id"),
      // The same pair CTE as dedup_ngram_jaccard, then the identical
      // multiply chains: p^4 left-associated, (1-p^4)^8 left-associated.
      """WITH base AS (
        |  SELECT doc_id AS id, substr(text, 1, 16) AS bk,
        |         list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT * FROM (
        |    SELECT a.id AS a_id, b.id AS b_id,
        |           round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |                 len(list_distinct(list_cat(a.toks, b.toks))), 6)
        |             AS jaccard
        |    FROM base a JOIN base b ON a.bk = b.bk AND a.id < b.id)
        |  WHERE jaccard >= 0.5),
        |c AS (
        |  SELECT a_id, b_id,
        |         CAST(floor(jaccard * 1000000.0 + 0.5) AS BIGINT) AS jacc_micro
        |  FROM pairs),
        |e AS (
        |  SELECT *, (1.0 - (((CAST(jacc_micro AS DOUBLE) / 1000000.0 *
        |    (CAST(jacc_micro AS DOUBLE) / 1000000.0)) *
        |    (CAST(jacc_micro AS DOUBLE) / 1000000.0)) *
        |    (CAST(jacc_micro AS DOUBLE) / 1000000.0))) AS m1
        |  FROM c)
        |SELECT a_id, b_id, jacc_micro,
        |       round(1.0 - (((((((m1*m1)*m1)*m1)*m1)*m1)*m1)*m1), 6)
        |         AS detect_prob
        |FROM e ORDER BY a_id, b_id""".stripMargin),
    // SimHash exact-collision groups (rows-only).
    QuerySpec("dedup_simhash", (s, d) =>
      Dedup.simhashGroups(table(s, d, "documents"), "doc_id", "text")
        .orderBy("sh"),
      // Full SQL reimplementation of the 64-bit SimHash (FNV-1a token
      // hashes → per-bit votes → sign bits) in DuckDB HUGEINT arithmetic —
      // proves the engine kernel is deterministic public math, not an
      // engine-defined black box. Token-less docs hash to 0 (no votes win).
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
         |  FROM documents),
         |th AS (
         |  SELECT doc_id,
         |    ${fnvSql("list_transform(generate_series(1, length(tok)), i -> CAST(ascii(substr(tok, i, 1)) AS HUGEINT))")} AS h
         |  FROM toks),
         |votes AS (
         |  SELECT doc_id, bit,
         |         sum(CASE WHEN (CAST(h AS UBIGINT) >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM th, unnest(generate_series(0, 63)) AS t(bit)
         |  GROUP BY doc_id, bit),
         |sh AS (
         |  SELECT doc_id,
         |         sum(CASE WHEN v > 0 THEN CAST(CAST(1 AS UBIGINT) << bit AS HUGEINT) ELSE 0 END) AS shu
         |  FROM votes GROUP BY doc_id),
         |allsh AS (
         |  SELECT d.doc_id, COALESCE(s.shu, 0) AS shu
         |  FROM documents d LEFT JOIN sh s USING (doc_id))
         |SELECT ${toSignedSql("shu")} AS sh,
         |       count(*) AS n_docs, min(doc_id) AS keep_id
         |FROM allsh GROUP BY 1 HAVING count(*) > 1 ORDER BY sh""".stripMargin),
    // SimHash NEAR-match pairs (Manku et al. WWW'07 block scheme):
    // Hamming ≤ 3 over 4 blocks — pigeonhole recall 1 by construction,
    // so the oracle is the exact all-pairs Hamming join over the same
    // SQL-recomputed simhashes. Candidates are (block, value) equality
    // collisions, capped; bit_count(xor) verifies in-stage.
    QuerySpec("dedup_simhash_near", (s, d) => {
      GraftFunctions.register(s)
      Dedup.hammingNearPairs(
        table(s, d, "documents")
          .select(col("doc_id"), GraftFunctions.simhash64(col("text")).as("sh")),
        "doc_id", "sh", nBlocks = 4, maxHamming = 3, maxBucket = Some(1024))
        .orderBy("a_id", "b_id")
    },
      // The same SQL-recomputed simhashes, joined all-pairs on exact
      // Hamming distance — the block scheme's pigeonhole recall is 1 by
      // construction, so no approximation enters the oracle.
      simhashNearHammingOracle),
    // Crawl-scale Hamming near-match: identical semantics and oracle to
    // dedup_simhash_near, through the multi-block key scheme — C(6,3) =
    // 20 tables on ~32-bit packed keys instead of 4 tables on 16-bit
    // blocks, so random-fingerprint block collisions fall from n/2^16
    // to n/2^32 per key (the crawl-scale difference; measured by
    // graft.tools.HammingBlockProbe, table in SCALING.md). Recall is 1
    // by the same pigeonhole, so both entries return identical rows.
    QuerySpec("dedup_simhash_near_wide", (s, d) => {
      GraftFunctions.register(s)
      Dedup.hammingNearPairsWide(
        table(s, d, "documents")
          .select(col("doc_id"), GraftFunctions.simhash64(col("text")).as("sh")),
        "doc_id", "sh", nBlocks = 6, maxHamming = 3, maxBucket = Some(1024))
        .orderBy("a_id", "b_id")
    },
      // Same exact all-pairs oracle: the wide (multi-block) candidate
      // scheme is recall-1 by the same pigeonhole argument.
      simhashNearHammingOracle),
    // Cross-document duplicated-span scan (the token-n-gram formulation
    // of Lee-et-al substring dedup): per document, the fraction of its
    // token-8-gram instances occurring in >= 2 distinct documents —
    // catches PARTIAL overlap (one copied paragraph inside original
    // text) that whole-doc fingerprints miss. Grams ride the shuffle as
    // 64-bit hashes; the oracle recomputes on raw gram text in DuckDB.
    QuerySpec("dedup_span_stats", (s, d) =>
      Dedup.duplicateNgramStats(table(s, d, "documents"), "doc_id", "text",
        n = 8, minDocs = 2, scale = Scale).orderBy("doc_id"),
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, array_to_string(list_slice(t, s + 1, s + 8), ' ') AS gram
        |  FROM toks, unnest(generate_series(0, len(t) - 8)) AS u(s)),
        |per_doc AS (
        |  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
        |dup AS (
        |  SELECT gram FROM per_doc GROUP BY gram HAVING count(*) >= 2),
        |agg AS (
        |  SELECT p.doc_id,
        |         CAST(sum(p.cnt) AS BIGINT) AS n_grams,
        |         CAST(sum(CASE WHEN d.gram IS NOT NULL THEN p.cnt ELSE 0 END) AS BIGINT)
        |           AS dup_grams
        |  FROM per_doc p LEFT JOIN dup d USING (gram)
        |  GROUP BY p.doc_id)
        |SELECT doc.doc_id,
        |       coalesce(a.n_grams, 0) AS n_grams,
        |       coalesce(a.dup_grams, 0) AS dup_grams,
        |       CASE WHEN coalesce(a.n_grams, 0) = 0 THEN 0.0
        |            ELSE round(CAST(a.dup_grams AS DOUBLE) / a.n_grams, 6) END AS dup_frac
        |FROM documents doc LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    // The rewrite half: cut every token covered by a cross-document
    // duplicated 8-gram and reassemble the survivors in order — exact
    // copies collapse to empty, partial overlap keeps the original
    // remainder. The oracle re-derives coverage and the ordered
    // re-concatenation per row.
    QuerySpec("dedup_span_removal", (s, d) =>
      Dedup.removeDuplicateSpans(table(s, d, "documents"), "doc_id", "text",
        n = 8, minDocs = 2).orderBy("doc_id"),
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, s, array_to_string(list_slice(t, s + 1, s + 8), ' ') AS gram
        |  FROM toks, unnest(generate_series(0, len(t) - 8)) AS u(s)),
        |pd AS (
        |  SELECT doc_id, gram FROM g GROUP BY doc_id, gram),
        |dup AS (
        |  SELECT gram FROM pd GROUP BY gram HAVING count(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT g.doc_id, g.s + i.i AS pos
        |  FROM g JOIN dup USING (gram), unnest(generate_series(0, 7)) AS i(i)),
        |tok AS (
        |  SELECT doc_id, w.i - 1 AS pos, t[w.i] AS tok
        |  FROM toks, unnest(generate_series(1, len(t))) AS w(i)),
        |kept AS (
        |  SELECT k.doc_id, k.pos, k.tok
        |  FROM tok k LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.pos = c.pos
        |  WHERE c.doc_id IS NULL),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |         string_agg(tok, ' ' ORDER BY pos) AS clean
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(len(string_split(d.text, ' ')) - coalesce(a.n_kept, 0) AS BIGINT)
        |         AS n_removed,
        |       coalesce(a.clean, '') AS text_clean
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    // Near-dup CLUSTERS: transitive closure of the blocked-Jaccard pair
    // graph via iterative min-label propagation — pairwise hits alone
    // under-dedup chains (A~B, B~C, A≁C). component = min reachable id;
    // keep one doc per component. Oracle = DuckDB recursive CTE over
    // the same pair graph.
    QuerySpec("dedup_components", (s, d) =>
      ConnectedComponents.componentSizes(
        Dedup.blockedJaccardPairs(table(s, d, "documents"), "doc_id", "text",
          blockLen = 16, threshold = 0.3, scale = Scale),
        "a_id", "b_id")
        .orderBy("id"),
      // Transitive closure of the same blocked-Jaccard pair graph the
      // Spark side builds (threshold 0.3): component = min reachable id,
      // computed by a recursive reachability CTE; n_members counts the
      // cluster.
      """WITH RECURSIVE base AS (
        |  SELECT doc_id AS id, substr(text, 1, 16) AS bk,
        |         list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a_id, b_id FROM (
        |    SELECT a.id AS a_id, b.id AS b_id,
        |           round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |                 len(list_distinct(list_cat(a.toks, b.toks))), 6) AS jaccard
        |    FROM base a JOIN base b ON a.bk = b.bk AND a.id < b.id)
        |  WHERE jaccard >= 0.3),
        |edges AS (
        |  SELECT a_id AS u, b_id AS v FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |comp AS (
        |  SELECT u AS id, least(u, min(v)) AS component
        |  FROM reach GROUP BY u)
        |SELECT id, component,
        |       CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_members
        |FROM comp ORDER BY id""".stripMargin),
    // Quality-aware representative selection over the same near-dup
    // clusters: keep each cluster's LONGEST member (n_chars, ties →
    // lowest id) — the production rule "keep the most complete
    // variant", replacing min-id with an argmax picked by one
    // max_by hash aggregate (no per-cluster sort).
    QuerySpec("dedup_keep_best", (s, d) => {
      val docs = table(s, d, "documents")
      Dedup.keepBestVerdict(docs, "doc_id", col("n_chars"),
        Dedup.blockedJaccardPairs(docs, "doc_id", "text",
          blockLen = 16, threshold = 0.3, scale = Scale))
        .orderBy("id")
    },
      // Same pair graph + transitive closure as the dedup_components
      // oracle; the kept member is the component's (max n_chars, min id)
      // argmax, derived with a window max + min-id reduction.
      """WITH RECURSIVE base AS (
        |  SELECT doc_id AS id, substr(text, 1, 16) AS bk,
        |         list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a_id, b_id FROM (
        |    SELECT a.id AS a_id, b.id AS b_id,
        |           round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |                 len(list_distinct(list_cat(a.toks, b.toks))), 6) AS jaccard
        |    FROM base a JOIN base b ON a.bk = b.bk AND a.id < b.id)
        |  WHERE jaccard >= 0.3),
        |edges AS (
        |  SELECT a_id AS u, b_id AS v FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |comp AS (
        |  SELECT u AS id, least(u, min(v)) AS component
        |  FROM reach GROUP BY u),
        |members AS (
        |  SELECT d.doc_id AS id, coalesce(c.component, d.doc_id) AS comp,
        |         d.n_chars
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        |kept AS (
        |  SELECT comp, min(id) AS kept_id FROM (
        |    SELECT comp, id, n_chars,
        |           max(n_chars) OVER (PARTITION BY comp) AS mx
        |    FROM members)
        |  WHERE n_chars = mx GROUP BY comp)
        |SELECT m.id, k.kept_id, m.id = k.kept_id AS is_kept
        |FROM members m JOIN kept k USING (comp)
        |ORDER BY m.id""".stripMargin),
    // Entity resolution (record linkage): multi-pass prefix/suffix
    // blocking → equality join on block keys → levenshtein only within
    // blocks → connected components for entity ids. The fixture links
    // each 24-char document title to a deterministically corrupted
    // copy (one char deleted); blocking recall is 1 by pigeonhole
    // (an edit keeps the prefix-8 OR the suffix-8 key intact — the
    // single-edit guarantee holds whenever 2k <= name length; k=8 on
    // 24-char names measured 7.7x fewer candidate pairs than k=6 at
    // sf0.1 with identical fixture recall), which
    // the exact DuckDB oracle confirms. maxBucket caps viral blocks.
    QuerySpec("er_fuzzy_join", (s, d) => {
      EntityResolution.fuzzyPairs(erRecords(s, d), "id", "name",
        maxDist = 2, blockKeyLen = 8, maxBucket = Some(1024))
        .orderBy("a_id", "b_id")
    },
      // Entity-resolution oracles rebuild the identical fixture relation
      // (24-char titles + one-char-deleted copies), replicate the
      // prefix/suffix blocking with the 1024 viral-block cap, and verify
      // with DuckDB's own levenshtein; the similarity is the same
      // single-division double expression on both sides.
      """WITH base AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, substr(text, 1, 24) AS name
        |  FROM documents WHERE length(text) >= 24),
        |pos AS (SELECT id, name, CAST(id % 16 + 4 AS INT) AS p FROM base),
        |records AS (
        |  SELECT id, name FROM base
        |  UNION ALL
        |  SELECT id + 1000000, substr(name, 1, p) || substr(name, p + 2, 24)
        |  FROM pos),
        |keys AS (
        |  SELECT 'p:' || substr(name, 1, 8) AS blk, id, name FROM records
        |  UNION ALL
        |  SELECT 's:' || substr(name, -8, 8) AS blk, id, name FROM records),
        |keep AS (SELECT blk FROM keys GROUP BY blk HAVING count(*) <= 1024),
        |k2 AS (SELECT k.* FROM keys k JOIN keep USING (blk)),
        |cand AS (
        |  SELECT DISTINCT a.id AS a_id, b.id AS b_id,
        |         a.name AS a_name, b.name AS b_name
        |  FROM k2 a JOIN k2 b ON a.blk = b.blk AND a.id < b.id)
        |SELECT a_id, b_id, a_name, b_name,
        |       CAST(levenshtein(a_name, b_name) AS INT) AS dist,
        |       1.0 - CAST(levenshtein(a_name, b_name) AS DOUBLE) /
        |             CAST(greatest(length(a_name), length(b_name)) AS DOUBLE) AS sim
        |FROM cand WHERE levenshtein(a_name, b_name) <= 2
        |ORDER BY a_id, b_id""".stripMargin),
    QuerySpec("er_entities", (s, d) => {
      EntityResolution.resolveEntities(erRecords(s, d), "id", "name",
        maxDist = 2, blockKeyLen = 8, maxBucket = Some(1024))
        .orderBy("record_id")
    },
      """WITH RECURSIVE base AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, substr(text, 1, 24) AS name
        |  FROM documents WHERE length(text) >= 24),
        |pos AS (SELECT id, name, CAST(id % 16 + 4 AS INT) AS p FROM base),
        |records AS (
        |  SELECT id, name FROM base
        |  UNION ALL
        |  SELECT id + 1000000, substr(name, 1, p) || substr(name, p + 2, 24)
        |  FROM pos),
        |keys AS (
        |  SELECT 'p:' || substr(name, 1, 8) AS blk, id, name FROM records
        |  UNION ALL
        |  SELECT 's:' || substr(name, -8, 8) AS blk, id, name FROM records),
        |keep AS (SELECT blk FROM keys GROUP BY blk HAVING count(*) <= 1024),
        |k2 AS (SELECT k.* FROM keys k JOIN keep USING (blk)),
        |pairs AS (
        |  SELECT DISTINCT a.id AS a_id, b.id AS b_id
        |  FROM k2 a JOIN k2 b ON a.blk = b.blk AND a.id < b.id
        |  WHERE levenshtein(a.name, b.name) <= 2),
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |lbl AS (SELECT src, min(dst) AS mn FROM reach GROUP BY src)
        |SELECT r.id AS record_id, r.name,
        |       least(r.id, coalesce(l.mn, r.id)) AS entity_id
        |FROM records r LEFT JOIN lbl l ON l.src = r.id
        |ORDER BY record_id""".stripMargin),
    // Jaro–Winkler fuzzy join over the same blocking — the kernel is
    // pinned to DuckDB's native jaro_winkler_similarity conventions,
    // so the oracle is an INDEPENDENT implementation of the same
    // function agreeing pair-by-pair on the 6-dp grid.
    QuerySpec("er_jaro_join", (s, d) =>
      EntityResolution.jaroPairs(erRecords(s, d), "id", "name",
        minSim = 0.94, blockKeyLen = 8, maxBucket = Some(1024))
        .orderBy("a_id", "b_id"),
      """WITH base AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, substr(text, 1, 24) AS name
        |  FROM documents WHERE length(text) >= 24),
        |pos AS (SELECT id, name, CAST(id % 16 + 4 AS INT) AS p FROM base),
        |records AS (
        |  SELECT id, name FROM base
        |  UNION ALL
        |  SELECT id + 1000000, substr(name, 1, p) || substr(name, p + 2, 24)
        |  FROM pos),
        |keys AS (
        |  SELECT 'p:' || substr(name, 1, 8) AS blk, id, name FROM records
        |  UNION ALL
        |  SELECT 's:' || substr(name, -8, 8) AS blk, id, name FROM records),
        |keep AS (SELECT blk FROM keys GROUP BY blk HAVING count(*) <= 1024),
        |k2 AS (SELECT k.* FROM keys k JOIN keep USING (blk)),
        |cand AS (
        |  SELECT DISTINCT a.id AS a_id, b.id AS b_id,
        |         a.name AS a_name, b.name AS b_name
        |  FROM k2 a JOIN k2 b ON a.blk = b.blk AND a.id < b.id)
        |SELECT a_id, b_id, a_name, b_name,
        |       round(jaro_winkler_similarity(a_name, b_name), 6) AS jw
        |FROM cand WHERE round(jaro_winkler_similarity(a_name, b_name), 6) >= 0.94
        |ORDER BY a_id, b_id""".stripMargin),
    // Fellegi–Sunter (1969) probabilistic record linkage over the
    // same blocked candidates: 3-field agreement patterns (≤8 rows —
    // the only distributed pass), unsupervised EM for m/u/prevalence
    // on the integral micro grid (bit-reproducible in any engine),
    // then the per-pattern match posteriors and the field-level log₂
    // likelihood-ratio weights every linkage handbook tabulates.
    QuerySpec("er_fs_patterns", (s, d) =>
      EntityResolution.fsPatterns(
        EntityResolution.comparisonPatterns(erRecords(s, d), "id", "name",
          blockKeyLen = 8, maxBucket = Some(1024)),
        fsModel(s, d))
        .orderBy("g1", "g2", "g3"),
      (FsCtes + """
        |SELECT g1, g2, g3, n AS n_pairs, wq AS w_micro
        |FROM ef ORDER BY g1, g2, g3""".stripMargin)),
    QuerySpec("er_fs_weights", (s, d) =>
      EntityResolution.fsWeights(s, fsModel(s, d)).orderBy("field"),
      (FsCtes + s"""
        |SELECT field, m_micro, u_micro,
        |       round(log2(CAST(m_micro AS DOUBLE) / CAST(u_micro AS DOUBLE)), 6)
        |         AS agree_weight,
        |       round(log2(CAST(1000000 - m_micro AS DOUBLE) /
        |                  CAST(1000000 - u_micro AS DOUBLE)), 6)
        |         AS disagree_weight
        |FROM (
        |  SELECT 'prefix' AS field, CAST(m1 AS BIGINT) AS m_micro,
        |         CAST(u1 AS BIGINT) AS u_micro FROM par${EntityResolution.FsIters}
        |  UNION ALL
        |  SELECT 'suffix', CAST(m2 AS BIGINT), CAST(u2 AS BIGINT)
        |  FROM par${EntityResolution.FsIters}
        |  UNION ALL
        |  SELECT 'length', CAST(m3 AS BIGINT), CAST(u3 AS BIGINT)
        |  FROM par${EntityResolution.FsIters})
        |ORDER BY field""".stripMargin)),
    // Bottom-k source-similarity sketches: per-source k-min md5
    // digests → pairwise Jaccard estimates beside the exact values.
    // Deterministic end to end, so the oracle rebuilds the sketches.
    QuerySpec("sketch_kmin_jaccard", (s, d) =>
      BottomKSketch.pairwiseJaccard(table(s, d, "documents"),
        "source", "text", k = 64)
        .orderBy("src_a", "src_b"),
      // Bottom-k sketches rebuilt digest by digest: same md5 order, same
      // row_number cut, same integer counts, same single divisions.
      """WITH allh AS (SELECT DISTINCT source AS src, md5(text) AS h FROM documents),
        |srcs AS (SELECT DISTINCT src FROM allh),
        |pairs AS (
        |  SELECT a.src AS src_a, b.src AS src_b
        |  FROM srcs a, srcs b WHERE a.src < b.src),
        |sk AS (SELECT src, h FROM (
        |  SELECT src, h, row_number() OVER (PARTITION BY src ORDER BY h) AS rk
        |  FROM allh) WHERE rk <= 64),
        |u AS (
        |  SELECT p.src_a, p.src_b, s.h
        |  FROM pairs p JOIN sk s ON s.src = p.src_a
        |  UNION
        |  SELECT p.src_a, p.src_b, s.h
        |  FROM pairs p JOIN sk s ON s.src = p.src_b),
        |m AS (SELECT src_a, src_b, h FROM (
        |  SELECT src_a, src_b, h,
        |         row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rk
        |  FROM u) WHERE rk <= 64),
        |msize AS (
        |  SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS m_size
        |  FROM m GROUP BY 1, 2),
        |estn AS (
        |  SELECT m.src_a, m.src_b, CAST(count(*) AS BIGINT) AS est_num
        |  FROM m JOIN sk sa ON sa.src = m.src_a AND sa.h = m.h
        |         JOIN sk sb ON sb.src = m.src_b AND sb.h = m.h
        |  GROUP BY 1, 2),
        |sizes AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM allh GROUP BY 1),
        |intr AS (
        |  SELECT a.src AS src_a, b.src AS src_b, CAST(count(*) AS BIGINT) AS inter
        |  FROM allh a JOIN allh b ON a.h = b.h AND a.src < b.src GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b,
        |       coalesce(e.est_num, 0) AS est_num,
        |       coalesce(ms.m_size, 0) AS m_size,
        |       CAST(coalesce(e.est_num, 0) AS DOUBLE) / CAST(ms.m_size AS DOUBLE)
        |         AS est_jaccard,
        |       coalesce(i.inter, 0) AS inter,
        |       sa.n + sb.n - coalesce(i.inter, 0) AS uni,
        |       CAST(coalesce(i.inter, 0) AS DOUBLE) /
        |         CAST(sa.n + sb.n - coalesce(i.inter, 0) AS DOUBLE) AS exact_jaccard
        |FROM pairs p
        |LEFT JOIN msize ms ON ms.src_a = p.src_a AND ms.src_b = p.src_b
        |LEFT JOIN estn e ON e.src_a = p.src_a AND e.src_b = p.src_b
        |JOIN sizes sa ON sa.src = p.src_a
        |JOIN sizes sb ON sb.src = p.src_b
        |LEFT JOIN intr i ON i.src_a = p.src_a AND i.src_b = p.src_b
        |ORDER BY p.src_a, p.src_b""".stripMargin),
    // Edit-distance similarity self-join (τ = 1): deletion-
    // neighborhood blocking (complete for τ = 1) + exact bit-parallel
    // verify — output ≡ brute force, and the oracle IS the literal
    // quadratic DuckDB self-join. The ER/spell-correction primitive.
    QuerySpec("dedup_edit_join", (s, d) =>
      EditJoin.editSelfJoin(
        table(s, d, "customer").select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name", tau = 1).orderBy("id_a", "id_b"),
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin),
    // Min-k%-prob membership inference (Shi et al. 2023): mean
    // log-prob of each doc's 20% least-likely windows under the
    // corpus trigram LM — memorized/contaminated docs have no
    // low-probability outliers, so a HIGH min-k mean is the flag.
    // Window log-probs quantize once to the micro grid; selection is
    // an exact ordered prefix sum per doc.
    QuerySpec("contamination_min_k", (s, d) => {
      val docs = table(s, d, "documents")
      LanguageModel.minKProb(docs, "doc_id", "text",
        docs, "doc_id", "text", kPct = 20).orderBy("doc_id")
    },
      // Same probe CTEs as doc_perplexity, then the min-k selection:
      // micro-quantized window log-probs, ordered prefix sum, exact
      // integer take arithmetic, one rounded double mean.
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |pos AS (
        |  SELECT doc_id, g.nw AS nw, g.a AS a, g.b AS b, g.c AS c FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
        |      i -> struct_pack(
        |        nw := least(i, 3),
        |        a := CASE WHEN i >= 3 THEN toks[i-2] END,
        |        b := CASE WHEN i >= 2 THEN toks[i-1] END,
        |        c := toks[i]))) AS g
        |    FROM tok)),
        |uni AS (SELECT c AS g, count(*) AS cnt FROM pos GROUP BY 1),
        |bi AS (SELECT b || ' ' || c AS g, count(*) AS cnt FROM pos
        |       WHERE nw >= 2 GROUP BY 1),
        |tri AS (SELECT a || ' ' || b || ' ' || c AS g, count(*) AS cnt FROM pos
        |        WHERE nw = 3 GROUP BY 1 HAVING count(*) >= 2),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM pos),
        |probe AS (
        |  SELECT doc_id, nw, a, b, c, count(*) AS k FROM pos
        |  GROUP BY doc_id, nw, a, b, c),
        |sc AS (
        |  SELECT p.doc_id, p.k,
        |    CASE WHEN p.nw = 3 THEN p.a || ' ' || p.b || ' ' || p.c
        |         WHEN p.nw = 2 THEN p.b || ' ' || p.c
        |         ELSE p.c END AS w,
        |    CASE WHEN t.cnt IS NOT NULL
        |           THEN CAST(t.cnt AS DOUBLE) / CAST(coalesce(cb.cnt, 1) AS DOUBLE)
        |         WHEN bg.cnt IS NOT NULL
        |           THEN (CASE WHEN p.nw = 3 THEN 0.4 ELSE 1.0 END) *
        |                CAST(bg.cnt AS DOUBLE) / CAST(coalesce(cu.cnt, 1) AS DOUBLE)
        |         ELSE (CASE WHEN p.nw = 3 THEN 0.4 * 0.4
        |                    WHEN p.nw = 2 THEN 0.4 ELSE 1.0 END) *
        |              CAST(coalesce(u.cnt, 1) AS DOUBLE) / tot.n
        |    END AS s
        |  FROM probe p
        |  LEFT JOIN tri t ON p.nw = 3 AND t.g = p.a || ' ' || p.b || ' ' || p.c
        |  LEFT JOIN bi cb ON p.nw = 3 AND cb.g = p.a || ' ' || p.b
        |  LEFT JOIN bi bg ON p.nw >= 2 AND bg.g = p.b || ' ' || p.c
        |  LEFT JOIN uni cu ON p.nw >= 2 AND cu.g = p.b
        |  LEFT JOIN uni u ON u.g = p.c
        |  CROSS JOIN tot),
        |q AS (
        |  SELECT doc_id, k, w,
        |         CAST(CAST(round(log10(s), 6) AS DECIMAL(28,6)) * 1000000
        |              AS BIGINT) AS lp
        |  FROM sc),
        |cum AS (
        |  SELECT doc_id, k, lp,
        |         sum(k) OVER (PARTITION BY doc_id ORDER BY lp, w
        |                      ROWS UNBOUNDED PRECEDING) AS c,
        |         sum(k) OVER (PARTITION BY doc_id) AS n
        |  FROM q),
        |sel AS (
        |  SELECT doc_id, n, greatest(1, (n * 20) // 100) AS m,
        |         greatest(0, least(k,
        |           greatest(1, (n * 20) // 100) - (c - k))) AS take,
        |         lp
        |  FROM cum)
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
        |       CAST(max(m) AS BIGINT) AS k_tokens,
        |       round(CAST(sum(take * lp) AS DOUBLE) / max(m), 6)
        |         AS mink_logp_micro_mean
        |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // Type-2 code clone groups — the dedup class exact hashing can't
    // see: forks that renamed every variable and changed every
    // literal. Fixture: four code templates whose identifiers/
    // literals vary per doc (incl. a string literal carrying the doc
    // source — normalized away), so normalization collapses the
    // corpus to exactly the four structural classes; the oracle pins
    // that group structure arithmetically (doc_id % 4), the
    // normalization itself is spec-pinned. Exact-dedup economics: one
    // 32-byte-key hash aggregate.
    QuerySpec("code_clone_groups", (s, d) => {
      val a = (col("doc_id") % 7).cast("string")
      val b = (col("doc_id") % 5).cast("string")
      val c = (col("doc_id") % 13).cast("string")
      val codeText = when(col("doc_id") % 4 === 0,
          concat(lit("def f"), a, lit("(x"), b, lit("): if x"), b,
            lit(" > "), c, lit(": return x"), b, lit(" * "), c))
        .when(col("doc_id") % 4 === 1,
          concat(lit("for i"), a, lit(" in range("), c, lit("): s"), b,
            lit(" = s"), b, lit(" + i"), a))
        .when(col("doc_id") % 4 === 2,
          concat(lit("while n"), a, lit(" < "), c, lit(": n"), a,
            lit(" = n"), a, lit(" * 2")))
        .otherwise(
          concat(lit("class C"), a, lit(": val y"), b, lit(" = \""),
            col("source"), lit("\"")))
      CodeCorpus.cloneGroups(
        table(s, d, "documents").select(col("doc_id"),
          codeText.as("text")),
        "doc_id", "text").orderBy("doc_id")
    },
      """WITH g AS (
        |  SELECT doc_id % 4 AS t, CAST(count(*) AS BIGINT) AS n_clones,
        |         min(doc_id) AS clone_rep
        |  FROM documents GROUP BY 1)
        |SELECT d.doc_id, g.clone_rep, g.n_clones
        |FROM documents d JOIN g ON d.doc_id % 4 = g.t
        |ORDER BY d.doc_id""".stripMargin),
    // Embedding similarity join, blocked on label (exact, oracle-checked).
    // maxBucket ENGAGED: `label` is a coarse key by construction (its
    // cardinality doesn't grow with the corpus), so at 100× one label
    // block would dominate and the within-block join is quadratic. The
    // cap bounds any block at 1024 rows (1024²/2 pairs); at test scale
    // the largest label block is far under the cap, so output is
    // byte-identical to the uncapped exact join — which is what the
    // DuckDB oracle checks.
    QuerySpec("sim_join_label", (s, d) =>
      SimilarityJoin.blockedCosinePairs(table(s, d, "embeddings"), "vec_id",
        "embedding", "label", threshold = 0.3, scale = Scale,
        maxBucket = Some(1024))
        .orderBy("a_id", "b_id"),
      """WITH base AS (
        |  SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT * FROM (
        |  SELECT a.id AS a_id, b.id AS b_id,
        |         round(list_inner_product(a.v, b.v) /
        |               (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6)
        |           AS cos_sim
        |  FROM base a JOIN base b ON a.label = b.label AND a.id < b.id)
        |WHERE cos_sim >= 0.3
        |ORDER BY a_id, b_id""".stripMargin),
    // Embedding-cosine near-dup dedup: pairs above threshold (blocked on
    // label) collapse to keep-the-min-id; output = removed id → kept id.
    // Same coarse-key hazard, same cap (see sim_join_label above).
    QuerySpec("dedup_embedding", (s, d) =>
      SimilarityJoin.blockedCosinePairs(table(s, d, "embeddings"), "vec_id",
        "embedding", "label", threshold = 0.3, scale = Scale,
        maxBucket = Some(1024))
        .groupBy(col("b_id").as("removed_id"))
        .agg(min("a_id").as("kept_id"))
        .orderBy("removed_id"),
      """WITH base AS (
        |  SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pairs AS (
        |  SELECT * FROM (
        |    SELECT a.id AS a_id, b.id AS b_id,
        |           round(list_inner_product(a.v, b.v) /
        |                 (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6)
        |             AS cos_sim
        |    FROM base a JOIN base b ON a.label = b.label AND a.id < b.id)
        |  WHERE cos_sim >= 0.3)
        |SELECT b_id AS removed_id, min(a_id) AS kept_id
        |FROM pairs GROUP BY b_id ORDER BY removed_id""".stripMargin),
    // Banded (multi-table) LSH similarity join. Oracle = the exact
    // quadratic threshold join: the 6-bits × 64-tables configuration is
    // the cheapest point on the MEASURED recall/cost sweep
    // (graft.CosineLshRecall) with recall exactly 1 at every tested
    // scale — so the LSH output IS the exact join, at ~37% fewer
    // candidates than 4×64 (and ~4× fewer at 10× the rows, since bucket
    // sizes shrink 4× per +2 bits). Recall vs ground truth is pinned in
    // SimilarityJoinSpec.
    // Slim layout (default): the candidate dedup runs on 16-byte pairs
    // and the vector join-backs broadcast — measured ~2× faster here
    // than carrying vectors through the bucket join (carryVectors wins
    // only once the vector side outgrows the broadcast threshold AND
    // collisions stay near-unique; see SimilarityJoin scaladoc).
    // maxBucket = the viral-bucket guardrail, ENGAGED: a boilerplate
    // cluster (near-identical embeddings land in identical buckets in
    // every table) can never contribute more than 1024²/2 candidate
    // pairs per bucket. Measured headroom (LshScaleProbe): the largest
    // bucket is 24 rows at sf0.01 and 97 at sf0.1, so the cap drops
    // nothing at test scales (capDrop=0 measured) and the oracle's
    // exact join still matches. Rows a cap WOULD drop are exact-dup
    // territory, which dedup_exact handles with one hash aggregate.
    QuerySpec("sim_join_lsh", (s, d) =>
      SimilarityJoin.lshCosinePairsBanded(table(s, d, "embeddings"), "vec_id",
        "embedding", bitsPerTable = 6, nTables = 64, threshold = 0.4, scale = Scale,
        maxBucket = Some(1024))
        .orderBy("a_id", "b_id"),
      // Exact cosine threshold join over ALL pairs — the banded LSH query
      // has recall 1 on this corpus (see the queries entry), so its output
      // is exactly this join.
      """WITH base AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT * FROM (
        |  SELECT a.id AS a_id, b.id AS b_id,
        |         round(list_inner_product(a.v, b.v) /
        |               (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6)
        |           AS cos_sim
        |  FROM base a JOIN base b ON a.id < b.id)
        |WHERE cos_sim >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,
      // sweep drifted 1.3–1.5× in the r7→r8 suite growth; isolated held
      isolate = true),
    // Incremental SEMANTIC ingestion gate: batch rows (vec_id >= 250)
    // with no cosine-0.4 near-dup in the historical corpus (vec_id <
    // 250) survive. Candidates are batch×corpus bucket collisions only
    // (same 6×64 recall-1 parameters as sim_join_lsh, so the gate
    // equals the oracle's exact NOT EXISTS); corpus×corpus pairs are
    // never generated.
    QuerySpec("dedup_semantic_incremental", (s, d) => {
      val emb = table(s, d, "embeddings")
      Dedup.incrementalSemanticNew(
        emb.filter(col("vec_id") >= 250), emb.filter(col("vec_id") < 250),
        "vec_id", "embedding", bitsPerTable = 6, nTables = 64,
        threshold = 0.4, maxBucket = Some(1024))
        .select("vec_id", "label")
        .orderBy("vec_id")
    },
      // Exact NOT-EXISTS gate (= the LSH between-join at recall 1).
      """WITH base AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT b.vec_id, b.label
        |FROM base b
        |WHERE b.vec_id >= 250 AND NOT EXISTS (
        |  SELECT 1 FROM base c
        |  WHERE c.vec_id < 250 AND
        |        round(list_inner_product(b.v, c.v) /
        |              (sqrt(list_inner_product(b.v, b.v)) *
        |               sqrt(list_inner_product(c.v, c.v))), 6) >= 0.4)
        |ORDER BY vec_id""".stripMargin),
    // SemDeDup-style semantic dedup over EMBEDDINGS: LSH-bucketed
    // cosine pairs (recall 1 at these measured parameters, so the pair
    // graph is exactly the threshold join) → connected components →
    // per-row keep verdict. Every corpus row is labeled with its
    // cluster representative; singletons keep themselves.
    QuerySpec("dedup_semantic", (s, d) => {
      val emb = table(s, d, "embeddings")
      Dedup.semanticKeepVerdict(emb, "vec_id",
        SimilarityJoin.lshCosinePairsBanded(emb, "vec_id", "embedding",
          bitsPerTable = 6, nTables = 64, threshold = 0.4, scale = Scale,
          maxBucket = Some(1024)))
        .orderBy("id")
    },
      // Exact cosine threshold join (= the LSH pair graph at recall 1)
      // → recursive-CTE transitive closure → per-row keep verdict over
      // the whole embeddings corpus, singletons included.
      """WITH RECURSIVE base AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pairs AS (
        |  SELECT a_id, b_id FROM (
        |    SELECT a.id AS a_id, b.id AS b_id,
        |           round(list_inner_product(a.v, b.v) /
        |                 (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6)
        |             AS cos_sim
        |    FROM base a JOIN base b ON a.id < b.id)
        |  WHERE cos_sim >= 0.4),
        |edges AS (
        |  SELECT a_id AS u, b_id AS v FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |comp AS (
        |  SELECT u AS id, least(u, min(v)) AS component
        |  FROM reach GROUP BY u)
        |SELECT b.id, coalesce(c.component, b.id) AS kept_id,
        |       coalesce(c.component, b.id) = b.id AS is_kept
        |FROM base b LEFT JOIN comp c ON b.id = c.id
        |ORDER BY b.id""".stripMargin),
    // Benchmark-contamination detection: training docs (doc_id < 450)
    // sharing ≥ 2 verbatim token-3-gram shingles with the held-out set
    // (doc_id >= 450). The eval side broadcasts; the corpus never
    // shuffles for the match.
    QuerySpec("contamination_check", (s, d) => {
      val docs = table(s, d, "documents")
      ContaminationCheck.ngramOverlap(
        docs.filter(col("doc_id") < 450), docs.filter(col("doc_id") >= 450),
        "doc_id", "text", minShingles = 2L)
        .orderBy("train_id", "eval_id")
    },
      // Same shingling as the dedup_minhash oracle; overlap = exact
      // intersection count per (train, eval) pair.
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(t) = 0 THEN []
        |                  WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |                  ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
        |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
        |  FROM toks),
        |tr AS (SELECT doc_id AS train_id, unnest(s) AS shingle FROM sh WHERE doc_id < 450),
        |ev AS (SELECT doc_id AS eval_id, unnest(s) AS shingle FROM sh WHERE doc_id >= 450)
        |SELECT train_id, eval_id, count(*) AS n_shared_shingles
        |FROM tr JOIN ev USING (shingle)
        |GROUP BY train_id, eval_id
        |HAVING count(*) >= 2
        |ORDER BY train_id, eval_id""".stripMargin),
    // Paraphrase-level (embedding) contamination — the leakage the
    // verbatim n-gram scan can't see: training vectors (vec_id >= 50)
    // cosine-0.4-close to any eval vector (vec_id < 50), with the
    // closest eval doc as evidence. Candidates are train×eval bucket
    // collisions only (6×64 = the measured recall-1 parameters, so the
    // output equals the oracle's exact quadratic join); the corpus is
    // never shuffled.
    QuerySpec("contamination_semantic", (s, d) => {
      val emb = table(s, d, "embeddings")
      ContaminationCheck.semanticOverlap(
        emb.filter(col("vec_id") >= 50), emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", threshold = 0.4, scale = Scale,
        maxBucket = Some(1024))
        .orderBy("train_id")
    },
      // Exact quadratic train×eval cosine join (= the LSH between-join
      // at measured recall 1); closest eval doc via the rank-1 window,
      // ties → lowest eval id — the same tie rule as the Spark min_by.
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (
        |  SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
        |         round(list_inner_product(t.v, e.v) /
        |               (sqrt(list_inner_product(t.v, t.v)) *
        |                sqrt(list_inner_product(e.v, e.v))), 6) AS cos_sim
        |  FROM base t, base e
        |  WHERE t.vec_id >= 50 AND e.vec_id < 50),
        |r AS (
        |  SELECT train_id, eval_id, cos_sim,
        |         row_number() OVER (PARTITION BY train_id
        |                            ORDER BY cos_sim DESC, eval_id) AS rk
        |  FROM p WHERE cos_sim >= 0.4)
        |SELECT train_id,
        |       CAST(count(*) AS BIGINT) AS n_eval_hits,
        |       CAST(min(CASE WHEN rk = 1 THEN eval_id END) AS BIGINT)
        |         AS closest_eval_id,
        |       max(cos_sim) AS max_cos_sim
        |FROM r GROUP BY train_id ORDER BY train_id""".stripMargin),
    // Winnowing fingerprint sketch (Schleimer et al. 2003, the MOSS
    // selection rule): token-3-gram FNV-1a hashes → per-window-of-4
    // minima → each doc's distinct selected fingerprints. One codegen
    // kernel pass in the scan stage; the oracle recomputes every hash
    // and window minimum in DuckDB HUGEINT arithmetic.
    QuerySpec("doc_winnow", (s, d) => {
      GraftFunctions.register(s)
      table(s, d, "documents")
        .select(col("doc_id"),
          explode(GraftFunctions.winnowFingerprints(col("text"), 3, 4)).as("fp"))
        .orderBy("doc_id", "fp")
    },
      // Winnowing re-derived in SQL: canonical single-spaced 3-gram text
      // → FNV-1a (HUGEINT mod-2^64), window-of-4 minima via a lateral
      // window-start series, distinct minima per doc. The selected HASH
      // per window is the min, so the rightmost-tie POSITION rule of the
      // kernel cannot affect this distinct-hash output.
    {
      val gramHash = fnvSql(
        "list_transform(generate_series(1, length(g)), " +
          "i -> CAST(ascii(substr(g, CAST(i AS INT), 1)) AS HUGEINT))")
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS t
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id, CAST(s AS BIGINT) AS pos,
         |         t[s] || ' ' || t[s+1] || ' ' || t[s+2] AS g
         |  FROM toks, unnest(generate_series(1, len(t) - 2)) u(s)
         |  WHERE len(t) >= 3),
         |gh AS (
         |  SELECT doc_id, pos, $gramHash AS h FROM grams),
         |m AS (
         |  SELECT doc_id, greatest(CAST(count(*) AS BIGINT) - 3, 1) AS last_start
         |  FROM gh GROUP BY doc_id),
         |wins AS (
         |  SELECT g.doc_id, w.s AS ws, g.h
         |  FROM m, unnest(generate_series(1, m.last_start)) w(s), gh g
         |  WHERE g.doc_id = m.doc_id AND g.pos >= w.s AND g.pos < w.s + 4),
         |sel AS (
         |  SELECT DISTINCT doc_id, mh FROM (
         |    SELECT doc_id, ws, min(h) AS mh FROM wins GROUP BY doc_id, ws))
         |SELECT doc_id, ${toSignedSql("mh")} AS fp
         |FROM sel ORDER BY doc_id, fp""".stripMargin
    }),
    // Winnow-sketch overlap pairs: documents sharing ≥ 2 selected
    // fingerprints — local-overlap (plagiarism-style) detection over
    // the ~2/(w+1)-volume sketch instead of every n-gram. Explode →
    // equality join on the 8-byte hash → pair count; the guarantee
    // bounds misses to runs shorter than n+w-1 tokens. maxBucket
    // ENGAGED: a fingerprint selected from universal boilerplate can
    // never make the self-join quadratic (measured headroom: largest
    // bucket is 6 at sf0.01, 170× under the cap — drops nothing here).
    QuerySpec("dedup_winnow_pairs", (s, d) => {
      GraftFunctions.register(s)
      val fp = Dedup.capBuckets(
        table(s, d, "documents")
          .select(col("doc_id"),
            explode(GraftFunctions.winnowFingerprints(col("text"), 3, 4)).as("fp")),
        Seq("fp"), Some(1024))
      fp.alias("a").join(fp.alias("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy("a_id", "b_id")
    },
      // The same winnow selection, self-joined on fingerprint equality.
    {
      val gramHash = fnvSql(
        "list_transform(generate_series(1, length(g)), " +
          "i -> CAST(ascii(substr(g, CAST(i AS INT), 1)) AS HUGEINT))")
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS t
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id, CAST(s AS BIGINT) AS pos,
         |         t[s] || ' ' || t[s+1] || ' ' || t[s+2] AS g
         |  FROM toks, unnest(generate_series(1, len(t) - 2)) u(s)
         |  WHERE len(t) >= 3),
         |gh AS (
         |  SELECT doc_id, pos, $gramHash AS h FROM grams),
         |m AS (
         |  SELECT doc_id, greatest(CAST(count(*) AS BIGINT) - 3, 1) AS last_start
         |  FROM gh GROUP BY doc_id),
         |wins AS (
         |  SELECT g.doc_id, w.s AS ws, g.h
         |  FROM m, unnest(generate_series(1, m.last_start)) w(s), gh g
         |  WHERE g.doc_id = m.doc_id AND g.pos >= w.s AND g.pos < w.s + 4),
         |sel AS (
         |  SELECT DISTINCT doc_id, mh FROM (
         |    SELECT doc_id, ws, min(h) AS mh FROM wins GROUP BY doc_id, ws))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       CAST(count(*) AS BIGINT) AS n_shared
         |FROM sel a JOIN sel b ON a.mh = b.mh AND a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id
         |HAVING count(*) >= 2
         |ORDER BY a_id, b_id""".stripMargin
    }),
    // Contamination release gate: per-source contaminated-doc counts
    // and rates over the same train/eval split — the distinct hit set
    // broadcasts back onto the train relation, one stratum aggregate.
    QuerySpec("contamination_by_source", (s, d) => {
      val docs = table(s, d, "documents")
      ContaminationCheck.overlapBySource(
        docs.filter(col("doc_id") < 450), docs.filter(col("doc_id") >= 450),
        "doc_id", "text", "source", minShingles = 2L)
        .orderBy("source")
    },
      // Same shingle join as the contamination_check oracle, rolled up:
      // distinct contaminated train ids left-joined back per source.
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(t) = 0 THEN []
        |                  WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |                  ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
        |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
        |  FROM toks),
        |tr AS (SELECT doc_id AS train_id, unnest(s) AS shingle FROM sh WHERE doc_id < 450),
        |ev AS (SELECT doc_id AS eval_id, unnest(s) AS shingle FROM sh WHERE doc_id >= 450),
        |hits AS (
        |  SELECT DISTINCT train_id FROM (
        |    SELECT train_id, eval_id
        |    FROM tr JOIN ev USING (shingle)
        |    GROUP BY train_id, eval_id
        |    HAVING count(*) >= 2)),
        |base AS (SELECT doc_id, source FROM documents WHERE doc_id < 450)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_train_docs,
        |       CAST(count(h.train_id) AS BIGINT) AS n_contaminated,
        |       round(CAST(count(h.train_id) AS DOUBLE) / count(*), 4)
        |         AS contamination_rate
        |FROM base b LEFT JOIN hits h ON b.doc_id = h.train_id
        |GROUP BY source ORDER BY source""".stripMargin),
    // Incremental dedup: the continuous-ingestion shape — new batch
    // (doc_id >= 250) anti-joined against the historical fingerprint
    // set (doc_id < 250); only genuinely new content survives.
    QuerySpec("dedup_incremental", (s, d) => {
      val docs = table(s, d, "documents")
      val old = docs.filter(col("doc_id") < 250)
      val batch = docs.filter(col("doc_id") >= 250)
      Dedup.incrementalNew(batch, old, "doc_id",
        TextAnalysis.fingerprint(col("text")), TextAnalysis.fingerprint(col("text")))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },
      """SELECT b.doc_id, b.lang, b.source
        |FROM documents b
        |WHERE b.doc_id >= 250 AND NOT EXISTS (
        |  SELECT 1 FROM documents o
        |  WHERE o.doc_id < 250 AND md5(lower(o.text)) = md5(lower(b.text)))
        |ORDER BY b.doc_id""".stripMargin),
    // The 14th streaming surface: the SAME daily-ingest dedup gate run
    // continuously — new docs stream in, each micro-batch anti-joins on
    // content fingerprint against the static corpus (stateless; no
    // state store), only novel docs land in the clean-store sink. The
    // ingest is a per-sf offline artifact; the query reads the sink and
    // must equal the batch incrementalNew result — the same oracle.
    QuerySpec("dedup_incremental_streamed", (s, d) =>
      s.read.parquet(dedupStreamStore(s, d))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      // The streamed gate's sink must equal the batch anti-join exactly.
      """SELECT b.doc_id, b.lang, b.source
        |FROM documents b
        |WHERE b.doc_id >= 250 AND NOT EXISTS (
        |  SELECT 1 FROM documents o
        |  WHERE o.doc_id < 250 AND md5(lower(o.text)) = md5(lower(b.text)))
        |ORDER BY b.doc_id""".stripMargin),
    QuerySpec("doc_fingerprint", (s, d) =>
      TextAnalysis.fingerprints(table(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      "SELECT doc_id, md5(lower(text)) AS fp FROM documents ORDER BY doc_id"),
    // Margin-based bitext mining (the CCMatrix/LASER recipe): en↔de
    // translation-pair candidates scored by cosine normalized against
    // each side's k-NN neighborhood mean, mutual-best + threshold.
    // All post-cosine arithmetic runs on a micro-integer grid, so the
    // mined set is bit-exact and the oracle replays it. Candidates
    // are the SCALE PATH: the two-relation banded LSH bucket join
    // (en×de bucket collisions only — corpus×corpus pairs never
    // materialize) with the ANN-recipe candidate floor
    // cos_micro >= 300000 as part of the row's semantics. At the
    // 3×64 parameters LSH recall on this relation is exactly 1, so
    // the oracle replays the candidate set as the exact threshold
    // relation (cross join + WHERE — the oracle may be O(n²); the
    // plan is not, which BitextPlanSpec asserts structurally).
    QuerySpec("bitext_mining", (s, d) => {
      GraftFunctions.register(s)
      val docs = table(s, d, "documents")
      val emb = table(s, d, "embeddings")
      def side(lang: String) = docs.filter(col("lang") === lang)
        .select(col("doc_id").as("id"))
        .join(emb.select(col("vec_id").as("id"),
          col("embedding").as("v")), "id")
      val cands = BitextMining.candidatesBetween(
        side("en"), side("de"), "id", "v", thresholdMicro = 300000L,
        bitsPerTable = 3, nTables = 64, maxBucket = Some(4096))
      BitextMining.marginPairs(cands, "x_id", "y_id", "cos_micro")
        .orderBy("x_id")
    },
      // Margin mining replayed: the identical micro-integer pipeline —
      // floor(cos·1e6+0.5) quantization (list_inner_product cosine, the
      // knn-proven replay), the ANN-candidate floor (>= 300000 — the
      // LSH bucket join at recall-1 parameters makes the candidate set
      // equal this exact threshold relation), per-side top-4 neighbor
      // means (integral), ×2e6 margin ratio (// equals Spark's div on
      // the non-negative grid), mutual-best, threshold.
      """WITH ae AS (
        |  SELECT d.doc_id AS x_id, CAST(e.embedding AS DOUBLE[]) AS v
        |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        |  WHERE d.lang = 'en'),
        |be AS (
        |  SELECT d.doc_id AS y_id, CAST(e.embedding AS DOUBLE[]) AS v
        |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        |  WHERE d.lang = 'de'),
        |pairs AS (
        |  SELECT x_id, y_id,
        |         CAST(floor(1000000.0 * (list_inner_product(a.v, b.v) /
        |           (sqrt(list_inner_product(a.v, a.v)) *
        |            sqrt(list_inner_product(b.v, b.v)))) + 0.5) AS BIGINT)
        |           AS cos_micro
        |  FROM ae a CROSS JOIN be b),
        |pos AS (SELECT * FROM pairs WHERE cos_micro >= 300000),
        |rx AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY x_id ORDER BY cos_micro DESC, y_id) AS rn FROM pos),
        |mx AS (SELECT x_id, CAST(sum(cos_micro) // count(*) AS BIGINT) AS mnn_x
        |       FROM rx WHERE rn <= 4 GROUP BY x_id),
        |ry AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY y_id ORDER BY cos_micro DESC, x_id) AS rn FROM pos),
        |my AS (SELECT y_id, CAST(sum(cos_micro) // count(*) AS BIGINT) AS mnn_y
        |       FROM ry WHERE rn <= 4 GROUP BY y_id),
        |scored AS (
        |  SELECT p.x_id, p.y_id, p.cos_micro,
        |         CAST((p.cos_micro * 2000000) // (mx.mnn_x + my.mnn_y)
        |              AS BIGINT) AS margin_micro
        |  FROM pos p JOIN mx USING (x_id) JOIN my USING (y_id)
        |  WHERE mx.mnn_x + my.mnn_y > 0),
        |bx AS (
        |  SELECT x_id, y_id, cos_micro, margin_micro FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY x_id ORDER BY margin_micro DESC, y_id) AS rn
        |    FROM scored) WHERE rn = 1),
        |by_ AS (
        |  SELECT x_id, y_id FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY y_id ORDER BY margin_micro DESC, x_id) AS rn
        |    FROM scored) WHERE rn = 1)
        |SELECT bx.x_id, bx.y_id, bx.cos_micro, bx.margin_micro,
        |       (by_.x_id IS NOT NULL) AS mutual,
        |       (by_.x_id IS NOT NULL AND bx.margin_micro > 1050000) AS is_mined
        |FROM bx LEFT JOIN by_ ON by_.x_id = bx.x_id AND by_.y_id = bx.y_id
        |ORDER BY bx.x_id""".stripMargin)
  )
}
