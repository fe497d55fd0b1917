package graft
package queries

import graft.api._
import graft.functions.GraftFunctions
import graft.operators._
import graft.queries.Fixtures._
import graft.queries.Shared._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data preparation: splits, sampling, mixtures, packing and
  * objective construction. */
private[queries] object TrainingDataRows {

  /** The md5 percent-bucket expression ([[DatasetSplit.bucket]]'s
    * replay), shared by dataset_split / stratified_sample /
    * split_leakage. */
  private def md5BucketSql(idExpr: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1, 4),
       |           i -> (strpos('0123456789abcdef',
       |                   substr(md5(CAST($idExpr AS VARCHAR)), CAST(i AS INT), 1)) - 1)
       |                * CAST(16 ** (4 - i) AS BIGINT))) % 100 AS BIGINT)""".stripMargin

  private val dsirCtes: String =
    """WITH t AS (
      |  SELECT doc_id, lang = 'en' AS tgt,
      |         string_split(text, ' ') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |n AS (
      |  SELECT doc_id, tgt,
      |         unnest(list_concat(toks,
      |           list_transform(generate_series(1, len(toks) - 1),
      |             i -> toks[CAST(i AS INT)] || ' ' ||
      |                  toks[CAST(i + 1 AS INT)]))) AS ng
      |  FROM t),
      |b AS (
      |  SELECT doc_id, tgt,
      |    CAST(list_sum(list_transform(generate_series(1, 4), i ->
      |      (strpos('0123456789abcdef',
      |         substr(md5(ng), CAST(i AS INT), 1)) - 1)
      |      * CAST(16 ** (4 - i) AS BIGINT))) % 1024 AS BIGINT) AS bk
      |  FROM n),
      |c AS (
      |  SELECT bk, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
      |         sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cq
      |  FROM b GROUP BY 1),
      |lam AS (
      |  SELECT bk,
      |         CAST(round(log10(ct + 1), 6) AS DECIMAL(28,6)) -
      |         CAST(round(log10(cq + 1), 6) AS DECIMAL(28,6)) AS l
      |  FROM c),
      |tot AS (
      |  SELECT CAST(round(log10(sum(ct) + 1024), 6) AS DECIMAL(28,6)) -
      |         CAST(round(log10(sum(cq) + 1024), 6) AS DECIMAL(28,6))
      |           AS off
      |  FROM c),
      |wgt AS (
      |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
      |         round(CAST(sum(lam.l) - count(*) * tot.off AS DOUBLE), 6)
      |           AS logweight
      |  FROM b JOIN lam USING (bk), tot
      |  WHERE NOT b.tgt
      |  GROUP BY b.doc_id, tot.off)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // SFT conversation prep: render a turns relation through the
    // ChatML-shaped template with the loss-mask boundary (train on the
    // final assistant response only). The turns fixture derives from
    // document text slices; the oracle re-renders with string_agg and
    // re-derives the boundary from integer turn lengths.
    QuerySpec("chat_render", (s, d) => {
      val docs = table(s, d, "documents").filter(length(col("text")) >= 80)
      val t = docs.select(col("doc_id").as("conv_id"), col("doc_id"),
        explode(array(
          struct(lit(0L).as("turn_idx"), lit("system").as("role"),
            lit("You are helpful.").as("content")),
          struct(lit(1L).as("turn_idx"), lit("user").as("role"),
            substring(col("text"), 1, 40).as("content")),
          struct(lit(2L).as("turn_idx"), lit("assistant").as("role"),
            substring(col("text"), 41, 40).as("content")),
          struct(lit(3L).as("turn_idx"), lit("user").as("role"),
            substring(col("text"), 17, 25).as("content")),
          struct(lit(4L).as("turn_idx"), lit("assistant").as("role"),
            substring(col("text"), 5, 30).as("content")))).as("t"))
        .filter(col("t.turn_idx") <= 2 || col("doc_id") % 3 === 0)
        .select(col("conv_id"), col("t.turn_idx").as("turn_idx"),
          col("t.role").as("role"), col("t.content").as("content"))
      ChatFormat.render(t, "conv_id", "turn_idx", "role", "content")
        .orderBy("conv_id")
    },
      // The conversation re-rendered with string_agg in turn order; the
      // mask boundary re-derived from integer turn lengths: chars of all
      // turns before the last assistant turn + its 22-char header + 1.
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE length(text) >= 80),
        |turns AS (
        |  SELECT doc_id AS conv_id, 0 AS i, 'system' AS r,
        |         'You are helpful.' AS c FROM docs
        |  UNION ALL SELECT doc_id, 1, 'user', substr(text, 1, 40) FROM docs
        |  UNION ALL SELECT doc_id, 2, 'assistant', substr(text, 41, 40) FROM docs
        |  UNION ALL SELECT doc_id, 3, 'user', substr(text, 17, 25)
        |            FROM docs WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, 4, 'assistant', substr(text, 5, 30)
        |            FROM docs WHERE doc_id % 3 = 0),
        |agg AS (
        |  SELECT conv_id,
        |         CAST(count(*) AS BIGINT) AS n_turns,
        |         string_agg('<|im_start|>' || r || chr(10) || c || '<|im_end|>'
        |                    || chr(10), '' ORDER BY i) AS text,
        |         max(CASE WHEN r = 'assistant' THEN i END) AS la
        |  FROM turns GROUP BY conv_id),
        |bounds AS (
        |  SELECT t.conv_id,
        |         CAST(sum(CASE WHEN t.i < a.la
        |              THEN 24 + length(t.r) + length(t.c) ELSE 0 END) AS BIGINT)
        |           AS prefix_chars,
        |         CAST(max(CASE WHEN t.i = a.la THEN length(t.c) END) AS BIGINT)
        |           AS tlen
        |  FROM turns t JOIN agg a ON a.conv_id = t.conv_id
        |  GROUP BY t.conv_id)
        |SELECT a.conv_id, a.n_turns, a.text,
        |       CAST(b.prefix_chars + 23 AS BIGINT) AS mask_from,
        |       b.tlen AS target_len
        |FROM agg a JOIN bounds b ON b.conv_id = a.conv_id
        |ORDER BY a.conv_id""".stripMargin),
    // Masked-LM corruption (denoising objective prep): deterministic
    // seeded-hash mask positions, [MASK] input + position-ordered
    // target, one scan-local HOF projection.
    QuerySpec("mlm_corruption", (s, d) =>
      ObjectivePrep.mlmCorruption(table(s, d, "documents"),
        "doc_id", "text", oneIn = 7)
        .orderBy("doc_id"),
      // The mask positions re-derived nibble by nibble from the same
      // md5(id:pos) seed (the dataset_split pattern), the input/target
      // rebuilt with ordered list transforms.
      """WITH t AS (
        |  SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents),
        |f AS (
        |  SELECT id, toks,
        |         list_transform(generate_series(1, len(toks)), p ->
        |           (list_sum(list_transform(generate_series(1, 4), i ->
        |              (strpos('0123456789abcdef',
        |                 substr(md5(CAST(id AS VARCHAR) || ':' || CAST(p AS VARCHAR)),
        |                        CAST(i AS INT), 1)) - 1)
        |              * CAST(16 ** (4 - i) AS BIGINT))) % 7 = 0)) AS flags
        |  FROM t)
        |SELECT id AS doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |       CAST(len(list_filter(flags, x -> x)) AS BIGINT) AS n_masked,
        |       array_to_string(list_transform(generate_series(1, len(toks)), p ->
        |         CASE WHEN flags[CAST(p AS INT)] THEN '[MASK]'
        |              ELSE toks[CAST(p AS INT)] END), ' ') AS input_text,
        |       coalesce(array_to_string(list_filter(
        |         list_transform(generate_series(1, len(toks)), p ->
        |           CASE WHEN flags[CAST(p AS INT)] THEN toks[CAST(p AS INT)] END),
        |         x -> x IS NOT NULL), ' '), '') AS target_text
        |FROM f ORDER BY id""".stripMargin),
    // Fill-in-the-Middle corruption (the fourth objective): PSM
    // reordering on the md5-seeded half of the corpus, cut points by
    // per-doc hash arithmetic — scan-local, byte-deterministic. The
    // oracle rebuilds every PSM string and matches the md5.
    QuerySpec("objective_fim", (s, d) =>
      ObjectivePrep.fimCorruption(table(s, d, "documents"),
        "doc_id", "text")
        .orderBy("doc_id"),
      // Every PSM string rebuilt from the same md5 cut-point arithmetic
      // and re-hashed — byte-level agreement, not just lengths.
    {
      def nib4(salt: Int): String =
        s"""list_sum(list_transform(generate_series(1, 4), i ->
           |           (strpos('0123456789abcdef',
           |              substr(md5(CAST(id AS VARCHAR) || ':fim:$salt'),
           |                     CAST(i AS INT), 1)) - 1)
           |           * CAST(16 ** (4 - i) AS BIGINT)))""".stripMargin
      s"""WITH t AS (
         |  SELECT doc_id AS id, text, string_split(text, ' ') AS toks
         |  FROM documents),
         |h AS (
         |  SELECT id, text, toks, CAST(len(toks) AS BIGINT) AS n,
         |         CAST(${nib4(0)} AS BIGINT) AS h0,
         |         CAST(${nib4(1)} AS BIGINT) AS h1,
         |         CAST(${nib4(2)} AS BIGINT) AS h2
         |  FROM t),
         |c AS (SELECT *, (n >= 3 AND h0 % 2 = 0) AS applied, h1 % n AS a
         |      FROM h),
         |c2 AS (SELECT *, a + h2 % (n - a) AS b FROM c),
         |p AS (
         |  SELECT id, text, applied, n, a, b,
         |         concat_ws(' ', '<PRE>',
         |           COALESCE(array_to_string(toks[1:CAST(a AS INT)], ' '), ''),
         |           '<SUF>',
         |           COALESCE(array_to_string(
         |             toks[CAST(b + 1 AS INT):CAST(n AS INT)], ' '), ''),
         |           '<MID>',
         |           COALESCE(array_to_string(
         |             toks[CAST(a + 1 AS INT):CAST(b AS INT)], ' '), ''))
         |           AS psm
         |  FROM c2)
         |SELECT id AS doc_id, applied AS fim_applied, n AS n_tokens,
         |       CASE WHEN applied THEN a ELSE 0 END AS p_len,
         |       CASE WHEN applied THEN b - a ELSE 0 END AS m_len,
         |       CASE WHEN applied THEN n - b ELSE 0 END AS s_len,
         |       md5(CASE WHEN applied THEN psm ELSE text END) AS out_md5
         |FROM p ORDER BY doc_id""".stripMargin
    }),
    // Inverse Cloze Task pairs (Lee et al. 2019 — retriever
    // pretraining): one 8-token block per doc becomes the pseudo-query
    // (md5-seeded choice), the rest its context; 1-in-10 docs keep the
    // query in context (the paper's lexical-overlap trick). One hash
    // aggregate per doc over document-bounded segment lists.
    QuerySpec("ict_pairs", (s, d) => {
      val docs = table(s, d, "documents").filter(col("text").isNotNull)
      val toks = split(col("text"), " ")
      val segs = docs
        .select(col("doc_id"), toks.as("__toks"),
          explode(sequence(lit(0),
            ceil(size(toks) / lit(8.0)).cast("int") - 1)).as("seg_idx"))
        .select(col("doc_id"), col("seg_idx"),
          concat_ws(" ", expr("slice(__toks, seg_idx * 8 + 1, 8)"))
            .as("seg_text"))
      ObjectivePrep.ictPairs(segs, "doc_id", "seg_idx", "seg_text",
        keepOneIn = 10).orderBy("doc_id")
    },
      // ICT pairs re-derived: same 8-token blocks, same md5(id:ict:k)
      // choice arithmetic, list ops instead of array HOFs.
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE text IS NOT NULL),
        |s AS (
        |  SELECT doc_id,
        |         unnest(generate_series(0,
        |           CAST(ceil(len(toks) / 8.0) AS INT) - 1)) AS seg_idx,
        |         toks
        |  FROM t),
        |g AS (
        |  SELECT doc_id, seg_idx,
        |         array_to_string(
        |           toks[CAST(seg_idx*8+1 AS INT):CAST(seg_idx*8+8 AS INT)],
        |           ' ') AS seg_text
        |  FROM s),
        |d AS (
        |  SELECT doc_id, count(*) AS n_segments,
        |         list(struct_pack(i := seg_idx, t := seg_text)
        |              ORDER BY seg_idx) AS ss
        |  FROM g GROUP BY 1 HAVING count(*) >= 2),
        |h AS (
        |  SELECT doc_id, n_segments, ss,
        |    CAST(list_sum(list_transform(generate_series(1, 4), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5(CAST(doc_id AS VARCHAR) || ':ict:0'),
        |                CAST(i AS INT), 1)) - 1)
        |      * CAST(16 ** (4 - i) AS BIGINT))) % n_segments AS INT)
        |      AS qpos,
        |    (list_sum(list_transform(generate_series(1, 4), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5(CAST(doc_id AS VARCHAR) || ':ict:1'),
        |                CAST(i AS INT), 1)) - 1)
        |      * CAST(16 ** (4 - i) AS BIGINT))) % 10 = 0) AS keep
        |  FROM d)
        |SELECT doc_id, CAST(n_segments AS BIGINT) AS n_segments,
        |       CAST(ss[qpos + 1].i AS BIGINT) AS query_idx,
        |       keep AS kept_in_context,
        |       ss[qpos + 1].t AS query_text,
        |       array_to_string(list_transform(
        |         list_filter(ss, x -> x.i != ss[qpos + 1].i OR keep),
        |         x -> x.t), ' ') AS context_text
        |FROM h ORDER BY doc_id""".stripMargin),
    // DSIR importance weights (Xie et al. 2023): every non-English doc
    // scored by how English-like its hashed-n-gram bag is — per-bucket
    // count table (1024 rows, broadcast), 6-dp-rounded log10 deltas in
    // exact DECIMAL. The published cheap stand-in for "select raw web
    // data that looks like the target corpus".
    QuerySpec("dsir_weights", (s, d) =>
      DataSelection.dsirWeights(table(s, d, "documents"),
        "doc_id", "text", isTarget = col("lang") === "en")
        .orderBy("doc_id"),
      // DSIR weights re-derived: same md5-nibble buckets, same
      // 6-dp-rounded log10 deltas in DECIMAL(28,6), same n·offset
      // normalizer — bit-for-bit.
      (dsirCtes +
        "\nSELECT doc_id, n_ngrams, logweight FROM wgt ORDER BY doc_id")),
    // DSIR selection: the 50 most target-like raw docs — one
    // TakeOrderedAndProject over the weights, ties by id.
    QuerySpec("dsir_select", (s, d) =>
      DataSelection.dsirSelect(table(s, d, "documents"),
        "doc_id", "text", isTarget = col("lang") === "en", k = 50),
      // Same derivation, top-50 by (logweight desc, id).
      (dsirCtes +
        "\nSELECT doc_id, n_ngrams, logweight FROM wgt " +
        "ORDER BY logweight DESC, doc_id LIMIT 50")),
    // DPO preference-pair prep (the third objective beside causal-LM
    // packing and masked-LM corruption): 4 candidate completions per
    // prompt (doc_id div 4), ranked by an integer token-count score;
    // best/worst become (chosen, rejected) via ONE max_by/min_by hash
    // aggregate over a total ranking key — no per-group window sort.
    // Zero-margin groups emit nothing.
    QuerySpec("dpo_pairs", (s, d) => {
      val cands = table(s, d, "documents").select(
        expr("doc_id div 4").as("prompt_id"),
        col("doc_id").as("cand_id"),
        substring(col("text"), 1, 64).as("resp"),
        size(split(col("text"), " ")).cast("long").as("score"))
      ObjectivePrep.dpoPairs(cands, "prompt_id", "cand_id", "resp", "score")
        .orderBy("prompt_id")
    },
      // Preference pairs re-derived via arg_max/arg_min over the same
      // total ranking key (score·2^20 + id mod 2^20) — exact integers,
      // so the tie-break contract is checked, not just the values.
      """WITH cands AS (
        |  SELECT doc_id // 4 AS prompt_id, doc_id AS cand_id,
        |         substr(text, 1, 64) AS resp,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS score
        |  FROM documents),
        |keyed AS (
        |  SELECT *, score * 1048576 + cand_id % 1048576 AS k FROM cands)
        |SELECT prompt_id,
        |       arg_max(cand_id, k) AS chosen_id, arg_max(resp, k) AS chosen,
        |       arg_min(cand_id, k) AS rejected_id, arg_min(resp, k) AS rejected,
        |       CAST(max(score) - min(score) AS BIGINT) AS margin,
        |       count(*) AS n_cands
        |FROM keyed GROUP BY prompt_id
        |HAVING max(score) - min(score) > 0
        |ORDER BY prompt_id""".stripMargin),
    // Deterministic train/val/test assignment by md5(id) — reproducible
    // across reruns/engines/partitionings, incremental (new rows land
    // in the same split forever), scan-local. Every row's assignment is
    // driver-verified (the oracle recomputes the md5 bucket in DuckDB).
    QuerySpec("dataset_split", (s, d) =>
      DatasetSplit.assignSplits(table(s, d, "documents"), "doc_id")
        .select("doc_id", "lang", "bucket", "split")
        .orderBy("doc_id"),
      // md5-bucket split recomputed hex-nibble by hex-nibble (strpos
      // into the hex alphabet), so the whole assignment function — hash,
      // bucket, cut points — is externally verified per row.
      (s"""WITH b AS (
        |  SELECT doc_id, lang, ${md5BucketSql("doc_id")} AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, bucket,
        |       CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin)),
    // Train/test leakage through near-duplicates: the MinHash pair
    // relation (recall 1 at these knobs on this corpus — the
    // dedup_minhash contract) tagged with each side's md5-bucket split;
    // a cross-split cell means the eval set contains paraphrases of
    // training rows. Slim pair relation, two equality joins, one tiny
    // aggregate.
    QuerySpec("split_leakage", (s, d) => {
      val docs = table(s, d, "documents")
      DatasetSplit.leakageCard(
        Dedup.minHashPairs(docs, "doc_id", "text",
          bands = 8, rowsPerBand = 4, threshold = 0.5, scale = Scale),
        "a_id", "b_id",
        DatasetSplit.assignSplits(docs, "doc_id"), "doc_id", "split")
    },
      // Leakage card: the exact-join MinHash pair replay (recall 1 at
      // the fixture knobs) cross-tagged with the md5-bucket splits.
      (s"WITH $shingleCtes,\n$minhashPairsCte," + s"""
        |sp AS (
        |  SELECT doc_id, ${md5BucketSql("doc_id")} AS bucket
        |  FROM documents),
        |spl AS (
        |  SELECT doc_id, CASE WHEN bucket < 80 THEN 'train'
        |                      WHEN bucket < 90 THEN 'val'
        |                      ELSE 'test' END AS split
        |  FROM sp)
        |SELECT sa.split AS split_a, sb.split AS split_b,
        |       CAST(count(*) AS BIGINT) AS n_pairs,
        |       sa.split <> sb.split AS leaked
        |FROM mh_pairs p
        |JOIN spl sa ON p.a_id = sa.doc_id
        |JOIN spl sb ON p.b_id = sb.doc_id
        |GROUP BY 1, 2, 4 ORDER BY split_a, split_b""".stripMargin)),
    // Stratified deterministic sampling — the data-mixture knob: keep
    // 100%/50%/25%/10% of four sources by md5 id-bucket; unlisted
    // sources drop. Reproducible, incremental, scan-local.
    QuerySpec("stratified_sample", (s, d) =>
      DatasetSplit.stratifiedSample(table(s, d, "documents"), "doc_id", "source",
        Map("src0" -> 100, "src1" -> 50, "src2" -> 25, "src3" -> 10))
        .select(col("doc_id"), col("source"),
          DatasetSplit.bucket(col("doc_id")).as("bucket"))
        .orderBy("doc_id"),
      (s"""WITH b AS (
        |  SELECT doc_id, source, ${md5BucketSql("doc_id")} AS bucket
        |  FROM documents)
        |SELECT doc_id, source, bucket
        |FROM b JOIN (VALUES ('src0', 100), ('src1', 50), ('src2', 25), ('src3', 10))
        |            r(source, pct) USING (source)
        |WHERE bucket < pct
        |ORDER BY doc_id""".stripMargin)),
    // Temperature-scaled mixture recipe (w_s ∝ T_s^0.5, global budget
    // τ=0.5 of corpus tokens): per-source token mass, weight, integer
    // token budget, and the realized deterministic sample's doc/token
    // counts. The oracle re-derives every budget and verdict in DuckDB.
    QuerySpec("mixture_plan", (s, d) =>
      MixtureSampling.mixtureReport(table(s, d, "documents"), "doc_id",
        "source", size(split(col("text"), " ")).cast("long"), tau = 0.5)
        .orderBy("source"),
      // Temperature mixture: per-source token mass → sqrt weights rounded
      // to 4 decimals → integer token budgets → integer bucket-vs-budget
      // verdict per row. Shares every numeric step with the Spark side
      // (sqrt is IEEE correctly-rounded; the only float, the weight, is
      // rounded before any budget is derived; the row filter is pure
      // BIGINT arithmetic).
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |per AS (
        |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t_tokens
        |  FROM d GROUP BY source),
        |tot AS (
        |  SELECT sum(sqrt(t_tokens)) AS z,
        |         CAST(sum(t_tokens) AS BIGINT) AS t_total FROM per),
        |plan AS (
        |  SELECT source, t_tokens,
        |         round(sqrt(t_tokens) / z, 4) AS weight,
        |         CAST(floor(floor(t_total * 0.5) * round(sqrt(t_tokens) / z, 4))
        |              AS BIGINT) AS token_budget
        |  FROM per, tot),
        |kept AS (
        |  SELECT d.source, count(*) AS n_kept,
        |         CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
        |  FROM d JOIN plan USING (source)
        |  WHERE CAST(list_sum(list_transform(generate_series(1, 6),
        |          i -> (strpos('0123456789abcdef',
        |                       substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
        |               * CAST(16 ** (6 - i) AS BIGINT))) AS BIGINT) * t_tokens
        |        < token_budget * CAST(16777216 AS BIGINT)
        |  GROUP BY d.source)
        |SELECT source, t_tokens, weight, token_budget,
        |       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        |       CAST(coalesce(kept_tokens, 0) AS BIGINT) AS kept_tokens
        |FROM plan LEFT JOIN kept USING (source)
        |ORDER BY source""".stripMargin),
    // The materialized mixture sample itself: scan-local integer
    // bucket-vs-budget filter (bucket24·T_s < budget_s·2^24), zero
    // shuffles of the corpus. Every kept row is driver-verified.
    QuerySpec("corpus_mixture", (s, d) => {
      val docs = table(s, d, "documents")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      MixtureSampling.sampleByPlan(docs, "doc_id", "source",
        MixtureSampling.mixturePlan(docs, "source", col("n_tokens"), tau = 0.5))
        .select("doc_id", "source", "n_tokens")
        .orderBy("doc_id")
    },
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |per AS (
        |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t_tokens
        |  FROM d GROUP BY source),
        |tot AS (
        |  SELECT sum(sqrt(t_tokens)) AS z,
        |         CAST(sum(t_tokens) AS BIGINT) AS t_total FROM per),
        |plan AS (
        |  SELECT source, t_tokens,
        |         CAST(floor(floor(t_total * 0.5) * round(sqrt(t_tokens) / z, 4))
        |              AS BIGINT) AS token_budget
        |  FROM per, tot)
        |SELECT doc_id, source, n_tokens
        |FROM d JOIN plan USING (source)
        |WHERE CAST(list_sum(list_transform(generate_series(1, 6),
        |        i -> (strpos('0123456789abcdef',
        |                     substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
        |             * CAST(16 ** (6 - i) AS BIGINT))) AS BIGINT) * t_tokens
        |      < token_budget * CAST(16777216 AS BIGINT)
        |ORDER BY doc_id""".stripMargin),
    // Export manifest: the shard-level release record (doc/token
    // volumes + order-independent integer checksums) a 100 TB export
    // ships next to its files — one aggregate over the deterministic
    // shard key, no per-shard sort, every value integer-exact.
    QuerySpec("export_manifest", (s, d) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          DatasetSplit.shardKey(col("doc_id"), numShards = 16).as("shard"))
      docs.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("n_tokens"),
          sum("doc_id").cast("long").as("id_sum"),
          expr("bit_xor(doc_id)").as("id_xor"))
        .orderBy("shard")
    },
      // Shard from the same seeded-md5 nibbles as the corpus_shuffle
      // oracle; checksums are order-independent integer aggregates.
      """WITH b AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         CAST(list_sum(list_transform(generate_series(1, 4),
        |           i -> (strpos('0123456789abcdef',
        |                        substr(md5('graft:' || CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
        |                * CAST(16 ** (4 - i) AS BIGINT))) % 16 AS BIGINT) AS shard
        |  FROM documents)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |       CAST(bit_xor(doc_id) AS BIGINT) AS id_xor
        |FROM b GROUP BY shard
        |ORDER BY shard""".stripMargin),
    // Balanced per-stratum pick: exactly 20 docs per language, ranked
    // by seeded md5 with id tie-break — the deterministic eval-batch
    // constructor (rate sampling can't promise exact counts). The
    // 50% hash-prefix prefilter is the scale path: the sort only sees
    // the prefix, short strata re-rank unfiltered, result EXACT
    // either way (spec-pinned equal to the naive rank; the oracle
    // ranks every row).
    QuerySpec("balanced_sample", (s, d) =>
      DatasetSplit.balancedSample(table(s, d, "documents"), "doc_id",
        "lang", n = 20, prefilterPct = Some(50))
        .select("doc_id", "lang", "pick_rank")
        .orderBy("doc_id"),
      // Same seeded-md5 ranking re-derived per row; the digest is
      // lowercase-hex ASCII in both engines, so string order agrees.
      """WITH h AS (
        |  SELECT doc_id, lang,
        |         md5('graft:' || CAST(doc_id AS VARCHAR)) AS hx
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY hx, doc_id)
        |              AS BIGINT) AS pick_rank
        |  FROM h)
        |SELECT doc_id, lang, pick_rank
        |FROM r WHERE pick_rank <= 20
        |ORDER BY doc_id""".stripMargin),
    // Fractional-epoch upsampling: materialize "2.5 epochs of src0,
    // 1 of src1, 0.4 of src2, 0.25 of src3" as labeled row copies —
    // full copies for everyone plus a deterministic promille id-bucket
    // slice for the fraction. Scan-local explode; unlisted sources drop.
    QuerySpec("corpus_epochs", (s, d) =>
      MixtureSampling.upsampleEpochs(table(s, d, "documents"), "doc_id",
        "source", Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.4,
          "src3" -> 0.25))
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch"),
      // Epoch factors as (full copies, promille fraction); every row's
      // copy count re-derived from its md5 bucket, copies unrolled with
      // generate_series.
      """WITH f(source, n_full, promille) AS (
        |  VALUES ('src0', 2, 500), ('src1', 1, 0),
        |         ('src2', 0, 400), ('src3', 0, 250)),
        |b AS (
        |  SELECT doc_id, source, n_full, promille,
        |         CAST(list_sum(list_transform(generate_series(1, 6),
        |           i -> (strpos('0123456789abcdef',
        |                        substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
        |                * CAST(16 ** (6 - i) AS BIGINT))) AS BIGINT) AS bkt
        |  FROM documents JOIN f USING (source)),
        |c AS (
        |  SELECT doc_id, source,
        |         n_full + CASE WHEN bkt * 1000 < promille * CAST(16777216 AS BIGINT)
        |                       THEN 1 ELSE 0 END AS copies
        |  FROM b)
        |SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch
        |FROM c, unnest(generate_series(0, CAST(copies AS BIGINT) - 1)) t(epoch)
        |WHERE copies > 0
        |ORDER BY doc_id, epoch""".stripMargin),
    // Deterministic global training shuffle: seeded-md5 (shard, pos)
    // coordinates — shard-shuffled loading order without a global sort
    // (one hash exchange + independent per-shard sorts). Reproducible
    // across engines; the oracle re-derives every coordinate in DuckDB.
    QuerySpec("corpus_shuffle", (s, d) =>
      DatasetSplit.shuffleOrder(table(s, d, "documents"), "doc_id", numShards = 16)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id"),
      // Seeded-md5 shuffle coordinates re-derived per row: shard from the
      // first four hex nibbles, pos by ranking the full hex digest within
      // the shard (the digest is lowercase-hex ASCII in both engines, so
      // string order agrees).
      """WITH h AS (
        |  SELECT doc_id, md5('graft:' || CAST(doc_id AS VARCHAR)) AS hx FROM documents),
        |b AS (
        |  SELECT doc_id, hx,
        |         CAST(list_sum(list_transform(generate_series(1, 4),
        |           i -> (strpos('0123456789abcdef', substr(hx, CAST(i AS INT), 1)) - 1)
        |                * CAST(16 ** (4 - i) AS BIGINT))) % 16 AS BIGINT) AS shard
        |  FROM h)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS BIGINT)
        |         AS pos
        |FROM b ORDER BY doc_id""".stripMargin),
    // Sequence packing (pretraining data prep): concatenate each
    // source-shard's docs in doc_id order and cut at 256-token context
    // windows; every doc gets its stream offset and pack assignment.
    // One window running-sum per shard — deterministic, so the oracle
    // recomputes the identical layout.
    QuerySpec("pack_sequences", (s, d) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      SequencePacking.packSequences(docs, "source", "doc_id", "n_tokens", ctxLen = 256)
        .orderBy("doc_id")
    },
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, source, n_tokens,
        |         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              - n_tokens AS BIGINT) AS stream_offset
        |  FROM d)
        |SELECT doc_id, source, n_tokens, stream_offset,
        |       CAST(stream_offset // 256 AS BIGINT) AS pack_id,
        |       CAST(stream_offset % 256 AS BIGINT) AS pack_offset
        |FROM o ORDER BY doc_id""".stripMargin),
    // End-to-end corpus curation: quality gate → exact dedup →
    // near-dup removal, composed as ONE lazy plan. The oracle replays
    // the identical funnel in SQL, so the composition (stage order,
    // keep-first semantics, survivor set) is driver-verified — not
    // just the individual stages.
    QuerySpec("corpus_curation", (s, d) =>
      CurationPipeline.curate(table(s, d, "documents"), "doc_id", "text")
        .select("doc_id", "lang", "quality")
        .orderBy("doc_id"),
      """WITH qual AS (
        |  SELECT doc_id, round((c1 + c2 + c3 + c4) / 4.0, 6) AS quality
        |  FROM (
        |    SELECT doc_id,
        |           CASE WHEN n_tokens >= 20 AND n_tokens <= 100000 THEN 1 ELSE 0 END AS c1,
        |           CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0 THEN 1 ELSE 0 END AS c2,
        |           CASE WHEN stopword_ratio >= 0.01 THEN 1 ELSE 0 END AS c3,
        |           CASE WHEN punct_ratio <= 0.2 THEN 1 ELSE 0 END AS c4
        |    FROM (
        |      SELECT doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |             CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |               / len(string_split(text, ' ')) AS mean_word_len,
        |             CAST(len(list_filter(string_split(text, ' '),
        |                  t -> t IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
        |               / len(string_split(text, ' ')) AS stopword_ratio,
        |             CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
        |               / length(text) AS punct_ratio
        |      FROM documents))
        |  WHERE (c1 + c2 + c3 + c4) / 4.0 >= 0.75),
        |qualified AS (
        |  SELECT d.doc_id, d.text, d.lang, q.quality
        |  FROM documents d JOIN qual q USING (doc_id)),
        |exact AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rn
        |    FROM qualified)
        |  WHERE rn = 1),
        |losers AS (
        |  SELECT DISTINCT b_id AS doc_id FROM (
        |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |           round(CAST(len(list_intersect(list_distinct(string_split(a.text, ' ')),
        |                                          list_distinct(string_split(b.text, ' ')))) AS DOUBLE) /
        |                 len(list_distinct(list_cat(list_distinct(string_split(a.text, ' ')),
        |                                            list_distinct(string_split(b.text, ' '))))), 6) AS j
        |    FROM exact a JOIN exact b
        |      ON substr(a.text, 1, 16) = substr(b.text, 1, 16) AND a.doc_id < b.doc_id)
        |  WHERE j >= 0.5)
        |SELECT e.doc_id, e.lang, e.quality
        |FROM exact e
        |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = e.doc_id)
        |ORDER BY e.doc_id""".stripMargin),
    // The END-TO-END training-data pipeline as ONE lazy plan: quality
    // gate → exact dedup → near-dup removal → deterministic train
    // split → per-shard sequence packing. Composition is where lazy
    // DataFrames pay off at 100 TB — the cheap per-row gates run
    // before any shuffle sees a row, and Catalyst plans the whole
    // funnel as one job. The oracle re-derives every stage in SQL.
    QuerySpec("corpus_to_batches", (s, d) => {
      val curated = CurationPipeline.curate(table(s, d, "documents"), "doc_id", "text")
      val train = DatasetSplit.assignSplits(curated, "doc_id")
        .filter(col("split") === "train")
        .select(col("doc_id"), col("source"),
          size(org.apache.spark.sql.functions.split(col("text"), " "))
            .cast("long").as("n_tokens"))
      SequencePacking.packSequences(train, "source", "doc_id", "n_tokens", ctxLen = 256)
        .orderBy("doc_id")
    },
      """WITH qual AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |           CASE WHEN n_tokens >= 20 AND n_tokens <= 100000 THEN 1 ELSE 0 END +
        |           CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0 THEN 1 ELSE 0 END +
        |           CASE WHEN stopword_ratio >= 0.01 THEN 1 ELSE 0 END +
        |           CASE WHEN punct_ratio <= 0.2 THEN 1 ELSE 0 END AS passed
        |    FROM (
        |      SELECT doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |             CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |               / len(string_split(text, ' ')) AS mean_word_len,
        |             CAST(len(list_filter(string_split(text, ' '),
        |                  t -> t IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
        |               / len(string_split(text, ' ')) AS stopword_ratio,
        |             CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
        |               / length(text) AS punct_ratio
        |      FROM documents))
        |  WHERE passed / 4.0 >= 0.75),
        |qualified AS (
        |  SELECT d.doc_id, d.text, d.source FROM documents d JOIN qual USING (doc_id)),
        |exact AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rn
        |    FROM qualified)
        |  WHERE rn = 1),
        |losers AS (
        |  SELECT DISTINCT b_id AS doc_id FROM (
        |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |           round(CAST(len(list_intersect(list_distinct(string_split(a.text, ' ')),
        |                                          list_distinct(string_split(b.text, ' ')))) AS DOUBLE) /
        |                 len(list_distinct(list_cat(list_distinct(string_split(a.text, ' ')),
        |                                            list_distinct(string_split(b.text, ' '))))), 6) AS j
        |    FROM exact a JOIN exact b
        |      ON substr(a.text, 1, 16) = substr(b.text, 1, 16) AND a.doc_id < b.doc_id)
        |  WHERE j >= 0.5),
        |kept AS (
        |  SELECT e.doc_id, e.source, e.text FROM exact e
        |  WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = e.doc_id)),
        |train AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM kept
        |  WHERE CAST(list_sum(list_transform(generate_series(1, 4),
        |          i -> (strpos('0123456789abcdef',
        |                       substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
        |               * CAST(16 ** (4 - i) AS BIGINT))) % 100 AS BIGINT) < 80),
        |o AS (
        |  SELECT doc_id, source, n_tokens,
        |         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              - n_tokens AS BIGINT) AS stream_offset
        |  FROM train)
        |SELECT doc_id, source, n_tokens, stream_offset,
        |       CAST(stream_offset // 256 AS BIGINT) AS pack_id,
        |       CAST(stream_offset % 256 AS BIGINT) AS pack_offset
        |FROM o ORDER BY doc_id""".stripMargin),
    // The recipe-era funnel: curation (quality → exact dedup →
    // near-dup removal) → temperature mixture sample (τ=0.6 token
    // budget over the CURATED per-source masses) → sequence packing —
    // one lazy plan end to end; the mixture verdicts stay pure BIGINT
    // and the oracle replays every stage.
    QuerySpec("recipe_to_batches", (s, d) => {
      // Slim (3-column) curated relation, materialized once: it is
      // referenced by both the mixture plan and the sample filter —
      // unmaterialized, the whole curation funnel re-derived per
      // reference (guide §5.2 bounded-intermediate discipline; the
      // checkpoint holds doc_id/source/n_tokens, never text).
      val curated = CurationPipeline.curate(table(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("source"),
          size(org.apache.spark.sql.functions.split(col("text"), " "))
            .cast("long").as("n_tokens"))
        .localCheckpoint(true)
      val plan = MixtureSampling.mixturePlan(curated, "source",
        col("n_tokens"), tau = 0.6)
      val sampled = MixtureSampling.sampleByPlan(curated, "doc_id", "source", plan)
      SequencePacking.packSequences(sampled, "source", "doc_id", "n_tokens",
        ctxLen = 256)
        .orderBy("doc_id")
    },
      // The corpus_to_batches funnel stages (qual/exact/losers/kept) +
      // the mixture CTEs computed over the curated survivors + the
      // packing window, replayed end to end.
      """WITH qual AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |           CASE WHEN n_tokens >= 20 AND n_tokens <= 100000 THEN 1 ELSE 0 END +
        |           CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0 THEN 1 ELSE 0 END +
        |           CASE WHEN stopword_ratio >= 0.01 THEN 1 ELSE 0 END +
        |           CASE WHEN punct_ratio <= 0.2 THEN 1 ELSE 0 END AS passed
        |    FROM (
        |      SELECT doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |             CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |               / len(string_split(text, ' ')) AS mean_word_len,
        |             CAST(len(list_filter(string_split(text, ' '),
        |                  t -> t IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
        |               / len(string_split(text, ' ')) AS stopword_ratio,
        |             CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
        |               / length(text) AS punct_ratio
        |      FROM documents))
        |  WHERE passed / 4.0 >= 0.75),
        |qualified AS (
        |  SELECT d.doc_id, d.text, d.source FROM documents d JOIN qual USING (doc_id)),
        |exact AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rn
        |    FROM qualified)
        |  WHERE rn = 1),
        |losers AS (
        |  SELECT DISTINCT b_id AS doc_id FROM (
        |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |           round(CAST(len(list_intersect(list_distinct(string_split(a.text, ' ')),
        |                                          list_distinct(string_split(b.text, ' ')))) AS DOUBLE) /
        |                 len(list_distinct(list_cat(list_distinct(string_split(a.text, ' ')),
        |                                            list_distinct(string_split(b.text, ' '))))), 6) AS j
        |    FROM exact a JOIN exact b
        |      ON substr(a.text, 1, 16) = substr(b.text, 1, 16) AND a.doc_id < b.doc_id)
        |  WHERE j >= 0.5),
        |kept AS (
        |  SELECT e.doc_id, e.source,
        |         CAST(len(string_split(e.text, ' ')) AS BIGINT) AS n_tokens
        |  FROM exact e
        |  WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = e.doc_id)),
        |per AS (
        |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t_tokens
        |  FROM kept GROUP BY source),
        |tot AS (
        |  SELECT sum(sqrt(t_tokens)) AS z,
        |         CAST(sum(t_tokens) AS BIGINT) AS t_total FROM per),
        |plan AS (
        |  SELECT source, t_tokens,
        |         CAST(floor(floor(t_total * 0.6) * round(sqrt(t_tokens) / z, 4))
        |              AS BIGINT) AS token_budget
        |  FROM per, tot),
        |samp AS (
        |  SELECT k.doc_id, k.source, k.n_tokens
        |  FROM kept k JOIN plan USING (source)
        |  WHERE CAST(list_sum(list_transform(generate_series(1, 6),
        |          i -> (strpos('0123456789abcdef',
        |                       substr(md5(CAST(k.doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
        |               * CAST(16 ** (6 - i) AS BIGINT))) AS BIGINT) * t_tokens
        |        < token_budget * CAST(16777216 AS BIGINT)),
        |o AS (
        |  SELECT doc_id, source, n_tokens,
        |         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              - n_tokens AS BIGINT) AS stream_offset
        |  FROM samp)
        |SELECT doc_id, source, n_tokens, stream_offset,
        |       CAST(stream_offset // 256 AS BIGINT) AS pack_id,
        |       CAST(stream_offset % 256 AS BIGINT) AS pack_offset
        |FROM o ORDER BY doc_id""".stripMargin),
    // Weighted priority sample (sequential Poisson): top-50 documents
    // by priority = weight·65536 div (seeded-u16+1) — survival odds
    // ~proportional to n_chars, reproducible (md5 uniform), and
    // mergeable: one TakeOrderedAndProject, never a global sort. The
    // oracle replays the integer priorities and the same total order.
    QuerySpec("priority_sample", (s, d) =>
      DatasetSplit.prioritySample(
        table(s, d, "documents").select(
          col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", "n_chars", k = 50),
      // Priorities replayed: same md5-u16 uniform (the DP/bootstrap
      // seeding family), same integral division, same total order.
    {
      val u16 =
        """((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 +
          | (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 +
          | (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 +
          |  strpos('0123456789abcdef', substr(h, 4, 1)) - 1)""".stripMargin
      s"""WITH src AS (
         |  SELECT doc_id, lang, n_chars,
         |         md5('graft:' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, lang, n_chars,
         |         CAST((CAST(n_chars AS BIGINT) * 65536) //
         |              (CAST($u16 AS BIGINT) + 1) AS BIGINT) AS priority
         |  FROM src)
         |SELECT doc_id, lang, n_chars, priority
         |FROM p ORDER BY priority DESC, doc_id LIMIT 50""".stripMargin
    }),
    // Horvitz–Thompson subset-sum card over the SAME priority sample
    // (Duffield–Lund–Thorup): Σ max(w, τ) with τ = the (k+1)-th
    // priority — the unbiased corpus-total estimate a 50-row sample
    // supports, shown against the truth with its relative error.
    QuerySpec("sample_ht_estimate", (s, d) =>
      DatasetSplit.priorityEstimate(
        table(s, d, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 50),
      // HT estimate replayed: same integer priorities, τ from the
      // (k+1)-th row of the same total order, Σ max(w, τ) in BIGINT.
    {
      val u16 =
        """((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 +
          | (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 +
          | (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 +
          |  strpos('0123456789abcdef', substr(h, 4, 1)) - 1)""".stripMargin
      s"""WITH src AS (
         |  SELECT doc_id, n_chars,
         |         md5('graft:' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, n_chars,
         |         CAST((CAST(n_chars AS BIGINT) * 65536) //
         |              (CAST($u16 AS BIGINT) + 1) AS BIGINT) AS q
         |  FROM src),
         |topk1 AS (SELECT * FROM p ORDER BY q DESC, doc_id LIMIT 51),
         |tau AS (SELECT CASE WHEN count(*) <= 50 THEN 0
         |               ELSE min(q) END AS t FROM topk1),
         |smp AS (SELECT * FROM topk1 ORDER BY q DESC, doc_id LIMIT 50),
         |est AS (SELECT CAST(sum(greatest(CAST(n_chars AS BIGINT), tau.t))
         |          AS BIGINT) AS ht_estimate FROM smp, tau),
         |tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS true_total,
         |               CAST(count(*) AS BIGINT) AS n_total FROM documents)
         |SELECT CAST(50 AS BIGINT) AS k, tot.n_total, tot.true_total,
         |       est.ht_estimate,
         |       CAST((1000000 * abs(est.ht_estimate - tot.true_total)) //
         |            tot.true_total AS BIGINT) AS rel_err_micro
         |FROM est, tot""".stripMargin
    }),
    // Largest-remainder (Hamilton) apportionment of a 100-slot
    // eval/annotation budget across languages: floor quotas plus
    // largest remainders, integer-exact, sums to the budget by
    // construction. Remainder rank via a strata-sized broadcast
    // self-join — no unpartitioned window even at 5 rows.
    // Neyman (optimal) allocation: n_h ∝ N_h·σ_h with the weight kept
    // as ONE integer square root of exact moments (N·Σv² − (Σv)²) —
    // variance-aware budget splitting with no per-stratum float
    // variance; zero-variance strata draw nothing.
    QuerySpec("sample_neyman", (s, d) =>
      MixtureSampling.neymanAllocation(
        table(s, d, "documents"), "lang", "n_chars", n = 200)
        .orderBy("stratum"),
      // Hamilton apportionment replayed: micro quotas, floor, largest
      // remainders by correlated better-than count, +1 under leftover.
      // The same integer moments, the double-seeded corrected root and
      // the Hamilton core in HUGEINT.
      """WITH m AS (
        |  SELECT lang AS stratum, CAST(COUNT(*) AS BIGINT) AS n_h,
        |         CAST(SUM(n_chars) AS BIGINT) AS s1,
        |         SUM(CAST(n_chars AS HUGEINT) * n_chars) AS s2
        |  FROM documents GROUP BY 1),
        |rad AS (SELECT stratum, n_h,
        |          CAST(n_h AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS x
        |        FROM m),
        |sq AS (SELECT stratum, n_h, x,
        |         CAST(floor(sqrt(CAST(x AS DOUBLE))) AS HUGEINT) AS s0
        |       FROM rad),
        |sq2 AS (SELECT *, CASE WHEN s0 * s0 > x THEN s0 - 1 ELSE s0 END AS sa
        |        FROM sq),
        |sw AS (SELECT stratum, n_h,
        |         CAST(CASE WHEN (sa + 1) * (sa + 1) <= x THEN sa + 1
        |              ELSE sa END AS BIGINT) AS sigma_w
        |       FROM sq2),
        |wts AS (SELECT stratum, n_h,
        |          CASE WHEN (SELECT SUM(sigma_w) FROM sw) > 0 THEN sigma_w
        |               ELSE n_h END AS w
        |        FROM sw),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS total FROM wts),
        |q2 AS (SELECT stratum, n_h, w,
        |         CAST(CAST(200 AS HUGEINT) * w * 1000000 // total AS BIGINT)
        |           AS quota_micro
        |       FROM wts, t),
        |q3 AS (SELECT *, quota_micro // 1000000 AS base,
        |         quota_micro % 1000000 AS rem_micro FROM q2),
        |l AS (SELECT CAST(200 - SUM(base) AS BIGINT) AS leftover FROM q3),
        |r AS (SELECT q3.*,
        |        (SELECT COUNT(*) FROM q3 o
        |         WHERE o.rem_micro > q3.rem_micro
        |            OR (o.rem_micro = q3.rem_micro AND o.stratum < q3.stratum))
        |          AS nbetter
        |      FROM q3)
        |SELECT stratum, n_h, CAST(w AS BIGINT) AS weight,
        |       CAST(base + CASE WHEN nbetter < (SELECT leftover FROM l)
        |                        THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r ORDER BY stratum""".stripMargin),
    QuerySpec("sample_allocation", (s, d) =>
      MixtureSampling.apportion(table(s, d, "documents"), "lang", n = 100)
        .orderBy("stratum"),
      """WITH c AS (
        |  SELECT lang AS stratum, count(*) AS cnt FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
        |q AS (
        |  SELECT stratum, cnt,
        |         (100 * cnt * 1000000) // total AS quota_micro
        |  FROM c, t),
        |q2 AS (
        |  SELECT *, quota_micro // 1000000 AS base,
        |         quota_micro % 1000000 AS rem_micro FROM q),
        |l AS (SELECT CAST(100 - sum(base) AS BIGINT) AS leftover FROM q2),
        |r AS (
        |  SELECT q2.*,
        |         (SELECT count(*) FROM q2 o
        |          WHERE o.rem_micro > q2.rem_micro
        |             OR (o.rem_micro = q2.rem_micro AND o.stratum < q2.stratum))
        |           AS nbetter
        |  FROM q2)
        |SELECT stratum, CAST(cnt AS BIGINT) AS cnt,
        |       CAST(quota_micro AS BIGINT) AS quota_micro,
        |       CAST(base AS BIGINT) AS base,
        |       CAST(rem_micro AS BIGINT) AS rem_micro,
        |       CAST(base + CASE WHEN nbetter < (SELECT leftover FROM l)
        |                        THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r ORDER BY stratum""".stripMargin),
    // Temperature-scaled mixture (the mC4/XLM-R multilingual recipe):
    // 1000 slots across sources ∝ cnt^0.3 — small sources up-sampled,
    // Hamilton remainders spend the budget exactly. The one
    // transcendental (pow) rounds to integer micros before any
    // arithmetic, so the card replays exactly.
    QuerySpec("mixture_temperature", (s, d) =>
      MixtureSampling.temperatureApportion(table(s, d, "documents"),
        "source", n = 1000, alphaNum = 3, alphaDen = 10),
      // Same Hamilton replay over cnt^0.3 micro weights — pow rounds to
      // integer micros first, everything after is exact.
      """WITH c AS (
        |  SELECT source AS stratum, count(*) AS cnt
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT stratum, cnt,
        |         CAST(round(pow(CAST(cnt AS DOUBLE),
        |           CAST(3 AS DOUBLE) / CAST(10 AS DOUBLE)) * 1000000, 0)
        |           AS BIGINT) AS w
        |  FROM c),
        |t AS (SELECT sum(w) AS total FROM w),
        |-- HUGEINT division: DECIMAL // degrades to DOUBLE here and
        |-- loses exactness past 2^53 (n*w*1e6 reaches that at ~1600
        |-- docs per stratum); HUGEINT is the exact integral quotient
        |q AS (
        |  SELECT stratum, cnt, w,
        |         CAST(CAST(1000 AS HUGEINT) * w * 1000000 AS HUGEINT)
        |           // CAST(total AS HUGEINT) AS quota_micro
        |  FROM w, t),
        |q2 AS (
        |  SELECT *, quota_micro // 1000000 AS base,
        |         quota_micro % 1000000 AS rem_micro FROM q),
        |l AS (SELECT CAST(1000 - sum(base) AS BIGINT) AS leftover FROM q2),
        |r AS (
        |  SELECT q2.*,
        |         (SELECT count(*) FROM q2 o
        |          WHERE o.rem_micro > q2.rem_micro
        |             OR (o.rem_micro = q2.rem_micro AND o.stratum < q2.stratum))
        |           AS nbetter
        |  FROM q2)
        |SELECT stratum, CAST(cnt AS BIGINT) AS cnt,
        |       w AS weight_micro,
        |       CAST(base + CASE WHEN nbetter < (SELECT leftover FROM l)
        |                        THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r ORDER BY stratum""".stripMargin)
  )
}
