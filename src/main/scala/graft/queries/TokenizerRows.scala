package graft
package queries

import graft.api._
import graft.functions.GraftFunctions
import graft.operators._
import graft.queries.Fixtures._
import graft.queries.Shared._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tokenizer fitting and application, and language-model statistics. */
private[queries] object TokenizerRows {

  /** Shared vocab CTEs for the unigram-LM oracles: word explode,
    * piece n-grams (two chained unnests — lengths depend on the
    * position), counts with the 1-char fallback, micro log-prob
    * scores on the 6-dp grid. */
  private val unigramVocabCtes: String =
    """WITH w0 AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
      |  WHERE text IS NOT NULL),
      |w2 AS (SELECT w FROM w0 WHERE len(w) >= 1),
      |pi AS (SELECT w, unnest(generate_series(1, len(w))) AS i FROM w2),
      |pl AS (SELECT w, i,
      |         unnest(generate_series(1, least(4, len(w) - i + 1))) AS l
      |       FROM pi),
      |pc AS (SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece
      |       FROM pl),
      |voc0 AS (
      |  SELECT piece, count(*) AS cnt FROM pc GROUP BY 1
      |  HAVING count(*) >= 2 OR len(piece) = 1),
      |vt AS (SELECT sum(cnt) AS tt FROM voc0),
      |voc AS (
      |  SELECT piece, cnt,
      |         CAST((CAST(round(log10(cnt), 6) AS DECIMAL(28,6)) -
      |               CAST(round(log10(tt), 6) AS DECIMAL(28,6)))
      |              * 1000000 AS BIGINT) AS score_micro
      |  FROM voc0, vt)""".stripMargin

  /** unigram_segment's oracle: the packed-BIGINT Viterbi DP unrolled
    * as one chained CTE per word position (dp_i = greatest over piece
    * lengths of dp_{i-l} + 32·score − 1), then the per-doc rollup
    * with explicit NULL poisoning — exactly [[UnigramLm]]'s
    * arithmetic. */
  /** The unigram vocab + chained-dp CTE prefix (through d<maxWordLen>)
    * shared by the segment and refit oracles. */
  private def unigramDpCtes(maxPiece: Int, maxWordLen: Int): String = {
    val head = unigramVocabCtes +
      """,
        |words AS (SELECT DISTINCT w AS word FROM w2),
        |d0 AS (SELECT word, CAST(31 AS BIGINT) AS dp0 FROM words)""".stripMargin
    val steps = (1 to maxWordLen).map { i =>
      val cands = (1 to math.min(i, maxPiece)).map { l =>
        s"dp${i - l} + 32 * (SELECT score_micro FROM voc " +
          s"WHERE piece = substr(word, ${i - l + 1}, $l)) - 1"
      }
      val best = if (cands.size == 1) cands.head
        else s"greatest(${cands.mkString(", ")})"
      s"""d$i AS (SELECT *, CASE WHEN len(word) >= $i
         |  THEN $best END AS dp$i FROM d${i - 1})""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  private def unigramSegmentOracle(maxPiece: Int, maxWordLen: Int): String = {
    val finalCase = (1 to maxWordLen)
      .map(i => s"WHEN $i THEN dp$i").mkString(" ")
    val tail =
      s"""f AS (SELECT word, CASE len(word) $finalCase END AS f
         |     FROM d$maxWordLen),
         |g AS (SELECT word, f, ((f % 32) + 32) % 32 AS r FROM f),
         |seg AS (SELECT word, 31 - r AS np, (f - r) // 32 AS lp FROM g),
         |occ AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents WHERE text IS NOT NULL),
         |occ2 AS (SELECT doc_id, word FROM occ WHERE len(word) >= 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(CASE WHEN sum(CASE WHEN s.np IS NULL THEN 1 ELSE 0 END) > 0
         |       THEN NULL ELSE sum(s.np) END AS BIGINT) AS n_pieces,
         |  CAST(CASE WHEN sum(CASE WHEN s.np IS NULL THEN 1 ELSE 0 END) > 0
         |       THEN NULL ELSE sum(s.lp) END AS BIGINT) AS logp_micro
         |FROM occ2 JOIN seg s USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    unigramDpCtes(maxPiece, maxWordLen) + ",\n" + tail
  }

  /** unigram_refit's oracle: the dp CTEs, then the backtrace unrolled
    * as one CTE per step (p → p − l*(p), l* = smallest piece length
    * reproducing dp(p) exactly), viterbi piece recount weighted by
    * word frequency, rescore — [[UnigramLm.refit]]'s arithmetic. */
  private def unigramRefitOracle(maxPiece: Int, maxWordLen: Int): String = {
    val dparr = (0 to maxWordLen).map(i => s"dp$i").mkString(", ")
    def lstarCase(): String = (1 to maxPiece).map { l =>
      s"CASE WHEN p >= $l AND da[CAST(p + 1 AS INT)] = " +
        s"da[CAST(p - $l + 1 AS INT)] + 32 * (SELECT score_micro " +
        s"FROM voc WHERE piece = substr(word, CAST(p - $l + 1 AS INT), $l)) " +
        s"- 1 THEN $l END"
    }.mkString("COALESCE(", ", ", ")")
    val btSteps = (1 to maxWordLen).map { k =>
      s"""bt$k AS (
         |  SELECT word, da,
         |    CASE WHEN p > 0 AND ls IS NOT NULL THEN p - ls
         |         ELSE 0 END AS p,
         |    CASE WHEN p > 0 AND ls IS NOT NULL
         |         THEN list_append(ps,
         |           substr(word, CAST(p - ls + 1 AS INT), CAST(ls AS INT)))
         |         ELSE ps END AS ps
         |  FROM (SELECT *, ${lstarCase()} AS ls FROM bt${k - 1}))""".stripMargin
    }
    val tail =
      s"""pieces AS (
         |  SELECT word, unnest(ps) AS piece FROM bt$maxWordLen),
         |freq AS (
         |  SELECT w AS word, count(*) AS f FROM w2
         |  WHERE len(w) <= $maxWordLen GROUP BY 1),
         |vc AS (
         |  SELECT piece, sum(f) AS viterbi_cnt
         |  FROM pieces JOIN freq USING (word) GROUP BY 1),
         |j AS (
         |  SELECT voc.piece, voc.cnt, voc.score_micro,
         |         COALESCE(vc.viterbi_cnt, 0) AS viterbi_cnt
         |  FROM voc LEFT JOIN vc USING (piece)),
         |tv AS (SELECT sum(viterbi_cnt) AS t FROM j)
         |SELECT piece, CAST(cnt AS BIGINT) AS cnt, score_micro,
         |       CAST(viterbi_cnt AS BIGINT) AS viterbi_cnt,
         |       CASE WHEN viterbi_cnt > 0 THEN CAST(
         |         (CAST(round(log10(viterbi_cnt), 6) AS DECIMAL(28,6)) -
         |          CAST(round(log10(t), 6) AS DECIMAL(28,6)))
         |         * 1000000 AS BIGINT) END AS new_score_micro
         |FROM j, tv ORDER BY piece""".stripMargin
    unigramDpCtes(maxPiece, maxWordLen) + ",\n" +
      s"""bt0 AS (
         |  SELECT word, list_value($dparr) AS da,
         |         CAST(len(word) AS BIGINT) AS p,
         |         CAST([] AS VARCHAR[]) AS ps
         |  FROM d$maxWordLen WHERE len(word) <= $maxWordLen)""".stripMargin +
      ",\n" + btSteps.mkString(",\n") + ",\n" + tail
  }

  /** Shared CTE chain of the quality-classifier oracles: re-runs the
    * ENTIRE training pipeline in SQL — micro-quantized features, exact
    * integer moments, standardization, class weights and all
    * QualityClassifier.Iters gradient-descent steps (the iteration
    * blocks are GENERATED below, one (p, g, w) CTE triple per step).
    * Exactness contract (mirrors QualityClassifier): per-doc features
    * and gradient terms are quantized with floor(v*1e6 + 0.5) BEFORE
    * any sum, sums are BIGINT/DECIMAL(38) (exact under partitioning),
    * mean/sd/weights derive by correctly-rounded single ops, and every
    * float expression is written in the same association order as the
    * Scala side — so the learned weights match bit-for-bit. */
  /** Generated CTE chain re-running the full BPE training loop
    * (operators/Bpe.scala) in SQL: w0 = per-codepoint split of the
    * capped top-word relation, then one (p, b, w) CTE triple per merge
    * round — pair counts over adjacent positions (overlaps included),
    * argmax with (count DESC, lhs, rhs) tie-break, and a greedy
    * left-to-right merge as a `list_reduce` fold. The fold is exactly
    * `TextHashKernels.mergeOnce`: a merged symbol lhs||rhs is strictly
    * longer than lhs, so `acc` can only end in a bare lhs when that
    * symbol is un-merged this round — the non-overlap guarantee. The
    * `(?s)` dotall flag keeps the per-codepoint split total for words
    * carrying newlines (RE2's `.` excludes \n by default). */
  private val BpeCtes: String = {
    val rounds = (1 to Bpe.MergeRounds).map { k =>
      val prev = s"w${k - 1}"
      s"""p$k AS MATERIALIZED (
         |  SELECT s[i] AS l, s[i + 1] AS r, sum(cnt) AS c
         |  FROM (
         |    SELECT s, cnt, unnest(generate_series(1, len(s) - 1)) AS i
         |    FROM (SELECT string_split(seq, ' ') AS s, cnt FROM $prev))
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT w.word, w.cnt,
         |         list_reduce(string_split(w.seq, ' '), (acc, x) ->
         |           CASE WHEN x = b.r AND (acc = b.l OR ends_with(acc, ' ' || b.l))
         |                THEN acc || b.r ELSE acc || ' ' || x END) AS seq
         |  FROM $prev w CROSS JOIN b$k b)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE
       |bpe_tk AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t != '')) AS word
       |  FROM documents),
       |bpe_wc AS MATERIALIZED (SELECT word, count(*) AS cnt FROM bpe_tk GROUP BY word),
       |w0 AS MATERIALIZED (
       |  SELECT word, cnt, rtrim(regexp_replace(word, '(?s)(.)', '\\1 ', 'g'), ' ') AS seq
       |  FROM (SELECT word, cnt FROM bpe_wc ORDER BY cnt DESC, word LIMIT ${Bpe.TopWords})),
       |$rounds""".stripMargin
  }

  /** The trained merge table (rank, lhs, rhs, merged, freq) as a UNION
    * over the per-round argmax CTEs. */
  private val BpeMergesSelect: String =
    (1 to Bpe.MergeRounds).map { k =>
      s"SELECT $k AS rank, l AS lhs, r AS rhs, l || r AS merged, CAST(c AS BIGINT) AS freq FROM b$k"
    }.mkString("\n UNION ALL ")

  /**
   * Generated CTE chain re-running WordPiece.train in SQL — the
   * [[BpeCtes]] structure with the two WordPiece differences: the
   * argmax is the likelihood score c/(c_lhs·c_rhs) (per-round symbol
   * counts vs$$k join in, the ORDER BY casts to DOUBLE in the same
   * order the Scala trainer multiplies), and the fold concatenates
   * `l || substr(r, 3)` — the right side always sheds its `##`
   * continuation prefix. v0 seeds code points with `##` on every
   * non-initial symbol.
   */
  private val WpCtes: String = {
    val rounds = (1 to WordPiece.MergeRounds).map { k =>
      val prev = s"v${k - 1}"
      s"""vp$k AS MATERIALIZED (
         |  SELECT s[i] AS l, s[i + 1] AS r, sum(cnt) AS c
         |  FROM (
         |    SELECT s, cnt, unnest(generate_series(1, len(s) - 1)) AS i
         |    FROM (SELECT string_split(seq, ' ') AS s, cnt FROM $prev))
         |  GROUP BY 1, 2),
         |vs$k AS MATERIALIZED (
         |  SELECT x AS sym, sum(cnt) AS c FROM (
         |    SELECT unnest(string_split(seq, ' ')) AS x, cnt FROM $prev)
         |  GROUP BY 1),
         |vb$k AS MATERIALIZED (
         |  SELECT p.l, p.r, p.c, sl.c AS cl, sr.c AS cr
         |  FROM vp$k p JOIN vs$k sl ON sl.sym = p.l JOIN vs$k sr ON sr.sym = p.r
         |  ORDER BY CAST(p.c AS DOUBLE) / (CAST(sl.c AS DOUBLE) * CAST(sr.c AS DOUBLE)) DESC, p.l, p.r
         |  LIMIT 1),
         |v$k AS MATERIALIZED (
         |  SELECT w.word, w.cnt,
         |         list_reduce(string_split(w.seq, ' '), (acc, x) ->
         |           CASE WHEN x = b.r AND (acc = b.l OR ends_with(acc, ' ' || b.l))
         |                THEN acc || substr(b.r, 3) ELSE acc || ' ' || x END) AS seq
         |  FROM $prev w CROSS JOIN vb$k b)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE
       |wp_tk AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t != '')) AS word
       |  FROM documents),
       |wp_wc AS MATERIALIZED (SELECT word, count(*) AS cnt FROM wp_tk GROUP BY word),
       |v0 AS MATERIALIZED (
       |  SELECT word, cnt,
       |    array_to_string(list_transform(
       |      string_split(rtrim(regexp_replace(word, '(?s)(.)', '\\1 ', 'g'), ' '), ' '),
       |      (x, i) -> CASE WHEN i = 1 THEN x ELSE '##' || x END), ' ') AS seq
       |  FROM (SELECT word, cnt FROM wp_wc ORDER BY cnt DESC, word LIMIT ${Bpe.TopWords})),
       |$rounds""".stripMargin
  }

  private val WpMergesSelect: String =
    (1 to WordPiece.MergeRounds).map { k =>
      s"SELECT $k AS rank, l AS lhs, r AS rhs, l || substr(r, 3) AS merged, " +
        s"CAST(c AS BIGINT) AS c_pair, CAST(cl AS BIGINT) AS c_lhs, " +
        s"CAST(cr AS BIGINT) AS c_rhs FROM vb$k"
    }.mkString("\n UNION ALL ")

  val specs: Seq[QuerySpec] = Seq(
    // Unigram-LM (SentencePiece) vocabulary: all 1..4-char n-grams of
    // corpus words with count >= 2 (1-char fallback always kept),
    // scored as micro log-probs — the third tokenizer trainer beside
    // BPE.
    QuerySpec("unigram_vocab", (s, d) =>
      UnigramLm.fitVocab(table(s, d, "documents"), "text")
        .orderBy("piece"),
      // Unigram vocab replayed: two chained unnests for the n-grams,
      // the same 6-dp log-prob scores.
      (unigramVocabCtes +
        "\nSELECT piece, CAST(cnt AS BIGINT) AS cnt, score_micro " +
        "FROM voc ORDER BY piece")),
    // Unigram-LM Viterbi segmentation: per-doc piece counts and
    // log-likelihood under the fitted vocab — the DP packs (logp,
    // pieces) into ONE BIGINT per position, so the maximum-likelihood
    // split replays bit-for-bit in the oracle's unrolled CTE chain.
    // The DP runs over DISTINCT words (vocabulary-sized); docs join
    // back through a broadcast.
    QuerySpec("unigram_segment", (s, d) => {
      val docs = table(s, d, "documents")
      UnigramLm.segmentCorpus(docs, "doc_id", "text",
        UnigramLm.fitVocab(docs, "text")).orderBy("doc_id")
    },
      // The packed-BIGINT Viterbi replayed as 16 chained CTEs.
      unigramSegmentOracle(4, 16)),
    // Unigram-LM hard-EM refit: backtrace every word's Viterbi split
    // (columnar — one aggregate() fold walking p → p − l*(p) over the
    // dp array), recount pieces weighted by word frequency, rescore.
    // Pieces never chosen surface with viterbi_cnt = 0.
    QuerySpec("unigram_refit", (s, d) => {
      val docs = table(s, d, "documents")
      UnigramLm.refit(docs, "doc_id", "text",
        UnigramLm.fitVocab(docs, "text")).orderBy("piece")
    },
      // The backtrace replayed: 16 more CTEs walking p → p − l*(p).
      unigramRefitOracle(4, 16)),
    QuerySpec("token_counts", (s, d) =>
      TextAnalysis.tokenCounts(table(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha,
        |       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws
        |FROM documents ORDER BY doc_id""".stripMargin),
    QuerySpec("lm_ngram_stats", (s, d) =>
      LanguageModel.modelStats(table(s, d, "documents"), "doc_id", "text"),
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
        |        WHERE nw = 3 GROUP BY 1 HAVING count(*) >= 2)
        |SELECT CAST(1 AS BIGINT) AS ord, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(coalesce(sum(cnt), 0) AS BIGINT) AS total_occ FROM uni
        |UNION ALL SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        |       CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM bi
        |UNION ALL SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
        |       CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM tri
        |ORDER BY ord""".stripMargin),
    // Interpolated Kneser-Ney bigram smoothing: continuation-count
    // backoff, exact integer counts, fixed-order double probability.
    QuerySpec("lm_kneser_ney", (s, d) =>
      LanguageModel.kneserNey(table(s, d, "documents"), "doc_id", "text"),
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |pos AS (
        |  SELECT doc_id, g.nw AS nw, g.b AS b, g.c AS c FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
        |      i -> struct_pack(
        |        nw := least(i, 3),
        |        b := CASE WHEN i >= 2 THEN toks[i-1] END,
        |        c := toks[i]))) AS g
        |    FROM tok)),
        |bi AS (SELECT b AS w1, c AS w2, CAST(count(*) AS BIGINT) AS c12
        |       FROM pos WHERE nw >= 2 GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |               CAST(count(*) AS BIGINT) AS n1p_fwd FROM bi GROUP BY 1),
        |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bwd FROM bi GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_bigram_types FROM bi)
        |SELECT w1, w2, c12, c1, n1p_fwd, n1p_bwd, n_bigram_types,
        |       round(greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE)
        |           + ((0.75 * CAST(n1p_fwd AS DOUBLE)) / CAST(c1 AS DOUBLE))
        |             * (CAST(n1p_bwd AS DOUBLE) / CAST(n_bigram_types AS DOUBLE)),
        |             6) AS p_kn
        |FROM bi JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tot
        |ORDER BY c12 DESC, w1, w2 LIMIT 30""".stripMargin),
    QuerySpec("doc_perplexity", (s, d) =>
      LanguageModel.selfPerplexity(table(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
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
        |  CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
        |       round(sum(k * ln(s)), 4) AS logprob,
        |       round(exp(-sum(k * ln(s)) / sum(k)), 4) AS ppl
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // Vocabulary coverage: top-20 corpus vocab (count DESC, term ASC
    // cut) → per-doc out-of-vocabulary token fraction.
    QuerySpec("vocab_coverage", (s, d) =>
      TextAnalysis.vocabCoverage(table(s, d, "documents"), "doc_id", "text",
        vocabSize = 20)
        .orderBy("doc_id"),
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |vocab AS (
        |  SELECT term FROM (
        |    SELECT term, count(*) AS tf,
        |           row_number() OVER (ORDER BY count(*) DESC, term ASC) AS rk
        |    FROM terms GROUP BY term)
        |  WHERE rk <= 20),
        |dtf AS (
        |  SELECT doc_id, term, count(*) AS dtf FROM terms GROUP BY doc_id, term)
        |SELECT d.doc_id,
        |       CAST(sum(d.dtf) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN v.term IS NULL THEN d.dtf ELSE 0 END) AS BIGINT) AS n_oov,
        |       round(CAST(sum(CASE WHEN v.term IS NULL THEN d.dtf ELSE 0 END) AS DOUBLE)
        |             / sum(d.dtf), 6) AS oov_ratio
        |FROM dtf d LEFT JOIN vocab v USING (term)
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // BPE subword tokenizer (Sennrich 2016): corpus-trained merge
    // table (the model card), the learned subword vocabulary, and
    // per-doc segmentation stats. Training = ONE distributed
    // word-count aggregate + a driver loop over the capped top-512
    // word relation; application = codegen bpe_apply over DISTINCT
    // words joined back (the zipfian corpus pays per word TYPE). The
    // oracle re-runs the full 16-round training loop as unrolled SQL
    // CTEs and the application as a recursive CTE — bit-for-bit.
    QuerySpec("bpe_fit", (s, d) => Bpe.fitTable(s, bpeMerges(s, d)).orderBy("rank"),
      s"""$BpeCtes
         |SELECT * FROM ($BpeMergesSelect)
         |ORDER BY rank""".stripMargin),
    QuerySpec("bpe_vocab", (s, d) =>
      Bpe.vocab(table(s, d, "documents"), "text", bpeMerges(s, d))
        .orderBy(col("freq").desc, col("token").asc),
      s"""$BpeCtes
         |SELECT token, CAST(sum(cnt) AS BIGINT) AS freq FROM (
         |  SELECT unnest(string_split(seq, ' ')) AS token, cnt FROM w${Bpe.MergeRounds})
         |GROUP BY token ORDER BY freq DESC, token LIMIT ${Bpe.VocabLimit}""".stripMargin),
    QuerySpec("bpe_tokenize", (s, d) =>
      Bpe.tokenize(table(s, d, "documents"), "doc_id", "text", bpeMerges(s, d))
        .orderBy("doc_id"),
      // Application as a recursive CTE over the merge ranks: each step is
      // the same list_reduce fold the training rounds use, driven by the
      // b1..bN argmax rows — so segmentation in SQL replays the Scala
      // kernel decision-for-decision over the DISTINCT-words relation.
      s"""$BpeCtes,
         |bpe_mg AS MATERIALIZED (
         |${(1 to Bpe.MergeRounds).map(k => s"  SELECT $k AS rk, l AS ml, r AS mr FROM b$k").mkString("\n  UNION ALL\n")}),
         |bpe_dw AS MATERIALIZED (SELECT DISTINCT word FROM bpe_tk),
         |bpe_rec AS (
         |  SELECT word, rtrim(regexp_replace(word, '(?s)(.)', '\\1 ', 'g'), ' ') AS seq, 0 AS k
         |  FROM bpe_dw
         |  UNION ALL
         |  SELECT q.word,
         |         list_reduce(string_split(q.seq, ' '), (acc, x) ->
         |           CASE WHEN x = m.mr AND (acc = m.ml OR ends_with(acc, ' ' || m.ml))
         |                THEN acc || m.mr ELSE acc || ' ' || x END) AS seq,
         |         q.k + 1
         |  FROM bpe_rec q JOIN bpe_mg m ON m.rk = q.k + 1),
         |bpe_seg AS MATERIALIZED (
         |  SELECT word, CAST(len(string_split(seq, ' ')) AS BIGINT) AS nsub
         |  FROM bpe_rec WHERE k = ${Bpe.MergeRounds})
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(s.nsub) AS BIGINT) AS n_subwords,
         |       round(sum(s.nsub) * 1.0 / count(*), 6) AS fertility
         |FROM bpe_tk t JOIN bpe_seg s USING (word)
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),
    // WordPiece (the BERT tokenizer): likelihood-scored merges
    // (c_pair / (c_lhs · c_rhs) argmax on the IEEE double grid, ties
    // UTF-8-lexicographic) and greedy longest-match inference with
    // whole-word [UNK] fallback — the structural contrasts with BPE.
    // The oracle replays the 16-round scored training loop as
    // unrolled CTEs and the greedy matcher as a recursive CTE.
    QuerySpec("wordpiece_fit", (s, d) =>
      WordPiece.fitTable(s, wordpieceModel(s, d)).orderBy("rank"),
      s"""$WpCtes
         |SELECT * FROM ($WpMergesSelect)
         |ORDER BY rank""".stripMargin),
    QuerySpec("wordpiece_tokenize", (s, d) =>
      WordPiece.tokenize(table(s, d, "documents"), "doc_id", "text",
        wordpieceModel(s, d))
        .orderBy("doc_id"),
      // Inference replay: vocab = v0 alphabet ∪ merged tokens. The
      // greedy choice at (word, pos) is path-independent, so the
      // longest matching vocab entry of the right word-position class
      // is precomputed per position as a plain lookup relation (wp_bm;
      // a correlated subquery inside this deep recursive chain
      // silently yields NULL in DuckDB), and the recursion walks it
      // with a LEFT JOIN, collapsing to a 1-piece [UNK] word when no
      // entry matches — decision-for-decision the wordpiece_apply
      // kernel.
      s"""$WpCtes,
         |wp_vb AS MATERIALIZED (
         |  SELECT DISTINCT x AS tok FROM (SELECT unnest(string_split(seq, ' ')) AS x FROM v0)
         |  UNION
         |${(1 to WordPiece.MergeRounds).map(k => s"  SELECT l || substr(r, 3) FROM vb$k").mkString("\n  UNION\n")}),
         |wp_v AS MATERIALIZED (
         |  SELECT tok,
         |         CASE WHEN tok LIKE '##%' AND length(tok) > 2
         |              THEN substr(tok, 3) ELSE tok END AS raw,
         |         tok LIKE '##%' AND length(tok) > 2 AS cont
         |  FROM wp_vb),
         |wp_dw AS MATERIALIZED (SELECT DISTINCT word FROM wp_tk),
         |wp_bm AS MATERIALIZED (
         |  SELECT w.word, p.pos, max(length(v.raw)) AS best
         |  FROM wp_dw w,
         |       LATERAL (SELECT unnest(generate_series(1, length(w.word))) AS pos) p,
         |       wp_v v
         |  WHERE v.cont = (p.pos > 1)
         |    AND substr(w.word, p.pos, length(v.raw)) = v.raw
         |  GROUP BY 1, 2),
         |wp_rec AS (
         |  SELECT word, 1 AS pos, 0 AS np, false AS unk, length(word) AS lw
         |  FROM wp_dw
         |  UNION ALL
         |  SELECT r.word,
         |         CASE WHEN b.best IS NULL THEN r.lw + 1 ELSE r.pos + b.best END,
         |         CASE WHEN b.best IS NULL THEN 1 ELSE r.np + 1 END,
         |         b.best IS NULL,
         |         r.lw
         |  FROM wp_rec r LEFT JOIN wp_bm b ON b.word = r.word AND b.pos = r.pos
         |  WHERE r.pos <= r.lw AND NOT r.unk),
         |wp_seg AS MATERIALIZED (
         |  SELECT word, CAST(np AS BIGINT) AS nsub, unk
         |  FROM wp_rec WHERE pos > lw OR unk)
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(s.nsub) AS BIGINT) AS n_subwords,
         |       CAST(sum(CASE WHEN s.unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
         |       round(sum(s.nsub) * 1.0 / count(*), 6) AS fertility
         |FROM wp_tk t JOIN wp_seg s USING (word)
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),
    // Tokenizer selection card: the same corpus through all three
    // trained families (BPE / unigram-LM / WordPiece) on one grid —
    // fertility and bytes-per-token, with the UNK/overlong fallback
    // counted as one token. One token-stream pass; all three
    // segmenters run per DISTINCT word and join back broadcast.
    QuerySpec("tokenizer_compare", (s, d) => {
      val docs = table(s, d, "documents")
      TokenizerCompare.card(docs, "text", bpeMerges(s, d),
        wordpieceModel(s, d), ugVocab(s, d))
        .orderBy("tokenizer")
    },
      // Three independently-scoped WITH chains (the BPE and unigram
      // chains share CTE names), each re-training its tokenizer and
      // rolling the corpus up to one card row.
      s"""SELECT * FROM (
         |($BpeCtes,
         |bpe_mg AS MATERIALIZED (
         |${(1 to Bpe.MergeRounds).map(k => s"  SELECT $k AS rk, l AS ml, r AS mr FROM b$k").mkString("\n  UNION ALL\n")}),
         |bpe_dw AS MATERIALIZED (SELECT DISTINCT word FROM bpe_tk),
         |bpe_rec AS (
         |  SELECT word, rtrim(regexp_replace(word, '(?s)(.)', '\\1 ', 'g'), ' ') AS seq, 0 AS k
         |  FROM bpe_dw
         |  UNION ALL
         |  SELECT q.word,
         |         list_reduce(string_split(q.seq, ' '), (acc, x) ->
         |           CASE WHEN x = m.mr AND (acc = m.ml OR ends_with(acc, ' ' || m.ml))
         |                THEN acc || m.mr ELSE acc || ' ' || x END) AS seq,
         |         q.k + 1
         |  FROM bpe_rec q JOIN bpe_mg m ON m.rk = q.k + 1),
         |bpe_seg AS MATERIALIZED (
         |  SELECT word, CAST(len(string_split(seq, ' ')) AS BIGINT) AS nsub
         |  FROM bpe_rec WHERE k = ${Bpe.MergeRounds})
         |SELECT 'bpe' AS tokenizer,
         |       CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(s.nsub) AS BIGINT) AS n_tokens,
         |       CAST(sum(strlen(t.word)) AS BIGINT) AS n_text_bytes,
         |       CAST(0 AS BIGINT) AS n_fallback,
         |       round(sum(s.nsub) * 1.0 / count(*), 6) AS fertility,
         |       round(sum(strlen(t.word)) * 1.0 / sum(s.nsub), 6) AS bytes_per_token
         |FROM bpe_tk t JOIN bpe_seg s USING (word))
         |UNION ALL
         |(${unigramDpCtes(4, 16)},
         |uf AS (SELECT word, CASE len(word) ${(1 to 16).map(i => s"WHEN $i THEN dp$i").mkString(" ")} END AS f
         |       FROM d16),
         |useg AS (SELECT word, 31 - (((f % 32) + 32) % 32) AS np FROM uf)
         |SELECT 'unigram' AS tokenizer,
         |       CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(coalesce(s.np, 1)) AS BIGINT) AS n_tokens,
         |       CAST(sum(strlen(t.w)) AS BIGINT) AS n_text_bytes,
         |       CAST(sum(CASE WHEN s.np IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_fallback,
         |       round(sum(coalesce(s.np, 1)) * 1.0 / count(*), 6) AS fertility,
         |       round(sum(strlen(t.w)) * 1.0 / sum(coalesce(s.np, 1)), 6) AS bytes_per_token
         |FROM w2 t JOIN useg s ON s.word = t.w)
         |UNION ALL
         |($WpCtes,
         |wp_vb AS MATERIALIZED (
         |  SELECT DISTINCT x AS tok FROM (SELECT unnest(string_split(seq, ' ')) AS x FROM v0)
         |  UNION
         |${(1 to WordPiece.MergeRounds).map(k => s"  SELECT l || substr(r, 3) FROM vb$k").mkString("\n  UNION\n")}),
         |wp_v AS MATERIALIZED (
         |  SELECT tok,
         |         CASE WHEN tok LIKE '##%' AND length(tok) > 2
         |              THEN substr(tok, 3) ELSE tok END AS raw,
         |         tok LIKE '##%' AND length(tok) > 2 AS cont
         |  FROM wp_vb),
         |wp_dw AS MATERIALIZED (SELECT DISTINCT word FROM wp_tk),
         |wp_bm AS MATERIALIZED (
         |  SELECT w.word, p.pos, max(length(v.raw)) AS best
         |  FROM wp_dw w,
         |       LATERAL (SELECT unnest(generate_series(1, length(w.word))) AS pos) p,
         |       wp_v v
         |  WHERE v.cont = (p.pos > 1)
         |    AND substr(w.word, p.pos, length(v.raw)) = v.raw
         |  GROUP BY 1, 2),
         |wp_rec AS (
         |  SELECT word, 1 AS pos, 0 AS np, false AS unk, length(word) AS lw
         |  FROM wp_dw
         |  UNION ALL
         |  SELECT r.word,
         |         CASE WHEN b.best IS NULL THEN r.lw + 1 ELSE r.pos + b.best END,
         |         CASE WHEN b.best IS NULL THEN 1 ELSE r.np + 1 END,
         |         b.best IS NULL,
         |         r.lw
         |  FROM wp_rec r LEFT JOIN wp_bm b ON b.word = r.word AND b.pos = r.pos
         |  WHERE r.pos <= r.lw AND NOT r.unk),
         |wp_seg AS MATERIALIZED (
         |  SELECT word, CAST(np AS BIGINT) AS nsub, unk
         |  FROM wp_rec WHERE pos > lw OR unk)
         |SELECT 'wordpiece' AS tokenizer,
         |       CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(s.nsub) AS BIGINT) AS n_tokens,
         |       CAST(sum(strlen(t.word)) AS BIGINT) AS n_text_bytes,
         |       CAST(sum(CASE WHEN s.unk THEN 1 ELSE 0 END) AS BIGINT) AS n_fallback,
         |       round(sum(s.nsub) * 1.0 / count(*), 6) AS fertility,
         |       round(sum(strlen(t.word)) * 1.0 / sum(s.nsub), 6) AS bytes_per_token
         |FROM wp_tk t JOIN wp_seg s USING (word))
         |) ORDER BY tokenizer""".stripMargin),
    // Tokenizer fertility per language — the multilingual-equity card
    // (Petrov et al., "Language Model Tokenizers Introduce Unfairness"):
    // subwords-per-word and bytes-per-token by lang under the SAME
    // trained BPE; a language paying 2× the tokens pays 2× the compute
    // and gets half the context. Exact integer sums, micro divisions.
    QuerySpec("bpe_fertility_lang", (s, d) => {
      val docs = table(s, d, "documents")
      Bpe.tokenize(docs, "doc_id", "text", bpeMerges(s, d))
        .join(docs.select(col("doc_id"), col("lang"),
          octet_length(col("text")).cast("long").as("n_bytes")), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").as("n_words"),
          sum("n_subwords").as("n_subwords"),
          sum("n_bytes").as("n_bytes"))
        .withColumn("fertility_micro",
          expr("(CAST(n_subwords AS DECIMAL(38,0)) * 1000000) div n_words"))
        .withColumn("bytes_per_token_micro",
          expr("(CAST(n_bytes AS DECIMAL(38,0)) * 1000000) div n_subwords"))
        .orderBy("lang")
    },
      // Same segmentation replay, rolled up per language with byte
      // counts (DuckDB strlen = bytes).
      s"""$BpeCtes,
         |bpe_mg AS MATERIALIZED (
         |${(1 to Bpe.MergeRounds).map(k => s"  SELECT $k AS rk, l AS ml, r AS mr FROM b$k").mkString("\n  UNION ALL\n")}),
         |bpe_dw AS MATERIALIZED (SELECT DISTINCT word FROM bpe_tk),
         |bpe_rec AS (
         |  SELECT word, rtrim(regexp_replace(word, '(?s)(.)', '\\1 ', 'g'), ' ') AS seq, 0 AS k
         |  FROM bpe_dw
         |  UNION ALL
         |  SELECT q.word,
         |         list_reduce(string_split(q.seq, ' '), (acc, x) ->
         |           CASE WHEN x = m.mr AND (acc = m.ml OR ends_with(acc, ' ' || m.ml))
         |                THEN acc || m.mr ELSE acc || ' ' || x END) AS seq,
         |         q.k + 1
         |  FROM bpe_rec q JOIN bpe_mg m ON m.rk = q.k + 1),
         |bpe_seg AS MATERIALIZED (
         |  SELECT word, CAST(len(string_split(seq, ' ')) AS BIGINT) AS nsub
         |  FROM bpe_rec WHERE k = ${Bpe.MergeRounds}),
         |per_doc AS (
         |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |         CAST(sum(s.nsub) AS BIGINT) AS n_subwords
         |  FROM bpe_tk t JOIN bpe_seg s USING (word) GROUP BY t.doc_id)
         |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(p.n_words) AS BIGINT) AS n_words,
         |       CAST(SUM(p.n_subwords) AS BIGINT) AS n_subwords,
         |       CAST(SUM(strlen(d.text)) AS BIGINT) AS n_bytes,
         |       CAST(CAST(SUM(p.n_subwords) AS HUGEINT) * 1000000 //
         |            SUM(p.n_words) AS BIGINT) AS fertility_micro,
         |       CAST(CAST(SUM(strlen(d.text)) AS HUGEINT) * 1000000 //
         |            SUM(p.n_subwords) AS BIGINT) AS bytes_per_token_micro
         |FROM per_doc p JOIN documents d USING (doc_id)
         |GROUP BY 1 ORDER BY lang""".stripMargin),
    // Good-Turing frequency-of-frequencies: N_r per count r and the
    // r* re-estimate — the classical smoothing diagnostic; N_1/N is
    // the unseen-mass estimate.
    QuerySpec("lm_good_turing", (s, d) =>
      LanguageModel.goodTuring(table(s, d, "documents"), "text"),
      // Good-Turing replayed: FoF self-join, HUGEINT re-estimate.
      """WITH f AS (
        |  SELECT term, count(*) AS r FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE len(term) >= 1 GROUP BY 1),
        |fof AS (SELECT r, count(*) AS n_r FROM f GROUP BY 1),
        |nx AS (SELECT r - 1 AS r, n_r AS n1 FROM fof)
        |SELECT fof.r, CAST(fof.n_r AS BIGINT) AS n_r,
        |       CAST(CASE WHEN nx.n1 IS NOT NULL THEN
        |         CAST(CAST(1000000 AS HUGEINT) * (fof.r + 1) * nx.n1
        |              AS HUGEINT) // CAST(fof.n_r AS HUGEINT) END
        |         AS BIGINT) AS r_star_micro
        |FROM fof LEFT JOIN nx USING (r) ORDER BY r""".stripMargin)
  )
}
