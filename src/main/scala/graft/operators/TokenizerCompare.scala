package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/**
 * Tokenizer selection card: the SAME corpus pushed through all three
 * trained tokenizer families — BPE ([[Bpe]], frequency-argmax merges),
 * unigram-LM ([[UnigramLm]], Viterbi 1-best under piece
 * log-probabilities) and WordPiece ([[WordPiece]], likelihood-argmax
 * merges + greedy longest-match) — reported on one comparable grid:
 * fertility (tokens per word) and bytes per token, the two numbers a
 * pretraining team actually compares when picking a tokenizer
 * (compute cost per document ∝ fertility; context-window reach ∝
 * bytes/token).
 *
 * Fallback convention: a word a scheme cannot segment (WordPiece
 * `[UNK]`; unigram words past `maxWordLen`) counts as ONE token and
 * one `n_fallback` — the "replace with UNK" convention every real
 * pipeline applies. BPE is open-vocabulary by construction
 * (character fallback), so its n_fallback is 0. `n_words` and
 * `n_text_bytes` are tokenizer-independent and repeat on every row —
 * a built-in cross-check.
 *
 * Shape: ONE pass over the token stream. All three segmenters run per
 * DISTINCT word (two codegen kernels + the unigram packed-BIGINT DP),
 * the three per-word token counts join at the distinct-words relation
 * (zipf-small, broadcast), and a single aggregate produces every
 * metric; the three output rows are projections of that one row. At
 * 100 TB this costs one word-count-shaped scan, same as training
 * either tokenizer.
 */
object TokenizerCompare {

  def card(
      docs: DataFrame, textCol: String,
      bpeMerges: Seq[Bpe.Merge], wp: WordPiece.Model, ugVocab: DataFrame,
      maxPiece: Int = 4, maxWordLen: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    GraftFunctions.register(spark)
    // ONE corpus pass: collapse the token stream to per-distinct-word
    // COUNTS immediately (the pre-r17 shape exploded the corpus twice —
    // once into the distinct-words relation, once for the final
    // multiplicity join). Every corpus-level sum is the count-weighted
    // sum over distinct words: Σ_tokens f(word) ≡ Σ_words cnt·f(word),
    // exact in integers. The word-count relation is zipf-small and
    // materialized once, so all three segmenters run over it without
    // re-deriving the scan.
    val wc = docs.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("__wc"))
      .localCheckpoint(true)
    val dw = wc.select("word")
    val bpeLits = array(Bpe.mergeStrings(bpeMerges).map(lit): _*)
    val wpLits = array(wp.vocab.map(lit): _*)
    val ug = UnigramLm.segmentWords(dw, ugVocab, maxPiece, maxWordLen)
      .select(col("word"),
        coalesce(col("n_pieces"), lit(1L)).as("__ug_n"),
        col("n_pieces").isNull.as("__ug_fb"))
    val seg = dw
      .select(col("word"),
        size(split(GraftFunctions.bpeApply(col("word"), bpeLits), " "))
          .cast("long").as("__bpe_n"),
        GraftFunctions.wordpieceApply(col("word"), wpLits).as("__wp_s"))
      .select(col("word"), col("__bpe_n"),
        size(split(col("__wp_s"), " ")).cast("long").as("__wp_n"),
        (col("__wp_s") === "[UNK]").as("__wp_fb"))
      .join(ug, "word")
    // The three output rows are projections of this ONE bounded row;
    // checkpointing it keeps the union from deriving the whole
    // segmenter subtree once per tokenizer (3× plan + 3× execution).
    // Empty corpus: every count is 0 (not the NULL of an empty sum) and
    // both ratios are NULL, divided by a NULL-if-zero count so ANSI
    // division never sees a zero.
    def total(c: Column) = coalesce(sum(c), lit(0L))
    // Without the hint the planner broadcasts `wc` instead of `seg`
    // (seen at sf0.01 and sf0.1), so the hint keeps the plan as it is.
    val one = wc.join(broadcast(seg), "word")
      .agg(total(col("__wc")).as("nw"),
        total(octet_length(col("word")).cast("long") * col("__wc")).as("nb"),
        total(col("__bpe_n") * col("__wc")).as("t_bpe"),
        total(col("__ug_n") * col("__wc")).as("t_ug"),
        total(when(col("__ug_fb"), col("__wc")).otherwise(0L)).as("f_ug"),
        total(col("__wp_n") * col("__wc")).as("t_wp"),
        total(when(col("__wp_fb"), col("__wc")).otherwise(0L)).as("f_wp"))
      .localCheckpoint(true)
    def ratio(num: String, den: String) =
      round(col(num).cast("double") / nullif(col(den), lit(0L)), 6)
    def row(name: String, t: String, f: Column) =
      one.select(lit(name).as("tokenizer"),
        col("nw").as("n_words"),
        col(t).as("n_tokens"),
        col("nb").as("n_text_bytes"),
        f.as("n_fallback"),
        ratio(t, "nw").as("fertility"),
        ratio("nb", t).as("bytes_per_token"))
    row("bpe", "t_bpe", lit(0L))
      .unionAll(row("unigram", "t_ug", col("f_ug")))
      .unionAll(row("wordpiece", "t_wp", col("f_wp")))
  }
}
