package graft.operators

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextHashKernels}

/**
 * Byte-pair-encoding subword tokenizer (Sennrich et al. 2016) — the
 * vocabulary-construction pass every LLM data pipeline runs before it
 * can count a "token".
 *
 * Shape (the HF-tokenizers split of work, re-expressed Spark-first):
 *
 *  - '''Word counting is distributed''': one `explode(split)` +
 *    hash aggregate over the corpus — map-side partials, a single
 *    shuffle on the word key. At 100 TB this is the only full-corpus
 *    pass, and it is the same scan shape as `vocab_coverage`.
 *  - '''The merge loop runs on the driver over a CAPPED word relation'''
 *    (top-[[TopWords]] by count, ties by word — the standard
 *    train-on-frequent-types cut). The collected state is ≤ `topWords`
 *    rows regardless of corpus size, so the driver never sees data
 *    volume. Each round counts adjacent symbol pairs (weighted by word
 *    frequency, overlapping occurrences included — zip(s, s[1:])
 *    semantics) and greedily merges the argmax pair; ties break to the
 *    lexicographically smallest (lhs, rhs) in UTF-8 byte order, which
 *    is both Spark's and DuckDB's string collation, so the trained
 *    table is engine-reproducible bit-for-bit.
 *  - '''Application is per-distinct-word, never per token instance''':
 *    [[tokenize]] segments the DISTINCT-words relation through the
 *    codegen `bpe_apply` kernel and joins the per-word subword count
 *    back to the token stream — the zipfian corpus pays the merge loop
 *    once per word TYPE. The join key is the word itself; at scale the
 *    segmented dictionary is tiny relative to the corpus and AQE
 *    broadcasts it.
 *
 * Train ≡ apply by construction: both sides share
 * [[TextHashKernels.splitCodepoints]] / [[TextHashKernels.mergeOnce]],
 * so a merge list learned here reproduces exactly under the
 * `bpe_apply` expression (and under the oracle's fold semantics — see
 * the generated SQL in `TokenizerRows`, which re-runs the whole training
 * loop as unrolled CTEs and the application as a recursive CTE).
 *
 * Deviation from Sennrich et al.: no explicit end-of-word marker
 * symbol — words are whitespace-delimited upstream and the driver rows
 * need no cross-word symbol distinction.
 */
object Bpe {

  /** Merge rounds — fixed so the generated SQL oracle unrolls to the
    * same depth. */
  val MergeRounds = 16

  /** Training-vocabulary cap: top words by (count desc, word asc). */
  val TopWords = 512

  /** Rows kept by the [[vocab]] summary. */
  val VocabLimit = 40

  /** One trained merge: at `rank`, replace adjacent (`lhs`,`rhs`) with
    * their concatenation; `freq` is the weighted pair count that won
    * the round. */
  case class Merge(rank: Int, lhs: String, rhs: String, freq: Long) {
    def merged: String = lhs + rhs
    def pair: String = lhs + " " + rhs
  }

  /** Corpus word counts: split on single space (SQL `split` semantics,
    * empties dropped), one hash aggregate. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** UTF-8 byte-order comparison — Spark's UTF8String and DuckDB's
    * default collation, NOT java.lang.String's UTF-16 order (they
    * differ above the BMP). */
  private def utf8Lt(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8)) < 0

  /**
   * Train `numMerges` BPE merges on the top-`topWords` word relation.
   * Driver-side loop over ≤ `topWords` collected rows (bounded state);
   * the distributed part is the one word-count aggregate. Returns fewer
   * than `numMerges` entries only if the vocabulary exhausts (every
   * word fused to a single symbol) — degenerate for any real corpus.
   */
  def train(
      docs: DataFrame, textCol: String,
      numMerges: Int = MergeRounds, topWords: Int = TopWords): Seq[Merge] = {
    val top = wordCounts(docs, textCol)
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(topWords)
      .collect()
    var words: Array[(Array[String], Long)] =
      top.map(r => (TextHashKernels.splitCodepoints(r.getString(0)), r.getLong(1)))
    val out = Seq.newBuilder[Merge]
    var k = 0
    var exhausted = false
    while (k < numMerges && !exhausted) {
      val pc = mutable.HashMap.empty[(String, String), Long]
      var w = 0
      while (w < words.length) {
        val (syms, c) = words(w)
        var j = 0
        while (j < syms.length - 1) {
          val key = (syms(j), syms(j + 1))
          pc.update(key, pc.getOrElse(key, 0L) + c)
          j += 1
        }
        w += 1
      }
      if (pc.isEmpty) exhausted = true
      else {
        var bl: String = null; var br: String = null; var bc = 0L
        pc.foreach { case ((l, r), c) =>
          val wins =
            bl == null || c > bc ||
              (c == bc && (utf8Lt(l, bl) || (l == bl && utf8Lt(r, br))))
          if (wins) { bl = l; br = r; bc = c }
        }
        out += Merge(k + 1, bl, br, bc)
        words = words.map { case (syms, c) =>
          (TextHashKernels.mergeOnce(syms, bl, br), c)
        }
        k += 1
      }
    }
    out.result()
  }

  /** The trained merge table as a DataFrame (the model-card driver row). */
  def fitTable(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.map(m => (m.rank, m.lhs, m.rhs, m.merged, m.freq))
      .toDF("rank", "lhs", "rhs", "merged", "freq")
  }

  /** Rank-ordered "lhs rhs" strings — the wire format `bpe_apply` takes. */
  def mergeStrings(merges: Seq[Merge]): Seq[String] = merges.map(_.pair)

  /**
   * Subword vocabulary after applying `merges` to the (capped) training
   * word relation, weighted by word counts — the "what tokens did we
   * learn" summary. Top-`limit` by (freq desc, token asc).
   */
  def vocab(
      docs: DataFrame, textCol: String, merges: Seq[Merge],
      topWords: Int = TopWords, limit: Int = VocabLimit): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val lits = array(mergeStrings(merges).map(lit): _*)
    wordCounts(docs, textCol)
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(topWords)
      .select(
        explode(split(GraftFunctions.bpeApply(col("word"), lits), " ")).as("token"),
        col("cnt"))
      .groupBy("token").agg(sum(col("cnt")).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(limit)
  }

  /**
   * Per-document subword statistics under a trained merge list. The
   * merge loop runs once per DISTINCT word (codegen `bpe_apply` over
   * the dictionary), then the per-word subword count joins back to the
   * token stream and aggregates per document — `fertility` is the
   * subwords-per-word ratio tokenizer papers report.
   */
  def tokenize(
      docs: DataFrame, idCol: String, textCol: String, merges: Seq[Merge],
      scale: Int = 6): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val lits = array(mergeStrings(merges).map(lit): _*)
    val toks = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .where(col("word") =!= "")
    val seg = toks.select("word").distinct()
      .select(
        col("word"),
        size(split(GraftFunctions.bpeApply(col("word"), lits), " "))
          .cast("long").as("nsub"))
    toks.join(seg, "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("nsub")).as("n_subwords"))
      .select(col(idCol), col("n_words"), col("n_subwords"),
        round(col("n_subwords").cast("double") / col("n_words"), scale)
          .as("fertility"))
  }
}
