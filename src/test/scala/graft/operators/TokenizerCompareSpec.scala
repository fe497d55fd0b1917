package graft.operators

import graft.SparkFunSuite

/** Tokenizer comparison card: three rows on one grid, shared corpus
  * totals, and the per-family fallback conventions. */
class TokenizerCompareSpec extends SparkFunSuite {
  import spark.implicits._

  test("card: shared totals, per-family fallbacks, fertility grid") {
    // 'overlongwordpastcap' is 19 chars — past unigram's maxWordLen
    // (16), so unigram counts it as 1 fallback token; BPE and
    // WordPiece segment it (all its chars are in the training
    // alphabet, so WordPiece never UNKs on the training corpus).
    val docs = Seq(
      (1L, "aa aa b aa"),
      (2L, "overlongwordpastcap b")).toDF("doc_id", "text")
    val card = TokenizerCompare.card(
      docs, "text",
      Bpe.train(docs, "text"),
      WordPiece.train(docs, "text"),
      UnigramLm.fitVocab(docs, "text"))
      .orderBy("tokenizer").collect()
    assert(card.map(_.getString(0)).toSeq === Seq("bpe", "unigram", "wordpiece"))
    // corpus totals are tokenizer-independent: 6 words, their bytes
    assert(card.map(_.getLong(1)).toSeq === Seq(6L, 6L, 6L))
    val bytes = "aaaabaa".length + "overlongwordpastcap".length + 1
    assert(card.map(_.getLong(3)).toSeq === Seq(bytes, bytes, bytes).map(_.toLong))
    val byName = card.map(r => r.getString(0) -> r).toMap
    assert(byName("bpe").getLong(4) === 0L)       // open vocabulary
    assert(byName("unigram").getLong(4) === 1L)   // the 19-char word
    assert(byName("wordpiece").getLong(4) === 0L) // trained on itself
    // every scheme emits at least one token per word, and fertility
    // sits on the rounded-double grid n_tokens / n_words
    card.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1))
      assert(r.getDouble(5) ===
        BigDecimal(r.getLong(2).toDouble / r.getLong(1))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(r.getDouble(6) ===
        BigDecimal(r.getLong(3).toDouble / r.getLong(2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // the fused double-a word keeps trained-tokenizer fertility low:
    // 'aa' is one piece under all three schemes after training
    assert(byName("bpe").getLong(2) <= 6L + 19L) // never worse than chars
  }

  test("card: an empty corpus gives 0 counts and NULL ratios, no throw") {
    val train = Seq((1L, "aa aa b aa"), (2L, "ab b")).toDF("doc_id", "text")
    val empty = train.limit(0)
    val card = TokenizerCompare.card(
      empty, "text",
      Bpe.train(train, "text"),
      WordPiece.train(train, "text"),
      UnigramLm.fitVocab(train, "text"))
      .orderBy("tokenizer").collect()
    assert(card.map(_.getString(0)).toSeq === Seq("bpe", "unigram", "wordpiece"))
    card.foreach { r =>
      // n_words, n_tokens, n_text_bytes, n_fallback
      (1 to 4).foreach(i => assert(!r.isNullAt(i) && r.getLong(i) === 0L, s"$r col $i"))
      assert(r.isNullAt(5) && r.isNullAt(6), s"ratios not NULL: $r")
    }
  }
}
