package graft.operators

import graft.SparkFunSuite
import graft.functions.TextHashKernels
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class LanguageModelSpec extends SparkFunSuite {
  import spark.implicits._

  /** Reference windows: last min(i,3) split-on-' ' fields joined by ' '. */
  private def refWindows(text: String): Seq[String] = {
    val toks = text.split(" ", -1).toSeq
    toks.indices.map(i => toks.slice(math.max(0, i - 2), i + 1).mkString(" "))
  }

  test("gram_windows kernel matches split/slice/join reference (incl. empties, unicode)") {
    val cases = Seq(
      "a b c d e", "x", "", "a  b", " lead", "trail ", "  ", "ä ß 中 文 ok",
      "one two", "a b", "p q r")
    for (t <- cases) {
      val got = TextHashKernels.gramWindows(UTF8String.fromString(t))
      val arr = (0 until got.numElements()).map(got.getUTF8String(_).toString)
      assert(arr === refWindows(t), s"text='$t'")
    }
  }

  test("gram_windows kernel fuzz-matches reference over random token streams") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 300) {
      val n = rnd.nextInt(12)
      val t = Seq.fill(n)(
        if (rnd.nextInt(8) == 0) "" else ('a' + rnd.nextInt(4)).toChar.toString)
        .mkString(" ")
      val got = TextHashKernels.gramWindows(UTF8String.fromString(t))
      val arr = (0 until got.numElements()).map(got.getUTF8String(_).toString)
      assert(arr === refWindows(t), s"text='$t'")
    }
  }

  private val corpus = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")

  test("modelStats: hand-derived count tables with trigram pruning") {
    val rows = LanguageModel.modelStats(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // uni: a:3 b:3 c:1 (N=7); bi: "a b":3 "b a":1 "b c":1; tri all count-1 → pruned
    assert(rows === Array((1L, 3L, 7L), (2L, 3L, 5L), (3L, 0L, 0L)))
  }

  test("kneserNey: hand-derived interpolated probabilities that normalize per context") {
    // bi: (a,b):3 (b,a):1 (b,c):1; ctx a→(3,1) b→(2,2); cont a,b,c→1; tot 3
    // P(b|a) = 2.25/3 + (0.75·1/3)·(1/3) = 0.833333
    // P(a|b) = 0.25/2 + (0.75·2/2)·(1/3) = 0.375 = P(c|b)
    // and P(a|b)+P(b|b)+P(c|b) = 0.375 + 0.75/3 + 0.375 = 1 exactly
    val rows = LanguageModel.kneserNey(corpus, "doc_id", "text")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7)))
    assert(rows === Array(
      ("a", "b", 3L, 3L, 1L, 1L, 3L, 0.833333),
      ("b", "a", 1L, 2L, 2L, 1L, 3L, 0.375),
      ("b", "c", 1L, 2L, 2L, 1L, 3L, 0.375)))
  }

  test("docPerplexity: hand-computed stupid-backoff scores") {
    val got = LanguageModel.selfPerplexity(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // doc 2 = "a b c": pos1 uni a→3/7; pos2 bi "a b"→3/uni(a)=3 → 1.0;
    // pos3 tri pruned → 0.4 · bi("b c")=1 / uni(b)=3.
    val lp2 = math.log(3.0 / 7) + math.log(1.0) + math.log(0.4 * 1 / 3.0)
    val exp2 = (2L, 3L,
      BigDecimal(lp2).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(math.exp(-lp2 / 3)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // doc 1 = "a b a b": pos1 a→3/7; pos2 "a b"→3/3; pos3 "a b a" pruned →
    // 0.4·bi("b a")=1/uni(b)=3; pos4 "b a b" pruned → 0.4·bi("a b")=3/uni(a)=3.
    val lp1 = math.log(3.0 / 7) + math.log(1.0) +
      math.log(0.4 * 1 / 3.0) + math.log(0.4 * 3 / 3.0)
    val exp1 = (1L, 4L,
      BigDecimal(lp1).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(math.exp(-lp1 / 4)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got(0) === exp1)
    assert(got(1) === exp2)
  }

  test("scoring is total on out-of-vocabulary text (1/N floor, finite scores)") {
    val unseen = Seq((9L, "zz qq ww")).toDF("doc_id", "text")
    val got = LanguageModel.docPerplexity(
      unseen, "doc_id", "text", corpus, "doc_id", "text").collect()
    assert(got.length === 1)
    val lp = got(0).getDouble(2)
    // every position hits the floor: 1/7, 0.4/7, 0.16/7
    val exp = math.log(1.0 / 7) + math.log(0.4 / 7) + math.log(0.4 * 0.4 / 7)
    assert(math.abs(lp - exp) < 1e-3)
    assert(got(0).getDouble(3) > 0 && !got(0).getDouble(3).isInfinite)
  }

  test("an empty model corpus scores NULL and does not throw (n_total NULL, not 0)") {
    // the corpus mass N is a divisor: a NULL N keeps every score NULL,
    // where a 0 would throw under ANSI division
    val probe = Seq((1L, "a b c"), (2L, "zz")).toDF("doc_id", "text")
    val empty = corpus.limit(0)
    val ppl = LanguageModel.docPerplexity(probe, "doc_id", "text", empty, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(ppl.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq(1L -> 3L, 2L -> 1L))
    assert(ppl.forall(r => r.isNullAt(2) && r.isNullAt(3)), ppl.toSeq)
    val mink = LanguageModel.minKProb(probe, "doc_id", "text", empty, "doc_id", "text")
      .collect()
    assert(mink.length === 2 && mink.forall(_.isNullAt(3)), mink.toSeq)
  }

  test("fluent (in-distribution) text scores lower perplexity than shuffled junk") {
    val docs = (0L until 40L).map(i => (i, "the cat sat on the mat")) :+
      (99L, "mat the on sat zz cat")
    val df = docs.toDF("doc_id", "text")
    val ppl = LanguageModel.selfPerplexity(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ppl(0L) < ppl(99L))
  }

  test("results are partitioning-invariant (repartition(7) ≡ repartition(2))") {
    val base = Seq.tabulate(30)(i => (i.toLong, s"w${i % 5} w${(i + 1) % 5} w${(i + 2) % 7} tail"))
      .toDF("doc_id", "text")
    val a = LanguageModel.selfPerplexity(base.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val b = LanguageModel.selfPerplexity(base.repartition(2), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("minKProb: memorized-looking docs score higher; selection exact") {
    import spark.implicits._
    // "common" docs repeat the same phrase (every window frequent —
    // high min-k mean); the "rare" doc ends in hapax tokens (its
    // bottom-20% windows are improbable — low min-k mean)
    val docs = ((1L to 9L).map(i => (i, "the cat sat on the mat again and again")) :+
      (10L, "the cat sat on qzx wvu jkl pqr mno")).toDF("doc_id", "text")
    val rows = LanguageModel.minKProb(docs, "doc_id", "text",
      docs, "doc_id", "text", kPct = 20)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // 9 tokens → k = max(1, 9*20 div 100) = 1 selected token
    assert(rows(1L)._1 === 9L)
    assert(rows(1L)._2 === 1L)
    assert(rows(10L)._3 < rows(1L)._3,
      s"rare-tail doc must score lower: ${rows(10L)} vs ${rows(1L)}")
  }

  test("minKProb: deterministic across partitionings") {
    import spark.implicits._
    val docs = (1L to 120L)
      .map(i => (i, s"tok${i % 7} a b tok${i % 5} c d e f g"))
      .toDF("doc_id", "text")
    val a = LanguageModel.minKProb(docs.repartition(1), "doc_id", "text",
      docs, "doc_id", "text").orderBy("doc_id").collect().toSeq
    val b = LanguageModel.minKProb(docs.repartition(13), "doc_id", "text",
      docs, "doc_id", "text").orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("goodTuring: hand-computed FoF and re-estimates") {
    import spark.implicits._
    // counts: a,b,c seen once (N1=3); d seen twice (N2=1); e thrice (N3=1)
    val docs = Seq("a b c d d e e e").toDF("text")
    val rows = LanguageModel.goodTuring(docs, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(rows(1L)._1 === 3L)
    assert(rows(2L)._1 === 1L)
    assert(rows(3L)._1 === 1L)
    // r* for r=1: 2 * N2/N1 = 2/3 → 666666 micro
    assert(rows(1L)._2 === 666666L)
    // r* for r=2: 3 * N3/N2 = 3 → 3e6 micro
    assert(rows(2L)._2 === 3000000L)
    // r=3 has no N4 → NULL
    assert(rows(3L)._2 === -1L)
  }
}
