package graft
package queries

import graft.api._
import graft.functions.GraftFunctions
import graft.operators._
import graft.queries.Fixtures._
import graft.queries.Shared._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Evaluation metrics, significance tests and the classifier rows. */
private[queries] object EvalRows {

  /** eval_bleu4's oracle: tagged per-n unit counts on both sides, the
    * clipped-overlap join, scalar-subquery pivot, and the identical
    * fixed-order bleu expression over the exact integers. */
  private def bleuOracle(maxN: Int): String = {
    def units(side: String): String = (1 to maxN).map { n =>
      val parts = (0 until n)
        .map(o => s"toks[CAST(i + $o AS INT)]").mkString(" || ' ' || ")
      s"""SELECT doc_id, $n AS n,
         |  unnest(CASE WHEN len(toks) >= $n THEN
         |    list_transform(generate_series(1, len(toks) - ${n - 1}),
         |      i -> $parts) ELSE [] END) AS u
         |FROM (SELECT doc_id, string_split($side, ' ') AS toks
         |      FROM pairs)""".stripMargin
    }.mkString("\nUNION ALL\n")
    val lnSum = (1 to maxN).map(n =>
      s"ln((SELECT o FROM perN WHERE n = $n) * 1.0 / " +
        s"(SELECT t FROM perN WHERE n = $n))").mkString(" + ")
    val anyZero = (1 to maxN)
      .map(n => s"(SELECT o FROM perN WHERE n = $n) = 0")
      .mkString(" OR ")
    val pCols = (1 to maxN).map(n =>
      s"CAST((1000000 * (SELECT o FROM perN WHERE n = $n)) // " +
        s"(SELECT t FROM perN WHERE n = $n) AS BIGINT) AS p${n}_micro")
      .mkString(",\n       ")
    s"""WITH pairs AS (
       |  SELECT doc_id, replace(text, 'table', 'chair') AS pred,
       |         text AS gold
       |  FROM documents WHERE text IS NOT NULL),
       |pu AS (${units("pred")}),
       |gu AS (${units("gold")}),
       |pc AS (SELECT doc_id, n, u, count(*) AS cp FROM pu GROUP BY 1, 2, 3),
       |gc AS (SELECT doc_id, n, u, count(*) AS cg FROM gu GROUP BY 1, 2, 3),
       |perN AS (
       |  SELECT pc.n, sum(least(cp, COALESCE(cg, 0))) AS o,
       |         sum(cp) AS t
       |  FROM pc LEFT JOIN gc
       |    ON pc.doc_id = gc.doc_id AND pc.n = gc.n AND pc.u = gc.u
       |  GROUP BY pc.n),
       |rr AS (SELECT sum(cg) AS r FROM gc WHERE n = 1)
       |SELECT CAST((SELECT t FROM perN WHERE n = 1) AS BIGINT) AS c,
       |       CAST(rr.r AS BIGINT) AS r,
       |       $pCols,
       |       round(CASE WHEN $anyZero THEN 0.0 ELSE
       |         exp(least(0.0, 1.0 - rr.r * 1.0 /
       |               (SELECT t FROM perN WHERE n = 1)) +
       |             ($lnSum) / $maxN) END, 6) AS bleu
       |FROM rr""".stripMargin
  }

  /** eval_chrf's oracle: whitespace-stripped char n-gram counts per
    * side, full-outer clipped overlap per order, the same integral
    * F-beta and mean. */
  private def chrfOracle(maxN: Int, beta: Int): String = {
    def units(side: String): String = (1 to maxN).map { n =>
      s"""SELECT doc_id, $n AS n,
         |  unnest(CASE WHEN len(s) >= $n THEN
         |    list_transform(generate_series(1, len(s) - ${n - 1}),
         |      i -> substr(s, CAST(i AS INT), $n)) ELSE [] END) AS u
         |FROM (SELECT doc_id, replace($side, ' ', '') AS s FROM pairs)""".stripMargin
    }.mkString("\nUNION ALL\n")
    val b2 = beta * beta
    val fCols = (1 to maxN).map(n =>
      s"CAST((SELECT f FROM perN WHERE n = $n) AS BIGINT) AS f${n}_micro")
      .mkString(",\n       ")
    val fSum = (1 to maxN)
      .map(n => s"(SELECT f FROM perN WHERE n = $n)").mkString(" + ")
    s"""WITH pairs AS (
       |  SELECT doc_id, replace(text, 'table', 'chair') AS pred,
       |         text AS gold
       |  FROM documents WHERE text IS NOT NULL),
       |pu AS (${units("pred")}),
       |gu AS (${units("gold")}),
       |pc AS (SELECT doc_id, n, u, count(*) AS cp FROM pu GROUP BY 1, 2, 3),
       |gc AS (SELECT doc_id, n, u, count(*) AS cg FROM gu GROUP BY 1, 2, 3),
       |agg AS (
       |  SELECT COALESCE(pc.n, gc.n) AS n,
       |         sum(least(COALESCE(cp, 0), COALESCE(cg, 0))) AS o,
       |         sum(COALESCE(cp, 0)) AS tp,
       |         sum(COALESCE(cg, 0)) AS tg
       |  FROM pc FULL OUTER JOIN gc
       |    ON pc.doc_id = gc.doc_id AND pc.n = gc.n AND pc.u = gc.u
       |  GROUP BY 1),
       |pr AS (
       |  SELECT n, (1000000 * o) // tp AS p, (1000000 * o) // tg AS r
       |  FROM agg),
       |perN AS (
       |  SELECT n, CASE WHEN $b2 * p + r > 0
       |    THEN (${1 + b2} * p * r) // ($b2 * p + r) ELSE 0 END AS f
       |  FROM pr)
       |SELECT $fCols,
       |       CAST(($fSum) // $maxN AS BIGINT) AS chrf_micro""".stripMargin
  }

  /** eval_chrfpp's oracle: chrfOracle's char n-gram orders UNION'd
    * with word n-gram orders (tagged 100+n so the two families share
    * one per-order aggregate), the same integral F-beta per order,
    * and the equal-weight mean over charMaxN + wordMaxN orders. */
  private def chrfPpOracle(charMaxN: Int, wordMaxN: Int, beta: Int): String = {
    def charUnits(side: String): String = (1 to charMaxN).map { n =>
      s"""SELECT doc_id, $n AS n,
         |  unnest(CASE WHEN len(s) >= $n THEN
         |    list_transform(generate_series(1, len(s) - ${n - 1}),
         |      i -> substr(s, CAST(i AS INT), $n)) ELSE [] END) AS u
         |FROM (SELECT doc_id, replace($side, ' ', '') AS s FROM pairs)""".stripMargin
    }.mkString("\nUNION ALL\n")
    def wordUnits(side: String): String = (1 to wordMaxN).map { n =>
      val parts = (0 until n)
        .map(o => s"toks[CAST(i + $o AS INT)]").mkString(" || ' ' || ")
      s"""SELECT doc_id, ${100 + n} AS n,
         |  unnest(CASE WHEN len(toks) >= $n THEN
         |    list_transform(generate_series(1, len(toks) - ${n - 1}),
         |      i -> $parts) ELSE [] END) AS u
         |FROM (SELECT doc_id, string_split($side, ' ') AS toks
         |      FROM pairs)""".stripMargin
    }.mkString("\nUNION ALL\n")
    val b2 = beta * beta
    val tags = (1 to charMaxN).map(n => (s"fc${n}_micro", n)) ++
      (1 to wordMaxN).map(n => (s"fw${n}_micro", 100 + n))
    // COALESCE: an order with no grams at all has no agg row — it
    // contributes f = 0 to the fixed-denominator mean, matching the
    // Spark side's total (ANSI-safe) convention
    val fCols = tags.map { case (name, tag) =>
      s"CAST(COALESCE((SELECT f FROM perN WHERE n = $tag), 0) AS BIGINT) AS $name"
    }.mkString(",\n       ")
    val fSum = tags.map { case (_, tag) =>
      s"COALESCE((SELECT f FROM perN WHERE n = $tag), 0)"
    }.mkString(" + ")
    s"""WITH pairs AS (
       |  SELECT doc_id, replace(text, 'table', 'chair') AS pred,
       |         text AS gold
       |  FROM documents WHERE text IS NOT NULL),
       |pu AS (${charUnits("pred")}
       |UNION ALL
       |${wordUnits("pred")}),
       |gu AS (${charUnits("gold")}
       |UNION ALL
       |${wordUnits("gold")}),
       |pc AS (SELECT doc_id, n, u, count(*) AS cp FROM pu GROUP BY 1, 2, 3),
       |gc AS (SELECT doc_id, n, u, count(*) AS cg FROM gu GROUP BY 1, 2, 3),
       |agg AS (
       |  SELECT COALESCE(pc.n, gc.n) AS n,
       |         sum(least(COALESCE(cp, 0), COALESCE(cg, 0))) AS o,
       |         sum(COALESCE(cp, 0)) AS tp,
       |         sum(COALESCE(cg, 0)) AS tg
       |  FROM pc FULL OUTER JOIN gc
       |    ON pc.doc_id = gc.doc_id AND pc.n = gc.n AND pc.u = gc.u
       |  GROUP BY 1),
       |pr AS (
       |  SELECT n,
       |         CASE WHEN tp > 0 THEN (1000000 * o) // tp ELSE 0 END AS p,
       |         CASE WHEN tg > 0 THEN (1000000 * o) // tg ELSE 0 END AS r
       |  FROM agg),
       |perN AS (
       |  SELECT n, CASE WHEN $b2 * p + r > 0
       |    THEN (${1 + b2} * p * r) // ($b2 * p + r) ELSE 0 END AS f
       |  FROM pr)
       |SELECT $fCols,
       |       CAST(($fSum) // ${charMaxN + wordMaxN} AS BIGINT) AS chrfpp_micro""".stripMargin
  }

  /** eval_sentence_bleu's oracle: bleuOracle's tagged per-n unit
    * counts and clipped-overlap join, but grouped PER PAIR, with the
    * (doc × order) grid filling absent orders with (o, t) = (0, 0),
    * add-one-smoothed micros for n ≥ 2, and the identical fixed-order
    * 6-dp bleu expression per row. */
  private def sentenceBleuOracle(maxN: Int): String =
    sentenceBleuOracleOver(
      """pairs AS (
        |  SELECT doc_id, replace(text, 'table', 'chair') AS pred,
        |         text AS gold
        |  FROM documents WHERE text IS NOT NULL)""".stripMargin, maxN)

  /** The sentence-BLEU replay over ANY `pairs AS (...doc_id, pred,
    * gold...)` CTE text — shared by the per-pair eval row and the
    * sampled self-BLEU diversity row. */
  private def sentenceBleuOracleOver(pairsCte: String, maxN: Int): String = {
    def units(side: String): String = (1 to maxN).map { n =>
      val parts = (0 until n)
        .map(o => s"toks[CAST(i + $o AS INT)]").mkString(" || ' ' || ")
      s"""SELECT doc_id, $n AS n,
         |  unnest(CASE WHEN len(toks) >= $n THEN
         |    list_transform(generate_series(1, len(toks) - ${n - 1}),
         |      i -> $parts) ELSE [] END) AS u
         |FROM (SELECT doc_id, string_split($side, ' ') AS toks
         |      FROM pairs)""".stripMargin
    }.mkString("\nUNION ALL\n")
    val pivCols = (1 to maxN).map(n =>
      s"max(CASE WHEN n = $n THEN o END) AS o$n, " +
        s"max(CASE WHEN n = $n THEN t END) AS t$n").mkString(",\n  ")
    val pCols = ((
      "CAST(CASE WHEN t1 > 0 THEN (1000000 * o1) // t1 ELSE 0 END " +
        "AS BIGINT) AS p1_micro") +:
      (2 to maxN).map(n =>
        s"CAST((1000000 * (o$n + 1)) // (t$n + 1) AS BIGINT) AS p${n}_micro"))
      .mkString(",\n       ")
    val lnSum = s"ln(o1 * 1.0 / t1)" +
      (2 to maxN).map(n => s" + ln((o$n + 1.0) / (t$n + 1.0))").mkString
    s"""WITH $pairsCte,
       |pu AS (${units("pred")}),
       |gu AS (${units("gold")}),
       |pc AS (SELECT doc_id, n, u, count(*) AS cp FROM pu GROUP BY 1, 2, 3),
       |gc AS (SELECT doc_id, n, u, count(*) AS cg FROM gu GROUP BY 1, 2, 3),
       |perN AS (
       |  SELECT pc.doc_id, pc.n, sum(least(cp, COALESCE(cg, 0))) AS o,
       |         sum(cp) AS t
       |  FROM pc LEFT JOIN gc
       |    ON pc.doc_id = gc.doc_id AND pc.n = gc.n AND pc.u = gc.u
       |  GROUP BY pc.doc_id, pc.n),
       |grid AS (SELECT doc_id, unnest(generate_series(1, $maxN)) AS n
       |         FROM pairs),
       |filled AS (
       |  SELECT g.doc_id, g.n, COALESCE(p.o, 0) AS o, COALESCE(p.t, 0) AS t
       |  FROM grid g LEFT JOIN perN p ON g.doc_id = p.doc_id AND g.n = p.n),
       |piv AS (SELECT doc_id,
       |  $pivCols
       |  FROM filled GROUP BY doc_id),
       |sides AS (SELECT doc_id,
       |  CAST(len(string_split(gold, ' ')) AS BIGINT) AS r FROM pairs)
       |SELECT piv.doc_id, CAST(t1 AS BIGINT) AS c, sides.r AS r,
       |       $pCols,
       |       round(CASE WHEN o1 = 0 THEN 0.0 ELSE
       |         exp(least(0.0, 1.0 - sides.r * 1.0 / t1) +
       |             ($lnSum) / $maxN) END, 6) AS bleu
       |FROM piv JOIN sides ON piv.doc_id = sides.doc_id""".stripMargin
  }

  /** eval_cer's oracle: DuckDB's levenshtein IS byte-level (verified:
    * levenshtein('héllo','hello') = 2), which is exactly the kernel's
    * UnitByte mode — the error rate replays on the same micro grid. */
  private lazy val cerOracle: String =
    """WITH pairs AS (
      |  SELECT doc_id, replace(text, 'table', 'chair') AS pred,
      |         text AS gold
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT doc_id,
      |       CAST(levenshtein(pred, gold) AS BIGINT) AS edit_dist,
      |       CAST(strlen(gold) AS BIGINT) AS n_gold,
      |       CAST(CASE WHEN strlen(gold) > 0
      |         THEN (1000000 * levenshtein(pred, gold)) // strlen(gold)
      |         WHEN levenshtein(pred, gold) = 0 THEN 0
      |         ELSE 1000000 END AS BIGINT) AS err_micro
      |FROM pairs""".stripMargin

  /** eval_wer's oracle: token-level Levenshtein via a bijection trick
    * — each pair's distinct tokens map to single printable bytes
    * (row_number 1..94 → chr(33..126)), the token sequences become
    * byte strings, and DuckDB's byte-level levenshtein computes the
    * token edit distance exactly (a bijection preserves unit
    * equality). Pairs with > 94 distinct tokens are filtered on both
    * sides — a fixture bound, not an operator limit. */
  private lazy val werOracle: String =
    """WITH pairs AS (
      |  SELECT doc_id, replace(text, 'table', 'chair') AS pred,
      |         text AS gold
      |  FROM documents WHERE text IS NOT NULL),
      |pp AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS pos
      |       FROM (SELECT doc_id, string_split(pred, ' ') AS t FROM pairs)),
      |gp AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS pos
      |       FROM (SELECT doc_id, string_split(gold, ' ') AS t FROM pairs)),
      |pu AS (SELECT doc_id, pos, t[CAST(pos AS INT)] AS u FROM pp),
      |gu AS (SELECT doc_id, pos, t[CAST(pos AS INT)] AS u FROM gp),
      |vocab AS (
      |  SELECT doc_id, u,
      |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY u) AS INT) AS r
      |  FROM (SELECT DISTINCT doc_id, u FROM
      |          (SELECT doc_id, u FROM pu UNION ALL SELECT doc_id, u FROM gu))),
      |ok AS (SELECT doc_id FROM vocab GROUP BY doc_id HAVING max(r) <= 94),
      |pm AS (SELECT pu.doc_id,
      |              string_agg(chr(32 + v.r), '' ORDER BY pu.pos) AS s
      |       FROM pu
      |       JOIN vocab v ON pu.doc_id = v.doc_id AND pu.u = v.u
      |       JOIN ok ON pu.doc_id = ok.doc_id
      |       GROUP BY pu.doc_id),
      |gm AS (SELECT gu.doc_id,
      |              string_agg(chr(32 + v.r), '' ORDER BY gu.pos) AS s
      |       FROM gu
      |       JOIN vocab v ON gu.doc_id = v.doc_id AND gu.u = v.u
      |       JOIN ok ON gu.doc_id = ok.doc_id
      |       GROUP BY gu.doc_id)
      |SELECT p.doc_id,
      |       CAST(levenshtein(pm.s, gm.s) AS BIGINT) AS edit_dist,
      |       CAST(len(string_split(p.gold, ' ')) AS BIGINT) AS n_gold,
      |       CAST((1000000 * levenshtein(pm.s, gm.s)) //
      |            len(string_split(p.gold, ' ')) AS BIGINT) AS err_micro
      |FROM pairs p
      |JOIN pm ON p.doc_id = pm.doc_id
      |JOIN gm ON p.doc_id = gm.doc_id""".stripMargin

  /** The two generation-eval oracles (token-F1, ROUGE-n): per-side
    * multiset unit counts, least() overlap, integral micro scores —
    * [[graft.operators.GenEval.overlapF1]]'s arithmetic with the same
    * replace-perturbed fixture. */
  private def genEvalOracle(n: Int): String = {
    val unit =
      if (n == 1) "unnest(string_split(t, ' '))"
      else {
        val parts = (0 until n)
          .map(o => s"toks[CAST(i + $o AS INT)]").mkString(" || ' ' || ")
        s"unnest(CASE WHEN len(string_split(t, ' ')) >= $n THEN " +
          s"list_transform(generate_series(1, " +
          s"len(string_split(t, ' ')) - ${n - 1}), i -> $parts) " +
          "ELSE [] END)"
      }
    val tokAlias =
      if (n == 1) "" else ", string_split(t, ' ') AS toks"
    s"""WITH pairs AS (
       |  SELECT doc_id, replace(text, 'table', 'chair') AS pred,
       |         text AS gold
       |  FROM documents WHERE text IS NOT NULL),
       |pu AS (SELECT doc_id, $unit AS u FROM
       |  (SELECT doc_id, pred AS t$tokAlias FROM pairs)),
       |gu AS (SELECT doc_id, $unit AS u FROM
       |  (SELECT doc_id, gold AS t$tokAlias FROM pairs)),
       |pc AS (SELECT doc_id, u, count(*) AS cp FROM pu GROUP BY 1, 2),
       |gc AS (SELECT doc_id, u, count(*) AS cg FROM gu GROUP BY 1, 2),
       |ov AS (SELECT doc_id, sum(least(cp, cg)) AS overlap
       |       FROM pc JOIN gc USING (doc_id, u) GROUP BY 1),
       |tp AS (SELECT doc_id, sum(cp) AS n_pred FROM pc GROUP BY 1),
       |tg AS (SELECT doc_id, sum(cg) AS n_gold FROM gc GROUP BY 1),
       |m AS (
       |  SELECT p.doc_id,
       |         COALESCE(tp.n_pred, 0) AS n_pred,
       |         COALESCE(tg.n_gold, 0) AS n_gold,
       |         COALESCE(ov.overlap, 0) AS overlap
       |  FROM pairs p
       |  LEFT JOIN tp ON p.doc_id = tp.doc_id
       |  LEFT JOIN tg ON p.doc_id = tg.doc_id
       |  LEFT JOIN ov ON p.doc_id = ov.doc_id)
       |SELECT doc_id, CAST(n_pred AS BIGINT) AS n_pred,
       |       CAST(n_gold AS BIGINT) AS n_gold,
       |       CAST(overlap AS BIGINT) AS overlap,
       |       CAST(CASE WHEN n_pred > 0
       |            THEN (1000000 * overlap) // n_pred ELSE 0 END
       |            AS BIGINT) AS p_micro,
       |       CAST(CASE WHEN n_gold > 0
       |            THEN (1000000 * overlap) // n_gold ELSE 0 END
       |            AS BIGINT) AS r_micro,
       |       CAST(CASE WHEN n_pred + n_gold > 0
       |            THEN (2000000 * overlap) // (n_pred + n_gold)
       |            ELSE 0 END AS BIGINT) AS f1_micro
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Generated CTE chain re-running Evaluation.bradleyTerry's three
    * MM rounds in SQL: the ordered-pair count relation, symmetrized
    * games, then one (d, r, p) CTE triple per round — the same
    * greatest(p_i+p_j, 1) guard, exact HUGEINT products mirroring the
    * Spark side's DECIMAL(38,0) `div`, and per-round floor
    * renormalization to mean 1e6. Item ranking by strength desc then
    * item. */
  private val BradleyTerryOracle: String = {
    val sb = new StringBuilder
    sb ++=
      """WITH raw AS (
        |  SELECT doc_id % 8 AS a, (doc_id // 8) % 8 AS b, doc_id, n_chars
        |  FROM documents),
        |games AS (
        |  SELECT CASE WHEN (doc_id + n_chars) % (a + b + 2) <= a
        |              THEN a ELSE b END AS w,
        |         CASE WHEN (doc_id + n_chars) % (a + b + 2) <= a
        |              THEN b ELSE a END AS l
        |  FROM raw WHERE a <> b),
        |dir AS (SELECT w AS i, l AS j, COUNT(*) AS wc FROM games GROUP BY 1, 2),
        |nsym AS (SELECT i, j, CAST(SUM(wc) AS BIGINT) AS n_ij FROM
        |           (SELECT i, j, wc FROM dir
        |            UNION ALL SELECT j AS i, i AS j, wc FROM dir)
        |         GROUP BY 1, 2),
        |wins AS (SELECT n.i, CAST(COALESCE(MAX(d.wtot), 0) AS BIGINT) AS wins,
        |           CAST(SUM(n.n_ij) AS BIGINT) AS games
        |         FROM nsym n LEFT JOIN
        |           (SELECT i, SUM(wc) AS wtot FROM dir GROUP BY 1) d USING (i)
        |         GROUP BY 1),
        |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS kk FROM wins),
        |p0 AS (SELECT i, CAST(1000000 AS BIGINT) AS p FROM wins),
        |""".stripMargin
    for (t <- 1 to 3) {
      sb ++=
        s"""d$t AS (SELECT n.i,
           |  CAST(SUM(CAST(n.n_ij AS HUGEINT) * 1000000000000 //
           |    GREATEST(pi.p + pj.p, 1)) AS BIGINT) AS denom
           |  FROM nsym n
           |  JOIN p${t - 1} pi ON n.i = pi.i
           |  JOIN p${t - 1} pj ON n.j = pj.i GROUP BY 1),
           |r$t AS (SELECT w.i,
           |  CASE WHEN d.denom > 0 THEN
           |    CAST(CAST(w.wins AS HUGEINT) * 1000000000000 // d.denom AS BIGINT)
           |  ELSE 0 END AS praw
           |  FROM wins w JOIN d$t d USING (i)),
           |p$t AS (SELECT r.i,
           |  CASE WHEN t.tot > 0 THEN
           |    CAST(CAST(r.praw AS HUGEINT) * k.kk * 1000000 // t.tot AS BIGINT)
           |  ELSE 0 END AS p
           |  FROM r$t r, (SELECT SUM(praw) AS tot FROM r$t) t, k),
           |""".stripMargin
    }
    sb ++=
      """fin AS (SELECT w.i AS item, w.wins, w.games, p.p AS strength_micro
        |        FROM wins w JOIN p3 p USING (i))
        |SELECT item, wins, games, strength_micro,
        |       CAST(ROW_NUMBER() OVER
        |         (ORDER BY strength_micro DESC, item) AS BIGINT) AS rnk
        |FROM fin ORDER BY item""".stripMargin
    sb.result()
  }

  /** Naive-Bayes oracle scaffolding: train-split token stream, top-N
    * vocab (count desc, token tie-break), smoothed model + priors on
    * the 6-dp micro grid, and held-out MAP predictions. */
  private val NbCtes: String =
    s"""WITH tr AS MATERIALIZED (
       |  SELECT lang, text FROM documents
       |  WHERE doc_id % 5 <> 0 AND text IS NOT NULL AND lang IS NOT NULL),
       |tk0 AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM tr),
       |tk AS MATERIALIZED (SELECT lang, token FROM tk0 WHERE len(token) >= 1),
       |voc AS MATERIALIZED (
       |  SELECT token FROM (
       |    SELECT token, count(*) AS c FROM tk GROUP BY 1
       |    ORDER BY c DESC, token LIMIT $NbVocab)),
       |vn AS (SELECT count(*) AS v FROM voc),
       |ct AS MATERIALIZED (
       |  SELECT lang, token, count(*) AS cnt
       |  FROM tk JOIN voc USING (token) GROUP BY 1, 2),
       |grid AS MATERIALIZED (
       |  SELECT c.lang, v.token, coalesce(ct.cnt, 0) AS cnt
       |  FROM (SELECT DISTINCT lang FROM tk) c
       |  CROSS JOIN voc v
       |  LEFT JOIN ct ON ct.lang = c.lang AND ct.token = v.token),
       |tt AS (SELECT lang, sum(cnt) AS tot FROM grid GROUP BY 1),
       |model AS MATERIALIZED (
       |  SELECT g.lang, g.token, CAST(g.cnt AS BIGINT) AS cnt,
       |         CAST((CAST(round(log10(g.cnt + 1), 6) AS DECIMAL(28,6)) -
       |               CAST(round(log10(t.tot + vn.v), 6) AS DECIMAL(28,6)))
       |              * 1000000 AS BIGINT) AS loglik_micro
       |  FROM grid g JOIN tt t USING (lang), vn),
       |pri AS MATERIALIZED (
       |  SELECT lang,
       |         CAST((CAST(round(log10(count(*)), 6) AS DECIMAL(28,6)) -
       |               CAST(round(log10((SELECT count(*) FROM tr)), 6)
       |                 AS DECIMAL(28,6)))
       |              * 1000000 AS BIGINT) AS prior_micro
       |  FROM tr GROUP BY 1),
       |te AS MATERIALIZED (
       |  SELECT doc_id, lang, text FROM documents
       |  WHERE doc_id % 5 = 0 AND text IS NOT NULL AND lang IS NOT NULL),
       |tetk0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM te),
       |tetk AS (SELECT doc_id, token FROM tetk0 WHERE len(token) >= 1),
       |ll AS MATERIALIZED (
       |  SELECT k.doc_id, m.lang AS cls, sum(m.loglik_micro) AS ll
       |  FROM tetk k JOIN model m USING (token) GROUP BY 1, 2),
       |sc AS MATERIALIZED (
       |  SELECT te.doc_id, te.lang AS actual, p.lang AS cls,
       |         p.prior_micro + coalesce(ll.ll, 0) AS score
       |  FROM te CROSS JOIN pri p
       |  LEFT JOIN ll ON ll.doc_id = te.doc_id AND ll.cls = p.lang),
       |pred AS MATERIALIZED (
       |  SELECT doc_id, actual, cls, score FROM sc
       |  QUALIFY row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, cls) = 1)""".stripMargin

  private val ClassifierFitCtes: String = {
    val base =
      """WITH fm AS MATERIALIZED (
        |  SELECT doc_id, y,
        |         CAST(floor(ln(CAST(nt AS DOUBLE) + 1.0) * 1000000.0 + 0.5) AS BIGINT) AS xm1,
        |         CAST(floor(sr * 1000000.0 + 0.5) AS BIGINT) AS xm2,
        |         CAST(floor(pr * 1000000.0 + 0.5) AS BIGINT) AS xm3,
        |         CAST(floor(mwl / 10.0 * 1000000.0 + 0.5) AS BIGINT) AS xm4
        |  FROM (
        |    SELECT doc_id, nt, mwl, sr, pr,
        |           CASE WHEN (CASE WHEN nt >= 20 AND nt <= 100000 THEN 1 ELSE 0 END +
        |                      CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1 ELSE 0 END +
        |                      CASE WHEN sr >= 0.01 THEN 1 ELSE 0 END +
        |                      CASE WHEN pr <= 0.2 THEN 1 ELSE 0 END) >= 3
        |                THEN 1.0 ELSE 0.0 END AS y
        |    FROM (
        |      SELECT doc_id, nt,
        |             CAST(nc - (nt - 1) AS DOUBLE) / nt AS mwl,
        |             CAST(st AS DOUBLE) / nt AS sr,
        |             CASE WHEN nc = 0 THEN 0.0 ELSE CAST(np AS DOUBLE) / nc END AS pr
        |      FROM (
        |        SELECT doc_id,
        |               len(string_split(text, ' ')) AS nt,
        |               length(text) AS nc,
        |               len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS np,
        |               len(list_filter(string_split(text, ' '),
        |                   t -> t IN ('the', 'a', 'of', 'and'))) AS st
        |        FROM documents)))),
        |st AS MATERIALIZED (
        |  SELECT count(*) AS n,
        |         CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(xm1) AS BIGINT) AS sx1, sum(CAST(xm1 AS DECIMAL(38,0)) * xm1) AS qx1,
        |         CAST(sum(xm2) AS BIGINT) AS sx2, sum(CAST(xm2 AS DECIMAL(38,0)) * xm2) AS qx2,
        |         CAST(sum(xm3) AS BIGINT) AS sx3, sum(CAST(xm3 AS DECIMAL(38,0)) * xm3) AS qx3,
        |         CAST(sum(xm4) AS BIGINT) AS sx4, sum(CAST(xm4 AS DECIMAL(38,0)) * xm4) AS qx4
        |  FROM fm),
        |sd AS MATERIALIZED (
        |  SELECT n, n1, m1, m2, m3, m4,
        |         CASE WHEN v1 <= 0 THEN 1.0 ELSE sqrt(v1) END AS s1,
        |         CASE WHEN v2 <= 0 THEN 1.0 ELSE sqrt(v2) END AS s2,
        |         CASE WHEN v3 <= 0 THEN 1.0 ELSE sqrt(v3) END AS s3,
        |         CASE WHEN v4 <= 0 THEN 1.0 ELSE sqrt(v4) END AS s4
        |  FROM (
        |    SELECT n, n1,
        |           sx1 / n AS m1, CAST(qx1 AS DOUBLE) / n - sx1 / n * (sx1 / n) AS v1,
        |           sx2 / n AS m2, CAST(qx2 AS DOUBLE) / n - sx2 / n * (sx2 / n) AS v2,
        |           sx3 / n AS m3, CAST(qx3 AS DOUBLE) / n - sx3 / n * (sx3 / n) AS v3,
        |           sx4 / n AS m4, CAST(qx4 AS DOUBLE) / n - sx4 / n * (sx4 / n) AS v4
        |    FROM st)),
        |f2 AS MATERIALIZED (
        |  SELECT doc_id, y,
        |         CASE WHEN y = 1.0 THEN (n - n1) * 2.0 / n ELSE n1 * 2.0 / n END AS cw,
        |         (xm1 - m1) / s1 AS x1, (xm2 - m2) / s2 AS x2,
        |         (xm3 - m3) / s3 AS x3, (xm4 - m4) / s4 AS x4
        |  FROM fm CROSS JOIN sd),
        |w0 AS MATERIALIZED (
        |  SELECT CAST(0 AS BIGINT) AS w1m, CAST(0 AS BIGINT) AS w2m,
        |         CAST(0 AS BIGINT) AS w3m, CAST(0 AS BIGINT) AS w4m,
        |         CAST(0 AS BIGINT) AS bm)""".stripMargin
    val steps = (1 to QualityClassifier.Iters).map { i =>
      val pw = s"w${i - 1}"
      s"""p$i AS MATERIALIZED (
         |  SELECT f2.*, 1.0 / (1.0 + exp(-(x1 * (w1m / 1000000.0) +
         |    x2 * (w2m / 1000000.0) + x3 * (w3m / 1000000.0) +
         |    x4 * (w4m / 1000000.0) + bm / 1000000.0))) AS p
         |  FROM f2 CROSS JOIN $pw),
         |g$i AS MATERIALIZED (
         |  SELECT count(*) AS n,
         |         sum(CAST(floor(cw * (p - y) * x1 * 1000000.0 + 0.5) AS BIGINT)) AS s1,
         |         sum(CAST(floor(cw * (p - y) * x2 * 1000000.0 + 0.5) AS BIGINT)) AS s2,
         |         sum(CAST(floor(cw * (p - y) * x3 * 1000000.0 + 0.5) AS BIGINT)) AS s3,
         |         sum(CAST(floor(cw * (p - y) * x4 * 1000000.0 + 0.5) AS BIGINT)) AS s4,
         |         sum(CAST(floor(cw * (p - y) * 1000000.0 + 0.5) AS BIGINT)) AS sb
         |  FROM p$i),
         |w$i AS MATERIALIZED (
         |  SELECT w.w1m - CAST(floor(2.0 * g.s1 / g.n + 0.5) AS BIGINT) AS w1m,
         |         w.w2m - CAST(floor(2.0 * g.s2 / g.n + 0.5) AS BIGINT) AS w2m,
         |         w.w3m - CAST(floor(2.0 * g.s3 / g.n + 0.5) AS BIGINT) AS w3m,
         |         w.w4m - CAST(floor(2.0 * g.s4 / g.n + 0.5) AS BIGINT) AS w4m,
         |         w.bm - CAST(floor(2.0 * g.sb / g.n + 0.5) AS BIGINT) AS bm
         |  FROM g$i g CROSS JOIN $pw w)""".stripMargin
    }.mkString(",\n")
    base + ",\n" + steps
  }

  val specs: Seq[QuerySpec] = Seq(
    // Token-level F1 (the SQuAD answer metric): multiset unigram
    // overlap between a perturbed prediction and the reference —
    // exact integral precision/recall/F1 per pair, one id-keyed join.
    QuerySpec("eval_token_f1", (s, d) =>
      GenEval.overlapF1(
        table(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            expr("replace(text, 'table', 'chair')").as("pred"),
            col("text").as("gold")),
        "doc_id", "pred", "gold", n = 1).orderBy("doc_id"),
      // Token-F1 replayed: per-side multiset counts, least() overlap.
      genEvalOracle(1)),
    // Distinct-n diversity (Li et al. 2016): unique / total token
    // n-grams for n = 1..4 — the mode-collapse check.
    QuerySpec("eval_distinct_n", (s, d) =>
      GenEval.distinctN(table(s, d, "documents"), "text")
        .orderBy("n"),
      ((1 to 4).map { n =>
        s"""SELECT CAST($n AS BIGINT) AS n,
           |       CAST(count(*) AS BIGINT) AS n_total,
           |       CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
           |       CAST(CASE WHEN count(*) > 0
           |            THEN (1000000 * count(DISTINCT g)) // count(*)
           |            ELSE 0 END AS BIGINT) AS distinct_micro
           |FROM (
           |  SELECT unnest(list_transform(
           |           generate_series(1, len(toks) - ${n - 1}),
           |           i -> array_to_string(toks[CAST(i AS INT):CAST(i + $n - 1 AS INT)], ' '))) AS g
           |  FROM (SELECT string_split(text, ' ') AS toks
           |        FROM documents WHERE text IS NOT NULL))""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY n")),
    // Self-BLEU (Zhu et al. 2018): mean pairwise smoothed BLEU-2
    // over a deterministic sample — the paraphrase-collapse check
    // distinct-n misses.
    QuerySpec("eval_self_bleu", (s, d) =>
      GenEval.selfBleu(table(s, d, "documents"), "doc_id", "text"),
      s"""SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(CAST(sum(CAST(bleu AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
        |    AS self_bleu
        |FROM (
        |${sentenceBleuOracleOver(
            """samp AS (
              |  SELECT doc_id, text FROM documents
              |  WHERE text IS NOT NULL
              |  ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id
              |  LIMIT 250),
              |pairs AS (
              |  SELECT a.doc_id * 1000000 + b.doc_id AS doc_id,
              |         a.text AS pred, b.text AS gold
              |  FROM samp a JOIN samp b ON a.doc_id <> b.doc_id)""".stripMargin, 2)}
        |)""".stripMargin),
    // ROUGE-2 (Lin 2004): the same multiset overlap over bigrams —
    // the summarization-eval standard.
    QuerySpec("eval_rouge2", (s, d) =>
      GenEval.overlapF1(
        table(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            expr("replace(text, 'table', 'chair')").as("pred"),
            col("text").as("gold")),
        "doc_id", "pred", "gold", n = 2).orderBy("doc_id"),
      // ROUGE-2: the same replay over bigram units.
      genEvalOracle(2)),
    // Corpus chrF (Popović 2015): character n-gram F2 averaged over
    // n = 1..6, whitespace stripped — the MT metric robust to
    // tokenization; exact integral micros end to end.
    QuerySpec("eval_chrf", (s, d) =>
      GenEval.corpusChrF(
        table(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            expr("replace(text, 'table', 'chair')").as("pred"),
            col("text").as("gold")),
        "doc_id", "pred", "gold", maxN = 6, beta = 2),
      // chrF replayed: char n-gram unions, integral F-beta.
      chrfOracle(6, 2)),
    // Corpus chrF++ (Popović 2017): chrF's char n-gram orders plus
    // word 1/2-gram orders, equal-weight integral mean — the
    // sacrebleu chrF++ shape on the same one-scan kernel (both
    // kernel calls in a single projection; still no explode/join).
    QuerySpec("eval_chrfpp", (s, d) =>
      GenEval.corpusChrFpp(
        table(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            expr("replace(text, 'table', 'chair')").as("pred"),
            col("text").as("gold")),
        "doc_id", "pred", "gold", charMaxN = 6, wordMaxN = 2, beta = 2),
      chrfPpOracle(6, 2, 2)),
    // True Damerau–Levenshtein (Lowrance–Wagner) beside plain
    // Levenshtein on a REAL transposition: pred = the 64-char window
    // with its first two characters swapped, so damerau_dist = 1
    // where lev_dist = 2 whenever they differ — the typo metric's
    // defining separation, checked value-exact against DuckDB's
    // damerau_levenshtein.
    QuerySpec("eval_damerau", (s, d) => {
      GraftFunctions.register(s)
      table(s, d, "documents")
        .filter(col("text").isNotNull && length(col("text")) >= 4)
        .select(col("doc_id"),
          expr("substring(text, 1, 64)").as("gold"),
          expr("concat(substring(text, 2, 1), substring(text, 1, 1), " +
            "substring(text, 3, 62))").as("pred"))
        .select(col("doc_id"),
          GraftFunctions.damerauDistance(col("pred"), col("gold"))
            .as("damerau_dist"),
          GraftFunctions.editDistance(col("pred"), col("gold"), "byte")
            .as("lev_dist"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CAST(damerau_levenshtein(pred, gold) AS BIGINT) AS damerau_dist,
        |  CAST(levenshtein(pred, gold) AS BIGINT) AS lev_dist
        |FROM (SELECT doc_id, substr(text, 1, 64) AS gold,
        |        substr(text, 2, 1) || substr(text, 1, 1) ||
        |        substr(text, 3, 62) AS pred
        |      FROM documents
        |      WHERE text IS NOT NULL AND length(text) >= 4)""".stripMargin),
    // Per-pair sentence BLEU-4 with add-one smoothing (Lin & Och
    // 2004): the segment-level bitext/generation quality filter —
    // exact integer counts per pair, one fixed-order 6-dp
    // transcendental, pure projection.
    QuerySpec("eval_sentence_bleu", (s, d) =>
      GenEval.sentenceBleu(
        table(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            expr("replace(text, 'table', 'chair')").as("pred"),
            col("text").as("gold")),
        "doc_id", "pred", "gold", maxN = 4).orderBy("doc_id"),
      sentenceBleuOracle(4)),
    // Character error rate (byte units — bit-identical to DuckDB's
    // byte-level levenshtein, so the oracle replays the DP exactly):
    // the OCR/ASR eval standard, per pair, pure projection.
    QuerySpec("eval_cer", (s, d) =>
      GenEval.editErrorRate(
        table(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            expr("replace(text, 'table', 'chair')").as("pred"),
            col("text").as("gold")),
        "doc_id", "pred", "gold", unit = "byte").orderBy("doc_id"),
      cerOracle),
    // Word error rate (token units). The oracle maps each pair's
    // distinct tokens to single printable bytes (a bijection, so
    // token-level Levenshtein equals DuckDB's byte-level levenshtein
    // on the mapped strings); pairs with > 94 distinct tokens can't
    // map into one printable byte each and are filtered on BOTH
    // sides — a fixture bound, not an operator limit.
    QuerySpec("eval_wer", (s, d) =>
      GenEval.editErrorRate(
        table(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            expr("replace(text, 'table', 'chair')").as("pred"),
            col("text").as("gold"))
          .filter(size(array_distinct(concat(
            split(col("pred"), " "), split(col("gold"), " ")))) <= 94),
        "doc_id", "pred", "gold", unit = "token").orderBy("doc_id"),
      werOracle),
    // Corpus BLEU-4 (Papineni et al. 2002): clipped n-gram precisions
    // and brevity penalty as exact integers, one 6-dp transcendental
    // combination — the MT-eval standard, the natural companion of
    // the bitext-mining card.
    QuerySpec("eval_bleu4", (s, d) =>
      GenEval.corpusBleu(
        table(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            expr("replace(text, 'table', 'chair')").as("pred"),
            col("text").as("gold")),
        "doc_id", "pred", "gold", maxN = 4),
      // BLEU-4 replayed: tagged n-gram unions, clipped sums, the same
      // fixed-order transcendental combination.
      bleuOracle(4)),
    // Deterministic Poisson bootstrap (Chamandy et al.) over a
    // per-example eval metric: 32 replicas resampled via the seeded
    // 16-bit md5 → Poisson(1) inverse-CDF multiplicity — no indexing,
    // no RNG state, one scan fanning out to B exact integer
    // aggregates. The oracle re-derives every replica.
    QuerySpec("eval_bootstrap", (s, d) => {
      val ex = table(s, d, "documents")
        .filter(col("lang") === "de")
        .select(col("doc_id"), (col("n_chars") % 2).as("score"))
      Bootstrap.poissonBootstrap(ex, "doc_id", "score", reps = 32)
        .orderBy("rep")
    },
      // Every replica re-derived: same md5(id:rep) 16-bit value, same
      // Poisson(1) inverse-CDF table, exact integer sums.
      """WITH ex AS (
        |  SELECT doc_id AS id, CAST(n_chars % 2 AS BIGINT) AS score
        |  FROM documents WHERE lang = 'de'),
        |grid AS (
        |  SELECT id, score, CAST(r AS BIGINT) AS rep
        |  FROM ex, unnest(generate_series(0, 31)) t(r)),
        |h AS (
        |  SELECT rep, score,
        |         list_sum(list_transform(generate_series(1, 4), i ->
        |           (strpos('0123456789abcdef',
        |              substr(md5(CAST(id AS VARCHAR) || ':' || CAST(rep AS VARCHAR)),
        |                     CAST(i AS INT), 1)) - 1)
        |           * CAST(16 ** (4 - i) AS BIGINT))) AS hv
        |  FROM grid),
        |m AS (
        |  SELECT rep, score,
        |         CASE WHEN hv < 24113 THEN 0 WHEN hv < 48226 THEN 1
        |              WHEN hv < 60273 THEN 2 WHEN hv < 64292 THEN 3
        |              WHEN hv < 65296 THEN 4 WHEN hv < 65497 THEN 5
        |              WHEN hv < 65531 THEN 6 WHEN hv < 65535 THEN 7
        |              ELSE 8 END AS mult
        |  FROM h)
        |SELECT rep, CAST(sum(mult) AS BIGINT) AS n_eff,
        |       CAST(sum(mult * score) AS BIGINT) AS sum_score,
        |       round(CAST(sum(mult * score) AS DOUBLE) / sum(mult), 6)
        |         AS mean_score
        |FROM m GROUP BY rep ORDER BY rep""".stripMargin),
    // Paired permutation (sign-flip) test per source — the
    // continuous-metric sibling of eval_mcnemar: md5-seeded flips
    // regenerate the null identically on any engine; add-one p on the
    // micro grid never reports 0.
    QuerySpec("eval_permutation", (s, d) =>
      Bootstrap.permutationTest(
        table(s, d, "documents").select(col("source"), col("doc_id"),
          ((col("n_chars") % 5) - 2 +
            when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("d")),
        "source", "doc_id", "d", reps = 64)
        .orderBy("source"),
      """WITH ex AS (
        |  SELECT source, doc_id AS id,
        |         (n_chars % 5) - 2 +
        |           CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS d
        |  FROM documents),
        |obs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |          CAST(ABS(SUM(d)) AS BIGINT) AS obs_abs
        |        FROM ex GROUP BY 1),
        |grid AS (SELECT source, id, d, CAST(r AS BIGINT) AS rep
        |         FROM ex, unnest(generate_series(0, 63)) t(r)),
        |h AS (
        |  SELECT source, rep, d,
        |         list_sum(list_transform(generate_series(1, 4), i ->
        |           (strpos('0123456789abcdef',
        |              substr(md5(CAST(id AS VARCHAR) || ':' || CAST(rep AS VARCHAR)),
        |                     CAST(i AS INT), 1)) - 1)
        |           * CAST(16 ** (4 - i) AS BIGINT))) AS hv
        |  FROM grid),
        |p AS (SELECT source, rep,
        |        CAST(ABS(SUM(CASE WHEN hv % 2 = 0 THEN d ELSE -d END))
        |          AS BIGINT) AS perm_abs
        |      FROM h GROUP BY 1, 2),
        |agg AS (
        |  SELECT p.source, o.n, o.obs_abs,
        |         CAST(SUM(CASE WHEN p.perm_abs >= o.obs_abs THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_ge
        |  FROM p JOIN obs o USING (source) GROUP BY 1, 2, 3)
        |SELECT source, n, obs_abs, n_ge, CAST(64 AS BIGINT) AS reps,
        |       CAST(CAST(n_ge + 1 AS HUGEINT) * 1000000 // 65 AS BIGINT)
        |         AS p_micro
        |FROM agg ORDER BY source""".stripMargin),
    // Multiple-testing corrections (Bonferroni / Holm / BH-FDR) over
    // the per-source permutation p-value family — exact integral
    // micros, deterministic (p, group) rank ties.
    QuerySpec("eval_multiple_testing", (s, d) =>
      Bootstrap.multipleTesting(
        Bootstrap.permutationTest(
          table(s, d, "documents").select(col("source"), col("doc_id"),
            ((col("n_chars") % 5) - 2 +
              when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("d")),
          "source", "doc_id", "d", reps = 64),
        "source", "p_micro")
        .orderBy("rnk"),
      // The permutation chain again, then the three corrections as
      // ordered windows over the bounded p-value family.
      """WITH ex AS (
        |  SELECT source, doc_id AS id,
        |         (n_chars % 5) - 2 +
        |           CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS d
        |  FROM documents),
        |obs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |          CAST(ABS(SUM(d)) AS BIGINT) AS obs_abs
        |        FROM ex GROUP BY 1),
        |grid AS (SELECT source, id, d, CAST(r AS BIGINT) AS rep
        |         FROM ex, unnest(generate_series(0, 63)) t(r)),
        |h AS (
        |  SELECT source, rep, d,
        |         list_sum(list_transform(generate_series(1, 4), i ->
        |           (strpos('0123456789abcdef',
        |              substr(md5(CAST(id AS VARCHAR) || ':' || CAST(rep AS VARCHAR)),
        |                     CAST(i AS INT), 1)) - 1)
        |           * CAST(16 ** (4 - i) AS BIGINT))) AS hv
        |  FROM grid),
        |p AS (SELECT source, rep,
        |        CAST(ABS(SUM(CASE WHEN hv % 2 = 0 THEN d ELSE -d END))
        |          AS BIGINT) AS perm_abs
        |      FROM h GROUP BY 1, 2),
        |agg AS (
        |  SELECT p.source, o.n, o.obs_abs,
        |         CAST(SUM(CASE WHEN p.perm_abs >= o.obs_abs THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_ge
        |  FROM p JOIN obs o USING (source) GROUP BY 1, 2, 3),
        |pv AS (SELECT source,
        |         CAST(CAST(n_ge + 1 AS HUGEINT) * 1000000 // 65 AS BIGINT)
        |           AS p_micro
        |       FROM agg),
        |adj AS (
        |  SELECT source, p_micro,
        |         CAST(count(*) OVER () AS BIGINT) AS m,
        |         CAST(row_number() OVER (ORDER BY p_micro, source) AS BIGINT)
        |           AS rnk
        |  FROM pv),
        |adj2 AS (
        |  SELECT source, p_micro, rnk,
        |         least(p_micro * m, 1000000) AS bonferroni_micro,
        |         max(least((m - rnk + 1) * p_micro, 1000000))
        |           OVER (ORDER BY p_micro, source
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS holm_micro,
        |         min(least((p_micro * m) // rnk, 1000000))
        |           OVER (ORDER BY p_micro, source
        |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |           AS bh_micro
        |  FROM adj)
        |SELECT source, p_micro, rnk, bonferroni_micro, holm_micro, bh_micro,
        |       bh_micro <= 50000 AS reject_bh
        |FROM adj2 ORDER BY rnk""".stripMargin),
    // Delete-one-USER jackknife variance of the clicks-per-view
    // ratio — the cluster-correct error bar for ratio metrics that
    // completes the inferential kit (bootstrap CI, McNemar,
    // permutation): both numerator and denominator vary per user, so
    // the binomial formula is wrong and deleting whole users is the
    // correction. Micro-grid integers end to end; variance (micro²)
    // rather than SE, keeping sqrt out of the contract.
    QuerySpec("eval_jackknife_ratio", (s, d) =>
      Bootstrap.jackknifeRatio(
        table(s, d, "events").select(col("user_id"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("num"),
          when(col("event_type") === "view", 1L).otherwise(0L).as("den")),
        "user_id", "num", "den"),
      // Every flip re-derived from the same md5(id:rep) bit.
      """WITH g AS (
        |  SELECT user_id,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |              AS HUGEINT) AS a,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |              AS HUGEINT) AS b
        |  FROM events GROUP BY 1),
        |t AS (SELECT sum(a) AS ta, sum(b) AS tb,
        |             CAST(count(*) AS HUGEINT) AS n_groups FROM g),
        |loo AS (
        |  SELECT (1000000 * ((SELECT ta FROM t) - a)) //
        |         ((SELECT tb FROM t) - b) AS r_loo
        |  FROM g WHERE (SELECT tb FROM t) - b > 0),
        |u AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n_used,
        |         (1000000 * (SELECT ta FROM t)) // (SELECT tb FROM t)
        |           AS ratio_micro
        |  FROM loo),
        |p AS (
        |  SELECT (SELECT n_used FROM u) * (SELECT ratio_micro FROM u) -
        |         ((SELECT n_used FROM u) - 1) * r_loo AS p
        |  FROM loo),
        |m AS (SELECT sum(p) AS sp, sum(p * p) AS sp2 FROM p)
        |SELECT CAST((SELECT n_groups FROM t) AS BIGINT) AS n_groups,
        |       CAST(u.n_used AS BIGINT) AS n_used,
        |       CAST(u.ratio_micro AS BIGINT) AS ratio_micro,
        |       CAST(m.sp // u.n_used AS BIGINT) AS jack_mean_micro,
        |       CAST(CASE WHEN u.n_used > 1
        |                 THEN (u.n_used * m.sp2 - m.sp * m.sp) //
        |                      (u.n_used * u.n_used * (u.n_used - 1))
        |                 ELSE 0 END AS BIGINT) AS var_jack_micro2
        |FROM u, m""".stripMargin),
    // Exact ROC-AUC per source via the Mann–Whitney rank-sum with
    // midrank ties (Hanley–McNeil 1982): the classifier-quality gate
    // a labeling pipeline runs per slice. Scores live on an integer
    // grid (ties engineered via % 100) and labels lean +40 on the
    // grid, so each source's AUC is informative but < 1. All-BIGINT
    // until one division; the per-(source, score) relation is what
    // shuffles, never per-row ranks.
    QuerySpec("eval_auc", (s, d) => {
      val pos = col("doc_id") % 3 === 0
      val scored = table(s, d, "documents").select(
        col("source"),
        pos.cast("long").as("label"),
        ((col("n_chars") * 7 + col("doc_id") * 13) % 100 +
          when(pos, 40).otherwise(0)).as("score"))
      Evaluation.aucExact(scored, "source", "label", "score")
        .orderBy("source")
    },
      // Midrank rank-sum replayed on the per-(source, score) counts.
      // The cumulative window is tie-free by construction (score is the
      // grouping key), so DuckDB's RANGE default frame equals Spark's
      // ROWS frame.
      """WITH scored AS (
        |  SELECT source,
        |         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS label,
        |         (n_chars * 7 + doc_id * 13) % 100 +
        |           CASE WHEN doc_id % 3 = 0 THEN 40 ELSE 0 END AS score
        |  FROM documents),
        |g AS (SELECT source, score, COUNT(*) AS cnt, SUM(label) AS pos
        |      FROM scored GROUP BY 1, 2),
        |r AS (SELECT source, cnt, pos,
        |        SUM(cnt) OVER (PARTITION BY source ORDER BY score) AS cum
        |      FROM g),
        |a AS (SELECT source,
        |        CAST(SUM(pos) AS BIGINT) AS n_pos,
        |        CAST(SUM(cnt) - SUM(pos) AS BIGINT) AS n_neg,
        |        CAST(SUM(pos * (2 * cum - cnt + 1)) AS BIGINT) AS r2
        |      FROM r GROUP BY 1)
        |SELECT source, n_pos, n_neg,
        |       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |         round(CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE) /
        |               (2.0 * n_pos * n_neg), 6) END AS auc
        |FROM a ORDER BY source""".stripMargin),
    // DeLong variance of the same per-source AUC — the error bar on
    // the rank-sum point estimate: doubled placements, centered
    // squares with cleared denominators, all DECIMAL(38)-exact.
    QuerySpec("eval_auc_delong", (s, d) => {
      val pos = col("doc_id") % 3 === 0
      val scored = table(s, d, "documents").select(
        col("source"),
        pos.cast("long").as("label"),
        ((col("n_chars") * 7 + col("doc_id") * 13) % 100 +
          when(pos, 40).otherwise(0)).as("score"))
      Evaluation.aucDeLong(scored, "source", "label", "score")
        .orderBy("source")
    },
      """WITH scored AS (
        |  SELECT source,
        |         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS label,
        |         (n_chars * 7 + doc_id * 13) % 100 +
        |           CASE WHEN doc_id % 3 = 0 THEN 40 ELSE 0 END AS score
        |  FROM documents),
        |g AS (SELECT source, score, CAST(count(*) AS BIGINT) AS cnt,
        |             CAST(sum(label) AS BIGINT) AS pos
        |      FROM scored GROUP BY 1, 2),
        |g2 AS (SELECT *, cnt - pos AS neg FROM g),
        |pl AS (
        |  SELECT source, pos, neg,
        |         2 * coalesce(sum(neg) OVER (PARTITION BY source ORDER BY score
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           + neg AS p2p,
        |         2 * coalesce(sum(pos) OVER (PARTITION BY source ORDER BY score
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           + pos AS p2n
        |  FROM g2),
        |tot AS (SELECT source, CAST(sum(pos) AS BIGINT) AS m,
        |               CAST(sum(neg) AS BIGINT) AS n,
        |               CAST(sum(pos * p2p) AS BIGINT) AS u2,
        |               CAST(sum(neg * p2n) AS BIGINT) AS u2n
        |        FROM pl GROUP BY 1),
        |sq AS (
        |  SELECT p.source, t.m, t.n, t.u2, t.u2n,
        |         sum(CAST(p.pos AS HUGEINT) * (p.p2p * t.m - t.u2)
        |             * (p.p2p * t.m - t.u2)) AS s10,
        |         sum(CAST(p.neg AS HUGEINT) * (p.p2n * t.n - t.u2n)
        |             * (p.p2n * t.n - t.u2n)) AS s01
        |  FROM pl p JOIN tot t USING (source) GROUP BY 1, 2, 3, 4, 5)
        |SELECT source, m AS n_pos, n AS n_neg,
        |       CASE WHEN m > 0 AND n > 0
        |            THEN (500000 * u2) // (m * n) END AS auc_micro,
        |       CASE WHEN m > 1 AND n > 1 THEN CAST(
        |         (CAST(1000000000000 AS HUGEINT) * s10) //
        |           (CAST(4 AS HUGEINT) * m * m * m * n * n * (m - 1)) +
        |         (CAST(1000000000000 AS HUGEINT) * s01) //
        |           (CAST(4 AS HUGEINT) * m * m * n * n * n * (n - 1))
        |         AS BIGINT) END AS var_e12
        |FROM sq ORDER BY source""".stripMargin),
    // Cohen's kappa per source: two simulated annotators over a
    // 3-class truth (doc_id % 3), each corrupted on its own stride
    // (every 7th / every 5th doc) — the inter-annotator agreement
    // card a labeling QA pipeline reports. Confusion marginals from
    // two slim per-(source, class) aggregates; exact integers until
    // the one kappa division.
    QuerySpec("eval_kappa", (s, d) => {
      val t = col("doc_id") % 3
      val rated = table(s, d, "documents").select(
        col("source"),
        when(col("doc_id") % 7 === 0, (t + 1) % 3).otherwise(t).as("r1"),
        when(col("doc_id") % 5 === 0, (t + 2) % 3).otherwise(t).as("r2"))
      Evaluation.cohensKappa(rated, "source", "r1", "r2")
        .orderBy("source")
    },
      // Kappa from the confusion marginals; a class used by only one
      // rater contributes 0 via the full-outer marginal join.
      """WITH rated AS (
        |  SELECT source,
        |         CASE WHEN doc_id % 7 = 0 THEN (doc_id % 3 + 1) % 3
        |              ELSE doc_id % 3 END AS r1,
        |         CASE WHEN doc_id % 5 = 0 THEN (doc_id % 3 + 2) % 3
        |              ELSE doc_id % 3 END AS r2
        |  FROM documents),
        |base AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |           CAST(SUM(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT)
        |             AS agree
        |         FROM rated GROUP BY 1),
        |ma AS (SELECT source, r1 AS k, COUNT(*) AS a_k FROM rated GROUP BY 1, 2),
        |mb AS (SELECT source, r2 AS k, COUNT(*) AS b_k FROM rated GROUP BY 1, 2),
        |pe AS (SELECT COALESCE(ma.source, mb.source) AS source,
        |         CAST(SUM(COALESCE(a_k, 0) * COALESCE(b_k, 0)) AS BIGINT)
        |           AS pe_num
        |       FROM ma FULL OUTER JOIN mb
        |         ON ma.source = mb.source AND ma.k = mb.k
        |       GROUP BY 1)
        |SELECT b.source, b.n, b.agree,
        |       CASE WHEN b.n * b.n <> pe.pe_num THEN
        |         round(CAST(b.n * b.agree - pe.pe_num AS DOUBLE) /
        |               CAST(b.n * b.n - pe.pe_num AS DOUBLE), 6) END AS kappa
        |FROM base b JOIN pe USING (source) ORDER BY source""".stripMargin),
    // Krippendorff's alpha: the variable-rater agreement coefficient
    // kappa cannot be — three simulated annotators with md5-free
    // arithmetic coverage gaps ((doc_id + j) % 4 = 0 skips), so units
    // carry 2–3 ratings and some drop as unpairable; per-unit rational
    // terms floored to the 1e-12 grid, one alpha division.
    QuerySpec("eval_krippendorff", (s, d) => {
      val docs = table(s, d, "documents")
      val ratings = (0 to 2).map { j =>
        docs.filter((col("doc_id") + lit(j)) % 4 =!= 0)
          .select(col("doc_id").as("unit"),
            when((col("doc_id") + lit(11 * j)) % 7 === 0,
              (col("doc_id") + lit(1 + j)) % 3)
              .otherwise(col("doc_id") % 3).as("rating"))
      }.reduce(_ unionByName _)
      Evaluation.krippendorffAlpha(ratings, "unit", "rating")
    },
      // The three simulated raters replayed, then the coincidence-matrix
      // alpha: per-unit terms floored to the 1e-12 grid via HUGEINT //,
      // one final division, 6-dp round — the exact Spark arithmetic.
      """WITH r AS (
        |  SELECT doc_id AS unit,
        |         CASE WHEN (doc_id + 0) % 7 = 0 THEN (doc_id + 1) % 3
        |              ELSE doc_id % 3 END AS rating
        |  FROM documents WHERE (doc_id + 0) % 4 != 0
        |  UNION ALL
        |  SELECT doc_id,
        |         CASE WHEN (doc_id + 11) % 7 = 0 THEN (doc_id + 2) % 3
        |              ELSE doc_id % 3 END
        |  FROM documents WHERE (doc_id + 1) % 4 != 0
        |  UNION ALL
        |  SELECT doc_id,
        |         CASE WHEN (doc_id + 22) % 7 = 0 THEN (doc_id + 3) % 3
        |              ELSE doc_id % 3 END
        |  FROM documents WHERE (doc_id + 2) % 4 != 0),
        |uc AS (SELECT unit, rating AS c, CAST(count(*) AS BIGINT) AS m
        |       FROM r GROUP BY 1, 2),
        |pu AS (SELECT unit, CAST(sum(m) AS BIGINT) AS mu,
        |              CAST(sum(m * (m - 1)) AS BIGINT) AS agree2
        |       FROM uc GROUP BY 1 HAVING sum(m) >= 2),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
        |             CAST(sum(mu) AS BIGINT) AS n_ratings,
        |             CAST(sum(CAST(1000000000000 * (mu * (mu - 1) - agree2)
        |                  AS HUGEINT) // (mu - 1)) AS BIGINT) AS do_scaled
        |      FROM pu),
        |nc AS (SELECT c, CAST(sum(m) AS BIGINT) AS nc
        |       FROM uc JOIN pu USING (unit) GROUP BY 1),
        |de AS (SELECT CAST(CAST(sum(nc) AS HUGEINT) * sum(nc)
        |              - sum(CAST(nc AS HUGEINT) * nc) AS BIGINT) AS de_pairs
        |       FROM nc)
        |SELECT s.n_units, s.n_ratings, s.do_scaled, de.de_pairs,
        |       CASE WHEN de.de_pairs > 0 THEN
        |         round(1.0 - (CAST(s.n_ratings - 1 AS DOUBLE)
        |               * CAST(s.do_scaled AS DOUBLE))
        |               / (1e12 * CAST(de.de_pairs AS DOUBLE)), 6)
        |       END AS alpha
        |FROM s, de""".stripMargin),
    // Bradley–Terry strengths from a pairwise-preference log (the DPO
    // data-QC card): 8 items whose simulated win odds follow
    // strength ∝ item+1 — (doc_id + n_chars) % (a+b+2) <= a wins for
    // a with probability (a+1)/(a+b+2), the BT model itself. Three
    // micro-integer MM rounds (Hunter 2004) on the ≤ 8² pair-count
    // relation; the preference log never leaves the scan unaggregated.
    QuerySpec("eval_bradley_terry", (s, d) => {
      val prefs = table(s, d, "documents")
        .select(
          (col("doc_id") % 8).as("a"),
          (expr("doc_id div 8") % 8).as("b"),
          ((col("doc_id") + col("n_chars")) % (col("doc_id") % 8 +
            expr("doc_id div 8") % 8 + 2)).as("roll"))
        .filter(col("a") =!= col("b"))
        .select(
          when(col("roll") <= col("a"), col("a")).otherwise(col("b")).as("w"),
          when(col("roll") <= col("a"), col("b")).otherwise(col("a")).as("l"))
      Evaluation.bradleyTerry(prefs, "w", "l", iters = 3)
        .orderBy("item")
    },
      // Three MM rounds unrolled as CTE stages; HUGEINT keeps the 1e12
      // products exact where the Spark side runs DECIMAL(38,0) div.
      BradleyTerryOracle),
    // fastText/FineWeb-Edu-style quality classifier: logistic regression
    // distilling the Gopher rule gate, trained by 3 full-batch GD
    // iterations where each iteration is ONE map-side-partial aggregate
    // and the weights are EXACT micro-integers (the oracle re-runs the
    // whole descent in SQL and matches them bit-for-bit).
    QuerySpec("quality_classifier_fit", (s, d) =>
      QualityClassifier.fitSummary(table(s, d, "documents"), "doc_id", "text"),
      (ClassifierFitCtes +
        s"\nSELECT st.n AS n, st.n1 AS n_pos, w1m, w2m, w3m, w4m, bm " +
        s"FROM w${QualityClassifier.Iters} CROSS JOIN st")),
    QuerySpec("quality_classifier", (s, d) => {
      val docs = table(s, d, "documents")
      QualityClassifier.score(docs, "doc_id", "text", clsModel(s, d))
        .orderBy("doc_id")
    },
      (ClassifierFitCtes + s"""
        |, scored AS (
        |  SELECT f2.doc_id, f2.y, 1.0 / (1.0 + exp(-(x1 * (w1m / 1000000.0) +
        |    x2 * (w2m / 1000000.0) + x3 * (w3m / 1000000.0) +
        |    x4 * (w4m / 1000000.0) + bm / 1000000.0))) AS p
        |  FROM f2 CROSS JOIN w${QualityClassifier.Iters})
        |SELECT doc_id, round(p, 4) AS score, p >= 0.5 AS label,
        |       CAST(y AS BIGINT) AS rule_label
        |FROM scored ORDER BY doc_id""".stripMargin)),
    // Confident-learning label-noise card (Northcutt et al. 2021):
    // the rule labels are FLIPPED on a 1-in-11 stride, the trained
    // classifier's 4-dp scores stand in for out-of-sample probs, and
    // the confident joint estimates which slice of each source is
    // mislabeled — the relabel/drop queue of a labeling pipeline.
    // Thresholds compare as cross-multiplied integer rationals; the
    // oracle re-runs the descent AND the joint in SQL.
    // McNemar's paired test per source: the trained classifier vs a
    // crude length heuristic against the rule truth — only the
    // discordant cells carry signal; continuity-corrected χ² on the
    // micro grid with the 3.841459 (p<.05, 1 df) gate as data.
    QuerySpec("eval_mcnemar", (s, d) => {
      val docs = table(s, d, "documents")
      val lab = QualityClassifier.score(docs, "doc_id", "text", clsModel(s, d))
        .join(docs.select(col("doc_id"), col("source"), col("n_chars")),
          "doc_id")
        .select(col("source"), col("rule_label").as("y"),
          col("label").cast("long").as("pa"),
          (col("n_chars") >= 400).cast("long").as("pb"))
      Evaluation.mcnemarCard(lab, "source", "y", "pa", "pb")
        .orderBy("source")
    },
      // The same descent, then McNemar's discordant cells + corrected
      // χ² in HUGEINT.
      (ClassifierFitCtes + s"""
        |, scored AS (
        |  SELECT f2.doc_id, f2.y, 1.0 / (1.0 + exp(-(x1 * (w1m / 1000000.0) +
        |    x2 * (w2m / 1000000.0) + x3 * (w3m / 1000000.0) +
        |    x4 * (w4m / 1000000.0) + bm / 1000000.0))) AS p
        |  FROM f2 CROSS JOIN w${QualityClassifier.Iters}),
        |lab AS (
        |  SELECT d.source, s.y,
        |         CASE WHEN s.p >= 0.5 THEN 1 ELSE 0 END AS pa,
        |         CASE WHEN d.n_chars >= 400 THEN 1 ELSE 0 END AS pb
        |  FROM scored s JOIN documents d USING (doc_id)),
        |a AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
        |           AS BIGINT) AS b,
        |         CAST(SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)
        |           AS BIGINT) AS c
        |  FROM lab GROUP BY 1),
        |c2 AS (
        |  SELECT source, n, b, c,
        |         CAST(CASE WHEN b + c > 0 THEN
        |           CAST(GREATEST(ABS(b - c) - 1, 0) AS HUGEINT) *
        |             GREATEST(ABS(b - c) - 1, 0) * 1000000 // (b + c)
        |         ELSE 0 END AS BIGINT) AS chi2_micro
        |  FROM a)
        |SELECT source, n, b, c, chi2_micro,
        |       chi2_micro >= 3841459 AS significant_05
        |FROM c2 ORDER BY source""".stripMargin)),
    QuerySpec("label_noise_card", (s, d) => {
      val docs = table(s, d, "documents")
      val noisy = QualityClassifier.score(docs, "doc_id", "text", clsModel(s, d))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .withColumn("noisy_label",
          when(col("doc_id") % 11 === 0, lit(1L) - col("rule_label"))
            .otherwise(col("rule_label")))
      Evaluation.confidentLearningCard(noisy, "source", "score", "noisy_label")
        .orderBy("source")
    },
      // The same descent, then the confident joint on the 1e4 integer
      // grid — thresholds as cross-multiplied rationals, midpoint tie
      // to class 1, exactly the operator's arithmetic.
      (ClassifierFitCtes + s"""
        |, scored AS (
        |  SELECT f2.doc_id, f2.y, 1.0 / (1.0 + exp(-(x1 * (w1m / 1000000.0) +
        |    x2 * (w2m / 1000000.0) + x3 * (w3m / 1000000.0) +
        |    x4 * (w4m / 1000000.0) + bm / 1000000.0))) AS p
        |  FROM f2 CROSS JOIN w${QualityClassifier.Iters}),
        |lab AS (
        |  SELECT s.doc_id, d.source,
        |         CAST(floor(round(s.p, 4) * 10000 + 0.5) AS BIGINT) AS p1,
        |         CASE WHEN s.doc_id % 11 = 0 THEN 1 - s.y ELSE s.y END AS yt
        |  FROM scored s JOIN documents d USING (doc_id)),
        |m2 AS (SELECT source, yt, p1, 10000 - p1 AS p0 FROM lab),
        |th AS (
        |  SELECT CAST(COALESCE(SUM(CASE WHEN yt = 1 THEN p1 END), 0) AS BIGINT)
        |           AS sum1,
        |         CAST(COUNT(CASE WHEN yt = 1 THEN 1 END) AS BIGINT) AS n1,
        |         CAST(COALESCE(SUM(CASE WHEN yt = 0 THEN p0 END), 0) AS BIGINT)
        |           AS sum0,
        |         CAST(COUNT(CASE WHEN yt = 0 THEN 1 END) AS BIGINT) AS n0
        |  FROM m2),
        |a AS (
        |  SELECT m.source, m.yt, m.p1,
        |         (t.n1 > 0 AND m.p1 * t.n1 >= t.sum1) AS q1,
        |         (t.n0 > 0 AND m.p0 * t.n0 >= t.sum0) AS q0
        |  FROM m2 m, th t),
        |cj AS (
        |  SELECT source, yt,
        |         CASE WHEN q1 AND q0 THEN
        |                (CASE WHEN 2 * p1 >= 10000 THEN 1 ELSE 0 END)
        |              WHEN q1 THEN 1 WHEN q0 THEN 0 END AS cj
        |  FROM a)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CASE WHEN yt = 0 AND cj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c00,
        |       CAST(SUM(CASE WHEN yt = 0 AND cj = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c01,
        |       CAST(SUM(CASE WHEN yt = 1 AND cj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c10,
        |       CAST(SUM(CASE WHEN yt = 1 AND cj = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c11,
        |       CAST(SUM(CASE WHEN cj IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS unassigned,
        |       CAST(SUM(CASE WHEN yt = 0 AND cj = 1 THEN 1 ELSE 0 END) +
        |            SUM(CASE WHEN yt = 1 AND cj = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS est_errors
        |FROM cj GROUP BY source ORDER BY source""".stripMargin)),
    // Kendall τ between the BM25 and Dirichlet-QL top-20 for the same
    // query — the ranker-agreement card. Exact concordant/discordant
    // counts over the ≤ 20² bounded pair join; τ leaves the integer
    // grid once as a rounded double.
    QuerySpec("eval_kendall", (s, d) => {
      val docs = table(s, d, "documents")
      val terms = Seq("dup", "hash", "merge")
      Retrieval.kendallTau(
        Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 20),
        Retrieval.queryLikelihoodTopK(docs, "doc_id", "text", terms, k = 20),
        "doc_id", "rnk")
    },
      // Kendall τ replay: BM25 and QL top-20 from their shared scoring
      // CTEs, concordant/discordant over the common-doc pair join, τ as
      // the identical rounded double division.
      s"""$bm25Ctes,
         |cfq AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tfq GROUP BY term),
         |qc AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nq,
         |         sum(CAST(round(ln(2000.0e0 *
         |           (CAST(cf AS DOUBLE) / CAST(s.sumdl AS DOUBLE))), 6)
         |           AS DECIMAL(28,6))) AS c0
         |  FROM cfq, stats s),
         |ql AS (
         |  SELECT t.doc_id, t.dl,
         |         sum(CAST(round(
         |           ln(t.tf + 2000.0e0 * (CAST(c.cf AS DOUBLE) / CAST(s.sumdl AS DOUBLE))) -
         |           ln(2000.0e0 * (CAST(c.cf AS DOUBLE) / CAST(s.sumdl AS DOUBLE))), 6)
         |           AS DECIMAL(28,6))) AS sd
         |  FROM tfq t JOIN cfq c USING (term), stats s
         |  GROUP BY t.doc_id, t.dl),
         |sc AS (
         |  SELECT doc_id,
         |         CAST(sd + qc.c0 - CAST(round(qc.nq * ln(CAST(dl AS DOUBLE) + 2000.0e0), 6)
         |              AS DECIMAL(28,6)) AS DOUBLE) AS score
         |  FROM ql, qc),
         |la AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS ra
         |  FROM bm25 ORDER BY score DESC, doc_id LIMIT 20),
         |lb AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rb
         |  FROM sc ORDER BY score DESC, doc_id LIMIT 20),
         |cm AS (SELECT la.doc_id AS id, ra, rb FROM la JOIN lb USING (doc_id)),
         |cd AS (
         |  SELECT CAST(coalesce(sum(CASE WHEN (x.ra < y.ra) = (x.rb < y.rb)
         |                                THEN 1 ELSE 0 END), 0) AS BIGINT) AS concordant,
         |         CAST(coalesce(sum(CASE WHEN (x.ra < y.ra) <> (x.rb < y.rb)
         |                                THEN 1 ELSE 0 END), 0) AS BIGINT) AS discordant
         |  FROM cm x JOIN cm y ON x.id < y.id),
         |cnts AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM la) AS n_a,
         |         (SELECT CAST(count(*) AS BIGINT) FROM lb) AS n_b,
         |         (SELECT CAST(count(*) AS BIGINT) FROM cm) AS n_common)
         |SELECT c.n_a, c.n_b, c.n_common, d.concordant, d.discordant,
         |       CASE WHEN c.n_common >= 2
         |            THEN round(CAST(d.concordant - d.discordant AS DOUBLE) /
         |                   (CAST(c.n_common AS DOUBLE) * (c.n_common - 1) / 2.0e0), 6)
         |            ELSE 0.0e0 END AS tau
         |FROM cnts c, cd d""".stripMargin),
    // pass@k evaluation card (Chen et al. 2021, the unbiased
    // estimator): per task with n samples and c correct,
    // pass@k = 1 - C(n-c,k)/C(n,k). One Retrieval.passAtK builder per
    // k — an expression loop of exact BIGINT falling-factorial
    // factors (a zero factor handles n-c < k; NULL when k > n), then
    // one double division — cross-engine exact at ANY k, not four
    // hardcoded terms (the r9 verdict's reusability ask). Tasks are
    // 16-sample groups so pass@10 is defined on every row. The
    // canonical model-eval aggregate: one hash aggregate over
    // per-sample verdicts, driver state zero.
    QuerySpec("eval_pass_at_k", (s, d) =>
      table(s, d, "documents")
        .groupBy(expr("doc_id div 16").as("task_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars") % 3 === 0, 1L).otherwise(0L)).as("c"))
        .filter(col("n") >= 4)
        .select(col("task_id"), col("n"), col("c"),
          Retrieval.passAtK(col("n"), col("c"), 1, Scale).as("pass_at_1"),
          Retrieval.passAtK(col("n"), col("c"), 4, Scale).as("pass_at_4"),
          Retrieval.passAtK(col("n"), col("c"), 10, Scale).as("pass_at_10"))
        .orderBy("task_id"),
      // pass@k replayed: the same falling-factorial BIGINT products
      // (generated for each k, mirroring the passAtK expression loop),
      // the single double division per k, NULL when k > n.
    {
      def ff(base: String, k: Int) =
        (0 until k).map(i => s"($base - $i)").mkString(" * ")
      def pk(k: Int) =
        s"CASE WHEN n >= $k THEN round(1.0 - " +
          s"CAST(${ff("(n - c)", k)} AS DOUBLE) / " +
          s"CAST(${ff("n", k)} AS DOUBLE), 6) END AS pass_at_$k"
      s"""WITH t AS (
        |  SELECT doc_id // 16 AS task_id, count(*) AS n,
        |         CAST(sum(CASE WHEN n_chars % 3 = 0 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS c
        |  FROM documents GROUP BY 1 HAVING count(*) >= 4)
        |SELECT task_id, n, c, ${pk(1)}, ${pk(4)}, ${pk(10)}
        |FROM t ORDER BY task_id""".stripMargin
    }),
    // Reliability card over the trained quality classifier: score
    // deciles vs observed positive rate + ECE. All aggregation is
    // exact-integer (scores re-quantized from their 4-dp rounding);
    // doubles only in final divisions, 6-dp rounded.
    QuerySpec("classifier_calibration", (s, d) => {
      val docs = table(s, d, "documents")
      QualityClassifier.calibration(
        QualityClassifier.score(docs, "doc_id", "text", clsModel(s, d)),
        "score", "rule_label")
    },
      (ClassifierFitCtes + s"""
        |, scored AS (
        |  SELECT f2.doc_id, f2.y, 1.0 / (1.0 + exp(-(x1 * (w1m / 1000000.0) +
        |    x2 * (w2m / 1000000.0) + x3 * (w3m / 1000000.0) +
        |    x4 * (w4m / 1000000.0) + bm / 1000000.0))) AS p
        |  FROM f2 CROSS JOIN w${QualityClassifier.Iters}),
        |sc AS (SELECT round(p, 4) AS score, CAST(y AS BIGINT) AS y FROM scored),
        |b AS (
        |  SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin, y,
        |         CAST(floor(score * 10000 + 0.5) AS BIGINT) AS sci
        |  FROM sc),
        |pb AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(y) AS BIGINT) AS n_pos,
        |         CAST(sum(sci) AS BIGINT) AS sum_sc
        |  FROM b GROUP BY 1),
        |pb2 AS (
        |  SELECT bin, n, n_pos,
        |         round(sum_sc / (n * 10000.0), 6) AS mean_pred,
        |         round(n_pos / CAST(n AS DOUBLE), 6) AS frac_pos
        |  FROM pb),
        |pb3 AS (SELECT *, round(frac_pos - mean_pred, 6) AS gap FROM pb2),
        |e AS (
        |  SELECT round(sum(n * CAST(round(abs(gap) * 1000000) AS BIGINT)) /
        |           (sum(n) * 1000000.0), 6) AS ece
        |  FROM pb3)
        |SELECT pb3.*, e.ece FROM pb3 CROSS JOIN e ORDER BY bin""".stripMargin)),
    // Platt scaling of the same scored relation: σ(A·s + B) fit by
    // integral-state GD with Platt's smoothed targets — the
    // parametric calibration sibling of the isotonic row; A/B are
    // bit-exact micro integers.
    // Multinomial Naive Bayes (McCallum & Nigam 1998) over whitespace
    // tokens, class = lang, trained on the doc_id % 5 ≠ 0 split:
    // the token-level generative counterpart to the numeric-feature
    // logistic bootstrap above. Model = Laplace-smoothed 6-dp-micro
    // log-likelihoods over a FIXED top-512 vocabulary (bounded →
    // broadcastable at any corpus size); fit is two grouped counts,
    // no gradient loop.
    QuerySpec("classifier_nb_model", (s, d) =>
      NaiveBayes.fit(nbTrain(s, d), "lang", "text", NbVocab)
        .withColumnRenamed("cls", "lang")
        .orderBy("lang", "token"),
      // Platt GD replay: per-iteration 1-row parameter CTEs over the
      // micro-quantized gradient sums — bit-identical am/bm per step.
      // Naive Bayes replayed: identical split, vocab truncation order,
      // smoothing arithmetic and argmax tie-break.
      s"""$NbCtes
         |SELECT lang, token, cnt, loglik_micro FROM model
         |ORDER BY lang, token""".stripMargin),
    // Held-out MAP prediction (doc_id % 5 = 0): prior + token
    // log-likelihood sums, argmax ties to the smaller class, OOV
    // tokens dropped (truncated-vocab convention).
    QuerySpec("classifier_nb_predict", (s, d) => {
      val tr = nbTrain(s, d)
      NaiveBayes.predict(nbTest(s, d), "doc_id", "lang", "text",
        NaiveBayes.fit(tr, "lang", "text", NbVocab),
        NaiveBayes.priors(tr, "lang", "text"))
        .select(col("id").as("doc_id"), col("actual").as("lang"),
          col("predicted").as("pred_lang"), col("score_micro"))
        .orderBy("doc_id")
    },
      s"""$NbCtes
         |SELECT doc_id, actual AS lang, cls AS pred_lang,
         |       CAST(score AS BIGINT) AS score_micro
         |FROM pred ORDER BY doc_id""".stripMargin),
    // Confusion-matrix card over the held-out predictions.
    QuerySpec("classifier_nb_confusion", (s, d) => {
      val tr = nbTrain(s, d)
      NaiveBayes.confusion(
        NaiveBayes.predict(nbTest(s, d), "doc_id", "lang", "text",
          NaiveBayes.fit(tr, "lang", "text", NbVocab),
          NaiveBayes.priors(tr, "lang", "text")))
        .select(col("actual").as("lang"), col("predicted").as("pred_lang"),
          col("n"))
    },
      s"""$NbCtes
         |SELECT actual AS lang, cls AS pred_lang,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Discriminative-token feature selection ("Fightin' Words"-family
    // log-odds with integral Haldane correction): per class, the top
    // 10 tokens by document-presence log-odds — χ²'s question with
    // PAIRWISE exact products that hold at any corpus size.
    QuerySpec("classifier_feature_odds", (s, d) =>
      NaiveBayes.featureLogOdds(table(s, d, "documents"),
        "doc_id", "lang", "text", NbVocab, topPerClass = 10)
        .withColumnRenamed("cls", "lang"),
      // Feature log-odds replayed: same full-corpus vocab, document
      // presence distinct, Haldane-corrected pairwise products, 6-dp
      // logs, per-class top-10 by (score desc, token).
      s"""WITH tk0 AS (
         |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
         |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
         |tk AS MATERIALIZED (
         |  SELECT doc_id, lang, token FROM tk0 WHERE len(token) >= 1),
         |voc AS MATERIALIZED (
         |  SELECT token FROM (
         |    SELECT token, count(*) AS c FROM tk GROUP BY 1
         |    ORDER BY c DESC, token LIMIT $NbVocab)),
         |pres AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, lang, token FROM tk JOIN voc USING (token)),
         |aa AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS a
         |       FROM pres GROUP BY 1, 2),
         |ct AS (SELECT lang, CAST(count(*) AS BIGINT) AS nc FROM documents
         |       WHERE text IS NOT NULL AND lang IS NOT NULL GROUP BY 1),
         |nt AS (SELECT token, CAST(count(*) AS BIGINT) AS ntk
         |       FROM pres GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
         |       WHERE text IS NOT NULL AND lang IS NOT NULL),
         |grid AS (
         |  SELECT ct.lang, v.token, ct.nc,
         |         coalesce(aa.a, 0) AS a, coalesce(nt.ntk, 0) AS ntk, nn.n
         |  FROM ct CROSS JOIN voc v
         |  LEFT JOIN aa ON aa.lang = ct.lang AND aa.token = v.token
         |  LEFT JOIN nt ON nt.token = v.token, nn),
         |sc AS (
         |  SELECT lang, token, a,
         |    CAST((CAST(round(log10((2 * a + 1) *
         |            (2 * (n - nc - (ntk - a)) + 1)), 6) AS DECIMAL(28,6)) -
         |          CAST(round(log10((2 * (nc - a) + 1) *
         |            (2 * (ntk - a) + 1)), 6) AS DECIMAL(28,6)))
         |         * 1000000 AS BIGINT) AS score_micro
         |  FROM grid),
         |rk AS (
         |  SELECT lang, token, a, score_micro,
         |         CAST(row_number() OVER (PARTITION BY lang
         |           ORDER BY score_micro DESC, token) AS BIGINT) AS rank
         |  FROM sc)
         |SELECT lang, token, a, score_micro, rank FROM rk
         |WHERE rank <= 10 ORDER BY lang, rank""".stripMargin),
    // 5-fold cross-validation card: per fold, train on the other four
    // fifths, score the held-out fifth — the variance check a single
    // split hides. All five held-out fifths score in ONE fused corpus
    // pass (`NaiveBayes.predictFolds`: fold-keyed broadcast of the
    // five cached models — row-identical to five independent predict
    // plans, spec-pinned); the oracle runs the whole harness GROUPED
    // BY fold in one CTE chain.
    QuerySpec("classifier_nb_cv", (s, d) => {
      val docs = table(s, d, "documents")
      NaiveBayes.predictFolds(docs, "doc_id", "lang", "text",
        col("doc_id") % 5, nbCvModels(s, d))
        .groupBy("fold")
        .agg(count(lit(1)).as("n"),
          sum(when(col("actual") === col("predicted"), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("acc_micro", expr("(1000000 * n_correct) div n"))
        .select("fold", "n", "n_correct", "acc_micro")
        .orderBy("fold")
    },
      // The whole CV harness replayed grouped by fold: per-fold vocab
      // truncation (row_number ≤ N inside the fold), per-fold model,
      // priors, and MAP argmax.
      s"""WITH g AS (SELECT unnest(generate_series(0, 4)) AS f),
         |tr AS MATERIALIZED (
         |  SELECT g.f, d.lang, d.text FROM documents d, g
         |  WHERE d.doc_id % 5 <> g.f
         |    AND d.text IS NOT NULL AND d.lang IS NOT NULL),
         |tk0 AS (SELECT f, lang, unnest(string_split(text, ' ')) AS token FROM tr),
         |tk AS MATERIALIZED (SELECT f, lang, token FROM tk0 WHERE len(token) >= 1),
         |voc AS MATERIALIZED (
         |  SELECT f, token FROM (
         |    SELECT f, token,
         |           row_number() OVER (PARTITION BY f
         |             ORDER BY count(*) DESC, token) AS rn
         |    FROM tk GROUP BY f, token)
         |  WHERE rn <= $NbVocab),
         |vn AS (SELECT f, count(*) AS v FROM voc GROUP BY f),
         |ct AS MATERIALIZED (
         |  SELECT tk.f, tk.lang, tk.token, count(*) AS cnt
         |  FROM tk JOIN voc ON voc.f = tk.f AND voc.token = tk.token
         |  GROUP BY 1, 2, 3),
         |cls AS (SELECT DISTINCT f, lang FROM tk),
         |grid AS MATERIALIZED (
         |  SELECT c.f, c.lang, v.token, coalesce(ct.cnt, 0) AS cnt
         |  FROM cls c JOIN voc v ON v.f = c.f
         |  LEFT JOIN ct ON ct.f = c.f AND ct.lang = c.lang AND ct.token = v.token),
         |tt AS (SELECT f, lang, sum(cnt) AS tot FROM grid GROUP BY 1, 2),
         |model AS MATERIALIZED (
         |  SELECT gr.f, gr.lang, gr.token,
         |         CAST((CAST(round(log10(gr.cnt + 1), 6) AS DECIMAL(28,6)) -
         |               CAST(round(log10(t.tot + vn.v), 6) AS DECIMAL(28,6)))
         |              * 1000000 AS BIGINT) AS llm
         |  FROM grid gr
         |  JOIN tt t ON t.f = gr.f AND t.lang = gr.lang
         |  JOIN vn ON vn.f = gr.f),
         |ntr AS (SELECT f, count(*) AS n FROM tr GROUP BY f),
         |pri AS MATERIALIZED (
         |  SELECT tr.f, tr.lang,
         |         CAST((CAST(round(log10(count(*)), 6) AS DECIMAL(28,6)) -
         |               CAST(round(log10(ntr.n), 6) AS DECIMAL(28,6)))
         |              * 1000000 AS BIGINT) AS pm
         |  FROM tr JOIN ntr ON ntr.f = tr.f GROUP BY tr.f, tr.lang, ntr.n),
         |te AS MATERIALIZED (
         |  SELECT doc_id % 5 AS f, doc_id, lang, text FROM documents
         |  WHERE text IS NOT NULL AND lang IS NOT NULL),
         |tetk0 AS (SELECT f, doc_id, unnest(string_split(text, ' ')) AS token FROM te),
         |tetk AS (SELECT f, doc_id, token FROM tetk0 WHERE len(token) >= 1),
         |ll AS MATERIALIZED (
         |  SELECT k.f, k.doc_id, m.lang AS cls, sum(m.llm) AS ll
         |  FROM tetk k JOIN model m ON m.f = k.f AND m.token = k.token
         |  GROUP BY 1, 2, 3),
         |sc AS MATERIALIZED (
         |  SELECT te.f, te.doc_id, te.lang AS actual, p.lang AS cls,
         |         p.pm + coalesce(ll.ll, 0) AS score
         |  FROM te JOIN pri p ON p.f = te.f
         |  LEFT JOIN ll ON ll.f = te.f AND ll.doc_id = te.doc_id
         |    AND ll.cls = p.lang),
         |pred AS (
         |  SELECT f, doc_id, actual, cls FROM sc
         |  QUALIFY row_number() OVER (PARTITION BY f, doc_id
         |    ORDER BY score DESC, cls) = 1)
         |SELECT f AS fold, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CASE WHEN actual = cls THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_correct,
         |       (1000000 * CAST(sum(CASE WHEN actual = cls THEN 1 ELSE 0 END)
         |          AS BIGINT)) // CAST(count(*) AS BIGINT) AS acc_micro
         |FROM pred GROUP BY f ORDER BY fold""".stripMargin,
      // r15: sweep swings 3.5–5.7 s; isolated min-of-3 holds 4.3–4.8
      isolate = true),
    QuerySpec("classifier_platt", (s, d) => {
      val docs = table(s, d, "documents")
      QualityClassifier.plattSummary(
        QualityClassifier.score(docs, "doc_id", "text", clsModel(s, d)),
        "score", "rule_label")
    },
    {
      val p = "(1.0 / (1.0 + exp(-(CAST(am AS DOUBLE) / 1000000.0 * " +
        "(sci / 10000.0) + CAST(bm AS DOUBLE) / 1000000.0))))"
      // every iteration CTE is MATERIALIZED and references its
      // predecessor once — pl(k-1) feeding both the gradient and the
      // update would otherwise inline 2^iters times
      val iters = (1 to QualityClassifier.PlattIters).map { k =>
        s"""pg$k AS MATERIALIZED (
           |  SELECT max(am) AS am, max(bm) AS bm, max(n) AS n,
           |         CAST(sum(floor(($p - tt) * (sci / 10000.0) * 1000000.0 + 0.5)) AS BIGINT) AS ga,
           |         CAST(sum(floor(($p - tt) * 1000000.0 + 0.5)) AS BIGINT) AS gb
           |  FROM scb CROSS JOIN pl${k - 1} CROSS JOIN pn),
           |pl$k AS MATERIALIZED (
           |  SELECT CAST(am - floor(4.0 * ga / n + 0.5) AS BIGINT) AS am,
           |         CAST(bm - floor(4.0 * gb / n + 0.5) AS BIGINT) AS bm
           |  FROM pg$k)""".stripMargin
      }.mkString(",\n")
      ClassifierFitCtes + s"""
        |, scored AS MATERIALIZED (
        |  SELECT f2.doc_id, f2.y, 1.0 / (1.0 + exp(-(x1 * (w1m / 1000000.0) +
        |    x2 * (w2m / 1000000.0) + x3 * (w3m / 1000000.0) +
        |    x4 * (w4m / 1000000.0) + bm / 1000000.0))) AS p
        |  FROM f2 CROSS JOIN w${QualityClassifier.Iters}),
        |sc AS MATERIALIZED (
        |  SELECT round(p, 4) AS score, CAST(y AS BIGINT) AS y FROM scored),
        |pn AS MATERIALIZED (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS np,
        |         CAST(((sum(y) + 1) * 1000000) // (sum(y) + 2) AS BIGINT) AS tp,
        |         CAST(1000000 // (count(*) - sum(y) + 2) AS BIGINT) AS tn
        |  FROM sc),
        |scb AS MATERIALIZED (
        |  SELECT CAST(floor(score * 10000 + 0.5) AS BIGINT) AS sci,
        |         CAST(CASE WHEN y = 1 THEN pn.tp ELSE pn.tn END AS DOUBLE)
        |           / 1000000.0 AS tt
        |  FROM sc CROSS JOIN pn),
        |pl0 AS (SELECT CAST(0 AS BIGINT) AS am, CAST(0 AS BIGINT) AS bm),
        |$iters
        |SELECT pn.n, pn.np AS n_pos, pn.tp AS t_pos_micro,
        |       pn.tn AS t_neg_micro, f.am AS a_micro, f.bm AS b_micro
        |FROM pn CROSS JOIN pl${QualityClassifier.PlattIters} f""".stripMargin
    }),
    // Isotonic calibration (PAV via the minimax closed form) of the
    // same scored relation: monotone calibrated probabilities per
    // score bin, all integral micros — the proper recalibration step
    // after the reliability curve shows miscalibration.
    QuerySpec("classifier_isotonic", (s, d) => {
      val docs = table(s, d, "documents")
      QualityClassifier.isotonic(
        QualityClassifier.score(docs, "doc_id", "text", clsModel(s, d)),
        "score", "rule_label")
    },
      // PAV minimax replay on the bin grid: prefix sums, O(B²) interval
      // rates as integral micros, then max-of-min per bin.
      (ClassifierFitCtes + s"""
        |, scored AS (
        |  SELECT f2.doc_id, f2.y, 1.0 / (1.0 + exp(-(x1 * (w1m / 1000000.0) +
        |    x2 * (w2m / 1000000.0) + x3 * (w3m / 1000000.0) +
        |    x4 * (w4m / 1000000.0) + bm / 1000000.0))) AS p
        |  FROM f2 CROSS JOIN w${QualityClassifier.Iters}),
        |sc AS (SELECT round(p, 4) AS score, CAST(y AS BIGINT) AS y FROM scored),
        |b AS (SELECT CAST(least(floor(score * 20), 19) AS INT) AS bin, y FROM sc),
        |pb AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(y) AS BIGINT) AS n_pos
        |  FROM b GROUP BY 1),
        |pre AS (
        |  SELECT bin, n, n_pos,
        |         CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cc,
        |         CAST(sum(n_pos) OVER (ORDER BY bin) AS BIGINT) AS cp
        |  FROM pb),
        |lo AS (SELECT bin AS i, cc - n AS cc0, cp - n_pos AS cp0 FROM pre),
        |hi AS (SELECT bin AS j, cc AS ccj, cp AS cpj FROM pre),
        |pairs AS (
        |  SELECT i, j, (1000000 * (cpj - cp0)) // (ccj - cc0) AS avg_micro
        |  FROM lo JOIN hi ON i <= j),
        |ks AS (SELECT bin AS k FROM pb),
        |m1 AS (SELECT k, i, min(avg_micro) AS m1
        |       FROM pairs JOIN ks ON i <= k AND k <= j GROUP BY 1, 2),
        |iso AS (SELECT k, CAST(max(m1) AS BIGINT) AS iso_micro FROM m1 GROUP BY 1)
        |SELECT pb.bin, pb.n, pb.n_pos,
        |       (1000000 * pb.n_pos) // pb.n AS rate_micro,
        |       iso.iso_micro
        |FROM pb JOIN iso ON iso.k = pb.bin ORDER BY bin""".stripMargin)),
    // Murphy decomposition of the Brier score over the same scored
    // relation — brier = reliability − resolution + uncertainty, all
    // micro-BIGINTs from denominator-cleared integer algebra (scores
    // enter 4-dp-exact). The one-number-per-concern card behind the
    // calibration curve: can scores be sampling weights (reliability)
    // and do they carry signal at all (resolution)?
    QuerySpec("classifier_brier", (s, d) => {
      val docs = table(s, d, "documents")
      QualityClassifier.brierDecomposition(
        QualityClassifier.score(docs, "doc_id", "text", clsModel(s, d)),
        "score", "rule_label")
    },
      // Calibration card rebuilt on the oracle's own classifier refit:
      // same integer-quantized scores, same decile binning, same
      // integer-weighted ECE.
      (ClassifierFitCtes + s"""
        |, scored AS (
        |  SELECT f2.doc_id, f2.y, 1.0 / (1.0 + exp(-(x1 * (w1m / 1000000.0) +
        |    x2 * (w2m / 1000000.0) + x3 * (w3m / 1000000.0) +
        |    x4 * (w4m / 1000000.0) + bm / 1000000.0))) AS p
        |  FROM f2 CROSS JOIN w${QualityClassifier.Iters}),
        |sc AS (SELECT round(p, 4) AS score, CAST(y AS BIGINT) AS y FROM scored),
        |b AS (
        |  SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin,
        |         CAST(y AS HUGEINT) AS y,
        |         CAST(floor(score * 10000 + 0.5) AS HUGEINT) AS p4
        |  FROM sc),
        |pb AS (
        |  SELECT bin, CAST(count(*) AS HUGEINT) AS n_b, sum(y) AS y_b,
        |         sum(p4) AS s_b,
        |         sum((p4 - 10000 * y) * (p4 - 10000 * y)) AS se_b
        |  FROM b GROUP BY 1),
        |t AS (
        |  SELECT sum(n_b) AS n, sum(y_b) AS y_tot, sum(se_b) AS se,
        |         sum(((s_b - 10000 * y_b) * (s_b - 10000 * y_b)) // n_b)
        |           AS rel_num
        |  FROM pb),
        |r AS (
        |  SELECT sum(((y_b * (SELECT n FROM t) - (SELECT y_tot FROM t) * n_b) *
        |              (y_b * (SELECT n FROM t) - (SELECT y_tot FROM t) * n_b))
        |             // n_b) AS res_num
        |  FROM pb)
        |SELECT CAST(t.n AS BIGINT) AS n,
        |       CAST(t.se // (100 * t.n) AS BIGINT) AS brier_micro,
        |       CAST(t.rel_num // (100 * t.n) AS BIGINT) AS reliability_micro,
        |       CAST((1000000 * r.res_num) // (t.n * t.n * t.n) AS BIGINT)
        |         AS resolution_micro,
        |       CAST((1000000 * t.y_tot * (t.n - t.y_tot)) // (t.n * t.n)
        |            AS BIGINT) AS uncertainty_micro
        |FROM t, r""".stripMargin))
  )
}
