package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Label-quality and ranking-quality evaluation for training-data
 * pipelines — the measurement side of the corpus the engine curates
 * (reference scope: the search API ranks candidates,
 * `/root/reference/app.py:113-161`; a pipeline that mines labels and
 * preference pairs from those rankings needs to grade them).
 *
 * All three metrics are exact-integer until one final division:
 *  - [[aucExact]]: ROC-AUC via the Mann–Whitney rank-sum statistic
 *    with midrank tie handling (Hanley & McNeil 1982), computed from
 *    per-score-value counts — never a per-row global sort.
 *  - [[cohensKappa]]: inter-annotator agreement (Cohen 1960) from the
 *    confusion marginals.
 *  - [[bradleyTerry]]: pairwise-preference strengths (Bradley & Terry
 *    1952) via Hunter's (2004) MM iteration, run on a micro-integer
 *    grid so every engine reproduces the fixed point of the truncated
 *    iteration bit-for-bit.
 *
 * Shape at 100 TB: each metric first collapses the raw relation
 * scan-locally — AUC to one row per (group, distinct score), kappa to
 * one row per (group, class), Bradley–Terry to one row per ordered
 * item pair — and all downstream arithmetic runs on those slim
 * relations. Nothing driver-side; no unpartitioned windows (AUC's
 * cumulative window partitions by the group key).
 */
object Evaluation {

  /**
   * Exact ROC-AUC per group. `labelCol` must be 0/1 (long-castable),
   * `scoreCol` integral (quantize scores to a micro grid upstream —
   * floats would make tie structure engine-dependent).
   *
   * AUC = (R⁺ − P(P+1)/2) / (P·N) where R⁺ is the positive class's
   * rank sum under midranks. Doubling clears the half-integers:
   * 2·midrank of a tie bucket = 2·cum − cnt + 1 (cum = inclusive
   * cumulative count in score order), so
   * AUC = (Σ pos·(2·cum − cnt + 1) − P(P+1)) / (2·P·N) — all BIGINT
   * until the one division. NULL when a group lacks both classes.
   *
   * The distinct-score relation is what shuffles (bounded by the
   * score grid, not row count); the cumulative window partitions by
   * `groupCol`.
   */
  def aucExact(
      df: DataFrame, groupCol: String, labelCol: String,
      scoreCol: String): DataFrame = {
    val byScore = df.groupBy(col(groupCol), col(scoreCol).as("__s"))
      .agg(count(lit(1)).as("cnt"),
        sum(col(labelCol).cast("long")).as("pos"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__s").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore
      .withColumn("cum", sum(col("cnt")).over(w))
      .groupBy(col(groupCol))
      .agg(
        sum(col("pos")).as("n_pos"),
        (sum(col("cnt")) - sum(col("pos"))).as("n_neg"),
        sum(col("pos") * (lit(2) * col("cum") - col("cnt") + lit(1)))
          .as("__r2"))
      .select(col(groupCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round((col("__r2") - col("n_pos") * (col("n_pos") + lit(1)))
            .cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc"))
  }

  /**
   * DeLong (1988) variance of the exact AUC — the error bar the
   * rank-sum point estimate needs before two classifiers can be
   * compared honestly. Per positive i, the placement V10_i = fraction
   * of negatives ranked below it (midranks); S10 = sample variance of
   * the placements; Var(AUC) = S10/m + S01/n.
   *
   * Everything rides integer grids: doubled placements
   * `p2⁺ = 2·(negatives below) + (negatives tied)` are exact BIGINTs
   * per distinct score, θ clears to U2 = Σ pos·p2⁺ (so
   * auc_micro = ⌊5·10⁵·U2 / (m·n)⌋), and the centered squares clear
   * denominators to `(p2⁺·m − U2)²` summed in DECIMAL(38)/HUGEINT.
   * The reported `var_e12` is Var(AUC) in 10⁻¹² units:
   * ⌊10¹²·Σ10 / (4m³n²(m−1))⌋ + ⌊10¹²·Σ01 / (4m²n³(n−1))⌋ — exact
   * while m·n ≲ 10¹⁰ (the DECIMAL(38) headroom). Groups lacking two
   * members of either class emit NULL.
   *
   * Same slim shape as [[aucExact]]: one row per (group, distinct
   * score); the cumulative windows partition by the group key.
   */
  def aucDeLong(
      df: DataFrame, groupCol: String, labelCol: String,
      scoreCol: String): DataFrame = {
    val byScore = df.groupBy(col(groupCol), col(scoreCol).as("__s"))
      .agg(count(lit(1)).as("cnt"),
        sum(col(labelCol).cast("long")).as("pos"))
      .withColumn("neg", col("cnt") - col("pos"))
    val wb = Window.partitionBy(col(groupCol))
      .orderBy(col("__s").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val pl = byScore
      .withColumn("p2p",
        lit(2) * coalesce(sum(col("neg")).over(wb), lit(0L)) + col("neg"))
      .withColumn("p2n",
        lit(2) * coalesce(sum(col("pos")).over(wb), lit(0L)) + col("pos"))
    val tot = pl.groupBy(col(groupCol)).agg(
      sum(col("pos")).as("m"), sum(col("neg")).as("n"),
      sum(col("pos") * col("p2p")).as("u2"),
      sum(col("neg") * col("p2n")).as("u2n"))
    pl.join(tot, groupCol)
      .groupBy(col(groupCol), col("m"), col("n"), col("u2"), col("u2n"))
      .agg(
        sum(expr("CAST(pos AS DECIMAL(38,0)) * (p2p * m - u2) * (p2p * m - u2)"))
          .as("s10"),
        sum(expr("CAST(neg AS DECIMAL(38,0)) * (p2n * n - u2n) * (p2n * n - u2n)"))
          .as("s01"))
      .select(col(groupCol), col("m").as("n_pos"), col("n").as("n_neg"),
        when(col("m") > 0 && col("n") > 0,
          expr("(500000 * u2) div (m * n)")).as("auc_micro"),
        when(col("m") > 1 && col("n") > 1,
          expr("CAST((CAST(1000000000000 AS DECIMAL(38,0)) * s10) div " +
            "(CAST(4 AS DECIMAL(38,0)) * m * m * m * n * n * (m - 1)) + " +
            "(CAST(1000000000000 AS DECIMAL(38,0)) * s01) div " +
            "(CAST(4 AS DECIMAL(38,0)) * m * m * n * n * n * (n - 1)) AS BIGINT)"))
          .as("var_e12"))
  }

  /**
   * Cohen's kappa per group from two rater columns over the same
   * items. κ = (p_o − p_e)/(1 − p_e); clearing denominators,
   * κ = (n·agree − Σ_k a_k·b_k) / (n² − Σ_k a_k·b_k) with a_k, b_k
   * the per-class marginals — exact BIGINT until one division. NULL
   * when the raters are degenerate (denominator 0: both assign one
   * identical class).
   *
   * Marginals come from two slim per-(group, class) aggregates joined
   * full-outer on the class (a class used by only one rater
   * contributes 0) — the confusion matrix itself never materializes.
   */
  def cohensKappa(
      df: DataFrame, groupCol: String, raterA: String,
      raterB: String): DataFrame = {
    val base = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(when(col(raterA) === col(raterB), 1L).otherwise(0L)).as("agree"))
    val ma = df.groupBy(col(groupCol), col(raterA).as("__k"))
      .agg(count(lit(1)).as("a_k"))
    val mb = df.groupBy(col(groupCol), col(raterB).as("__k"))
      .agg(count(lit(1)).as("b_k"))
    val pe = ma.join(mb, Seq(groupCol, "__k"), "full_outer")
      .groupBy(col(groupCol))
      .agg(sum(coalesce(col("a_k"), lit(0L)) * coalesce(col("b_k"), lit(0L)))
        .as("pe_num"))
    base.join(pe, groupCol)
      .select(col(groupCol), col("n"), col("agree"),
        when(col("n") * col("n") =!= col("pe_num"),
          round((col("n") * col("agree") - col("pe_num")).cast("double") /
            (col("n") * col("n") - col("pe_num")).cast("double"), 6))
          .as("kappa"))
  }

  /**
   * Krippendorff's alpha (nominal data) over a (unit, value) ratings
   * relation — the agreement coefficient [[cohensKappa]] cannot be:
   * any number of raters per unit, missing ratings welcome (units
   * with fewer than 2 ratings are unpairable and drop out, the
   * standard treatment). Coincidence-matrix form:
   *
   *   α = 1 − (n−1) · Σ_u d_u/(m_u−1) / Σ_{c≠k} n_c·n_k
   *
   * with m_u ratings on unit u, d_u = m_u(m_u−1) − Σ_c m_uc(m_uc−1)
   * its ordered disagreeing pairs, n = Σ m_u pairable ratings and n_c
   * the category marginals over pairable units.
   *
   * Determinism: the only non-integer term is Σ_u d_u/(m_u−1) — a
   * rational sum whose double accumulation would be partition-order
   * dependent. Each unit's term is floored onto the 10⁻¹² grid
   * instead ((10¹²·d_u) div (m_u−1), exact DECIMAL), summed exactly,
   * and the single α division runs once on the totals, rounded 6 dp —
   * identical in the SQL replay. α is NULL when expected disagreement
   * is zero (every rating one category — Krippendorff leaves it
   * undefined).
   *
   * Shape at 100 TB: one (unit, value) count aggregate (map-side
   * combinable), one unit-level reduce, one |categories|-row marginal
   * — the ratings relation never self-joins.
   *
   * Output: one row (n_units, n_ratings, do_scaled, de_pairs, alpha).
   * Reporting bound: α itself is computed from the exact DECIMALs,
   * but the `do_scaled`/`de_pairs` REPORT columns are BIGINT —
   * do_scaled saturates its 10¹² grid past ~9·10⁶ fully-disagreeing
   * pairable ratings and de_pairs past ~3·10⁹ ratings; beyond that
   * read α and drop the diagnostics (or re-grid), the same documented
   * report-column bound as the χ²→log-odds switch in
   * [[NaiveBayes]]-adjacent cards.
   */
  def krippendorffAlpha(
      ratings: DataFrame, unitCol: String, valueCol: String): DataFrame = {
    val uc = ratings
      .filter(col(unitCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(unitCol).as("__u"), col(valueCol).as("__c"))
      .agg(count(lit(1)).as("__m"))
      .localCheckpoint(true)
    val perUnit = uc.groupBy("__u")
      .agg(sum("__m").as("__mu"),
        sum(col("__m") * (col("__m") - 1)).as("__agree2"))
      .filter(col("__mu") >= 2)
    val s = perUnit
      .select(col("__mu"),
        expr("""(CAST(1000000000000 AS DECIMAL(38,0)) *
               | (__mu * (__mu - 1) - __agree2)) div (__mu - 1)"""
          .stripMargin.replace("\n", " ")).as("__term"))
      .agg(count(lit(1)).as("n_units"), sum("__mu").as("n_ratings"),
        sum(col("__term").cast("decimal(38,0)")).as("__S"))
    val de = uc.join(perUnit.select("__u"), "__u")
      .groupBy("__c").agg(sum("__m").as("__nc"))
      .agg(sum(expr("CAST(__nc AS DECIMAL(38,0)) * __nc")).as("__snc2"),
        sum("__nc").as("__n"))
      .select((expr("CAST(__n AS DECIMAL(38,0)) * __n") - col("__snc2"))
        .as("__de2"))
    s.crossJoin(broadcast(de))
      .select(col("n_units").cast("long").as("n_units"),
        col("n_ratings").cast("long").as("n_ratings"),
        col("__S").cast("long").as("do_scaled"),
        col("__de2").cast("long").as("de_pairs"),
        when(col("__de2") > 0,
          round(lit(1.0) -
            ((col("n_ratings") - 1).cast("double") *
              col("__S").cast("double")) /
              (lit(1.0e12) * col("__de2").cast("double")), 6))
          .as("alpha"))
  }

  /** Micro-integer scale for Bradley–Terry strengths. */
  val BtScale = 1000000L
  /** Fixed-point factor for the MM denominator terms (strengths are
    * micro, so a term n/(p_i+p_j) carries ~1e-6 resolution ⇒ 1e12
    * keeps six significant digits after the division). */
  val BtFactor = 1000000000000L

  private val Dec38 = org.apache.spark.sql.types.DecimalType(38, 0)

  /** ⌊a / b⌋ for a non-negative DECIMAL(38,0) `a` and a positive integral
    * `b`, kept in DECIMAL(38,0) (`div` returns BIGINT): `a − a % b` is a
    * multiple of `b`, so the decimal division is exact. */
  private def truncDiv(a: Column, b: Column): Column = ((a - a % b) / b).cast(Dec38)

  /**
   * Bradley–Terry strengths from a preference log via `iters` rounds
   * of Hunter's MM update p_i ← W_i / Σ_j n_ij/(p_i+p_j), normalized
   * each round to mean [[BtScale]]. Every quantity is integral:
   * products run in DECIMAL(38,0) (BIGINT would wrap once pair counts
   * pass ~9·10⁶ at the 1e12 factor) and divisions are exact floors,
   * so the truncated iteration's fixed sequence is engine-independent
   * — the determinism contract that lets a DPO-pair mining job grade
   * its preference data identically everywhere.
   *
   * Input: one row per game, `winnerCol`/`loserCol` item ids (any
   * orderable type). Output: (item, wins, games, strength_micro,
   * rnk) — rnk by strength desc then item asc. Items that never win
   * keep strength 0 after round 1 (W_i = 0 is the MM fixed point).
   *
   * Shape at 100 TB: the game log collapses scan-locally to the
   * ordered-pair count relation (≤ K² rows for K items). When that
   * relation fits driver memory (`spark.graft.bt.pairCollectGate`
   * rows; set 0 to force distributed) it — like the K strengths — is
   * driver model state, so all `iters` MM rounds replay on the driver
   * with exact BigInt arithmetic (one collect total, no per-round
   * jobs); above the gate the rounds run as distributed DECIMAL(38,0)
   * aggregates with broadcast strength maps, identical trajectory.
   */
  def bradleyTerry(
      prefs: DataFrame, winnerCol: String, loserCol: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = prefs.sparkSession
    // ordered-pair counts, then symmetrize: n_ij = games between i, j.
    // The slim relations PERSIST across rounds (a lineage that chains
    // the raw-scan aggregate through every round re-reads the
    // preference log per round — measured 8 s vs sub-second at sf0.1);
    // the K strength values are driver model state between rounds,
    // the KMeansExact/QualityClassifier fit-boundary convention.
    val dir = prefs.groupBy(col(winnerCol).as("i"), col(loserCol).as("j"))
      .agg(count(lit(1)).as("w"))
    // one explode, not unionAll(dir, dir-reversed): the union form
    // derives the preference-log aggregate once per branch
    val nsym = dir.select(explode(array(
        struct(col("i"), col("j"), col("w")),
        struct(col("j").as("i"), col("i").as("j"), col("w")))).as("__e"))
      .select(col("__e.i").as("i"), col("__e.j").as("j"), col("__e.w").as("w"))
      .groupBy("i", "j").agg(sum("w").as("n_ij"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wins = nsym.join(
        dir.groupBy("i").agg(sum("w").as("wins")), Seq("i"), "left")
      .groupBy("i").agg(
        first(coalesce(col("wins"), lit(0L))).as("wins"),
        sum("n_ij").as("games"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val itemType = nsym.schema("i").dataType
      val pSchema = StructType(Seq(
        StructField("__pk", itemType), StructField("p", LongType)))
      val winsRows = wins.select("i", "wins").collect()
      val items = winsRows.map(_.get(0)).toSeq
      val winsM = winsRows.map(r => r.get(0) -> r.getLong(1)).toMap
      val k = items.length
      // The MM rounds need only the ≤ K² pair-count relation and the K
      // strengths. When the pair relation fits driver memory
      // (`spark.graft.bt.pairCollectGate` rows, the broadcast-analogue
      // sizing; K models ⇒ ≤ K² rows, so the gate only fails for very
      // many items), collect nsym ONCE and replay the rounds on the
      // driver — one job instead of a broadcast-join + collect per
      // round. Arithmetic is identical: DECIMAL(38,0) `div` is exact
      // truncated division of positive integers ≡ BigInt `/`, the
      // per-i term sums accumulate in BigInt (a Long would silently
      // wrap past n_ij ~9e6 games at the 1e12 factor — the corner the
      // DECIMAL(38,0) path handles exactly), and the denominator is
      // consumed as BigInt so no narrowing ever wraps. greatest(…, 1)
      // guards the all-zero-strength corner (two never-winning items
      // playing each other). Above the gate the distributed MM rounds
      // run (broadcast strengths + a DECIMAL(38,0) floor-division sum
      // per round, read back as BigInt); both paths are pinned equal
      // in EvaluationSpec.
      val pairGate = spark.conf
        .get("spark.graft.bt.pairCollectGate", "262144").toLong
      val driverReplay = pairGate > 0 && nsym.count() <= pairGate
      var p: Map[Any, Long] = items.map(_ -> BtScale).toMap
      if (driverReplay) {
        val pairRows = nsym.collect()
          .map(r => (r.get(0), r.get(1), r.getLong(2)))
        for (_ <- 1 to iters) {
          val denom = new scala.collection.mutable.HashMap[Any, BigInt]()
          pairRows.foreach { case (i, j, nIj) =>
            val term = BigInt(nIj) * BtFactor / BigInt(math.max(p(i) + p(j), 1L))
            denom.update(i, denom.getOrElse(i, BigInt(0)) + term)
          }
          val praw = items.map { it =>
            val d = denom.getOrElse(it, BigInt(0))
            it -> (if (d > 0) (BigInt(winsM(it)) * BtFactor / d).toLong else 0L)
          }.toMap
          val tot = praw.values.map(BigInt(_)).sum
          p = items.map { it =>
            it -> (if (tot > 0) (BigInt(praw(it)) * k * BtScale / tot).toLong
                   else 0L)
          }.toMap
        }
      } else {
        for (_ <- 1 to iters) {
          val pRound = spark.createDataFrame(
            spark.sparkContext.parallelize(
              items.map(it => Row(it, p(it))), 1), pSchema)
          val denom = nsym
            .join(broadcast(pRound.select(col("__pk").as("i"), col("p").as("p_i"))), "i")
            .join(broadcast(pRound.select(col("__pk").as("j"), col("p").as("p_j"))), "j")
            .groupBy("i")
            .agg(sum(truncDiv(
              col("n_ij").cast(Dec38) * lit(BtFactor),
              greatest(col("p_i") + col("p_j"), lit(1L)))).as("denom"))
            .collect()
            .map(r => r.get(0) -> BigInt(r.getDecimal(1).toBigIntegerExact)).toMap
          val praw = items.map { it =>
            val d = denom.getOrElse(it, BigInt(0))
            it -> (if (d > 0) (BigInt(winsM(it)) * BtFactor / d).toLong else 0L)
          }.toMap
          val tot = praw.values.map(BigInt(_)).sum
          p = items.map { it =>
            it -> (if (tot > 0) (BigInt(praw(it)) * k * BtScale / tot).toLong
                   else 0L)
          }.toMap
        }
      }
      val pDf = spark.createDataFrame(
        spark.sparkContext.parallelize(
          items.map(it => Row(it, p(it))), 1), pSchema)
      val w = Window.partitionBy(Retrieval.singlePartitionKey(col("item")))
        .orderBy(col("strength_micro").desc, col("item").asc)
      wins.join(broadcast(pDf.withColumnRenamed("__pk", "i")), "i")
        .select(col("i").as("item"), col("wins"), col("games"),
          col("p").as("strength_micro"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        // materialize before the finally-unpersist drops the inputs
        .localCheckpoint(eager = true)
    } finally { nsym.unpersist(); wins.unpersist() }
  }

  /**
   * Confident-learning label-noise card (Northcutt, Jiang & Chuang,
   * JAIR 2021) for BINARY labels: estimate which rows of a noisily
   * labeled corpus are mislabeled, from the labels and a classifier's
   * probabilities alone. Class thresholds are the per-class mean
   * self-confidences t_j = E[p_j | ỹ=j]; a row joins confident-joint
   * cell C[ỹ][j] when p_j ≥ t_j (both-qualify → argmax, the exact
   * 2·p1 ≥ 10⁴ midpoint tying to class 1; neither → unassigned). The
   * off-diagonal mass is the label-error estimate that drives
   * relabel/drop queues in a labeling pipeline.
   *
   * Determinism: `probCol` must be a 4-dp-rounded probability (the
   * [[QualityClassifier]] score convention) — `floor(p·10⁴ + 0.5)`
   * recovers exact integers, thresholds compare as cross-multiplied
   * rationals (p1·n1 ≥ Σp1, never a divided mean), so every verdict
   * is integer arithmetic.
   *
   * Shape at 100 TB: one aggregate to a 1-row global threshold
   * relation (broadcast back), one scan-local verdict projection, one
   * hash aggregate to the per-group card. Output per group: (n, c00,
   * c01, c10, c11, est_errors, unassigned).
   */
  /**
   * McNemar's paired test (McNemar 1947) per group — THE statistic
   * for "is model B actually better than model A on the same
   * examples": only the DISCORDANT pairs carry signal (b = A right,
   * B wrong; c = A wrong, B right), and the continuity-corrected
   * statistic (|b−c|−1)²/(b+c) is χ²₁-distributed under H₀ (≥ 3.84
   * ⇒ p < 0.05). Exact integers until one integral division to the
   * micro grid; b+c = 0 (no disagreements) reports 0. One scan-local
   * verdict projection, one hash aggregate per group.
   */
  def mcnemarCard(
      df: DataFrame, groupCol: String, truthCol: String,
      predACol: String, predBCol: String): DataFrame = {
    val aOk = col(predACol) === col(truthCol)
    val bOk = col(predBCol) === col(truthCol)
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(when(aOk && !bOk, 1L).otherwise(0L)).as("b"),
        sum(when(!aOk && bOk, 1L).otherwise(0L)).as("c"))
      .withColumn("chi2_micro",
        when(col("b") + col("c") > 0, expr(
          "(CAST(greatest(abs(b - c) - 1, 0) * greatest(abs(b - c) - 1, 0) " +
            "AS DECIMAL(38,0)) * 1000000) div (b + c)"))
          .otherwise(lit(0L)))
      .withColumn("significant_05", col("chi2_micro") >= 3841459L)
  }

  def confidentLearningCard(
      df: DataFrame, groupCol: String, probCol: String,
      noisyCol: String): DataFrame = {
    val base = df.select(
      col(groupCol),
      col(noisyCol).cast("long").as("yt"),
      floor(col(probCol) * 10000 + 0.5).cast("long").as("p1"))
      .withColumn("p0", lit(10000L) - col("p1"))
    val th = base.agg(
      coalesce(sum(when(col("yt") === 1, col("p1"))), lit(0L)).as("sum1"),
      count(when(col("yt") === 1, lit(1))).as("n1"),
      coalesce(sum(when(col("yt") === 0, col("p0"))), lit(0L)).as("sum0"),
      count(when(col("yt") === 0, lit(1))).as("n0"))
    val assigned = base.crossJoin(broadcast(th))
      .withColumn("q1", col("n1") > 0 && col("p1") * col("n1") >= col("sum1"))
      .withColumn("q0", col("n0") > 0 && col("p0") * col("n0") >= col("sum0"))
      .withColumn("cj",
        when(col("q1") && col("q0"),
          when(lit(2L) * col("p1") >= 10000L, 1L).otherwise(0L))
          .when(col("q1"), 1L)
          .when(col("q0"), 0L))
    def cell(i: Int, j: Int) =
      sum(when(col("yt") === i && col("cj") === j, 1L).otherwise(0L))
    assigned.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        cell(0, 0).as("c00"), cell(0, 1).as("c01"),
        cell(1, 0).as("c10"), cell(1, 1).as("c11"),
        sum(when(col("cj").isNull, 1L).otherwise(0L)).as("unassigned"))
      .withColumn("est_errors", col("c01") + col("c10"))
  }
}
