package graft.operators

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

class EvaluationSpec extends SparkFunSuite {

  // ------------------------------------------------------------- AUC

  test("aucExact: perfect separation = 1, anti-separation = 0") {
    import spark.implicits._
    val df = Seq(
      ("g", 0L, 10L), ("g", 0L, 20L), ("g", 1L, 30L), ("g", 1L, 40L),
      ("h", 1L, 10L), ("h", 1L, 20L), ("h", 0L, 30L), ("h", 0L, 40L))
      .toDF("grp", "label", "score")
    val r = Evaluation.aucExact(df, "grp", "label", "score")
      .collect().map(x => x.getString(0) -> x.getDouble(3)).toMap
    assert(r("g") === 1.0)
    assert(r("h") === 0.0)
  }

  test("aucExact: midrank tie handling matches the hand-computed statistic") {
    import spark.implicits._
    // scores: pos {3, 2}, neg {2, 1}. The tie at 2 spans one pos and
    // one neg. Pairs: (3>2)=1, (3>1)=1, (2~2)=0.5, (2>1)=1 → 3.5/4.
    val df = Seq((1L, 3L), (1L, 2L), (0L, 2L), (0L, 1L))
      .toDF("label", "score").withColumn("grp", lit("g"))
    val r = Evaluation.aucExact(df, "grp", "label", "score").collect()
    assert(r.head.getDouble(3) === 0.875)
    assert(r.head.getLong(1) === 2L && r.head.getLong(2) === 2L)
  }

  test("aucDeLong: hand-computed placements, variance, and degenerate NULL") {
    import spark.implicits._
    // pos {3, 5}, neg {1, 2, 4}: V10 = {2/3, 1}, V01 = {0, 0, 1/2};
    // θ = 5/6, S10 = 1/18, S01 = 1/12 → Var = 1/36 + 1/36 = 1/18
    val df = Seq((1L, 3L), (1L, 5L), (0L, 1L), (0L, 2L), (0L, 4L))
      .toDF("label", "score").withColumn("grp", lit("g"))
    val r = Evaluation.aucDeLong(df, "grp", "label", "score").collect().head
    assert(r.getLong(1) === 2L && r.getLong(2) === 3L)
    assert(r.getLong(3) === 833333L)         // ⌊10⁶·5/6⌋
    assert(r.getLong(4) === 55555555554L)    // ⌊10¹²/36⌋·2 pieces
    // consistency with the point estimate
    val auc = Evaluation.aucExact(df, "grp", "label", "score")
      .collect().head.getDouble(3)
    assert(auc === 0.833333)
    // m = 1: variance undefined → NULL, auc still defined
    val tiny = Seq((1L, 3L), (0L, 1L), (0L, 2L))
      .toDF("label", "score").withColumn("grp", lit("g"))
    val t = Evaluation.aucDeLong(tiny, "grp", "label", "score").collect().head
    assert(t.getLong(3) === 1000000L)
    assert(t.isNullAt(4))
  }

  test("aucExact: single-class group yields NULL, never NaN") {
    import spark.implicits._
    val df = Seq((1L, 3L), (1L, 2L)).toDF("label", "score")
      .withColumn("grp", lit("g"))
    val r = Evaluation.aucExact(df, "grp", "label", "score").collect()
    assert(r.head.isNullAt(3))
  }

  // ----------------------------------------------------------- kappa

  test("cohensKappa: perfect agreement = 1; Cohen's 1960 worked example") {
    import spark.implicits._
    val perfect = Seq(("a", "a"), ("b", "b"), ("a", "a"))
      .toDF("r1", "r2").withColumn("grp", lit("g"))
    val k1 = Evaluation.cohensKappa(perfect, "grp", "r1", "r2").collect()
    assert(k1.head.getDouble(3) === 1.0)
    // classic 2x2: 20 agree-A, 15 agree-B, 5 A/B, 10 B/A of 50:
    // po = 35/50; marginals a=(25,25), b=(30,20) → pe = (750+500)/2500
    // kappa = (0.7 - 0.5)/(1 - 0.5) = 0.4
    val rows = Seq.fill(20)(("A", "A")) ++ Seq.fill(15)(("B", "B")) ++
      Seq.fill(5)(("A", "B")) ++ Seq.fill(10)(("B", "A"))
    val df = rows.toDF("r1", "r2").withColumn("grp", lit("g"))
    val k2 = Evaluation.cohensKappa(df, "grp", "r1", "r2").collect()
    assert(k2.head.getDouble(3) === 0.4)
    assert(k2.head.getLong(1) === 50L && k2.head.getLong(2) === 35L)
  }

  test("cohensKappa: degenerate identical single-class raters -> NULL") {
    import spark.implicits._
    val df = Seq(("a", "a"), ("a", "a")).toDF("r1", "r2")
      .withColumn("grp", lit("g"))
    val r = Evaluation.cohensKappa(df, "grp", "r1", "r2").collect()
    assert(r.head.isNullAt(3))
  }

  test("cohensKappa: a class used by only one rater contributes 0 to pe") {
    import spark.implicits._
    // r1 uses {a,b}, r2 uses {a,c}: pe_num = na_a*nb_a = 2*2 = 4 only
    val df = Seq(("a", "a"), ("a", "a"), ("b", "c"), ("b", "c"))
      .toDF("r1", "r2").withColumn("grp", lit("g"))
    val r = Evaluation.cohensKappa(df, "grp", "r1", "r2").collect()
    // n=4, agree=2, pe=4: (16-... kappa = (4*2-4)/(16-4) = 4/12
    assert(r.head.getDouble(3) === 0.333333)
  }

  // --------------------------------------------------- Bradley–Terry

  test("bradleyTerry: strengths order by dominance; invariants hold") {
    import spark.implicits._
    // 2 beats 1 in 8/10 games, 1 beats 0 in 8/10, 2 beats 0 in 9/10
    val games =
      Seq.fill(8)((2L, 1L)) ++ Seq.fill(2)((1L, 2L)) ++
        Seq.fill(8)((1L, 0L)) ++ Seq.fill(2)((0L, 1L)) ++
        Seq.fill(9)((2L, 0L)) ++ Seq.fill(1)((0L, 2L))
    val r = Evaluation.bradleyTerry(games.toDF("w", "l"), "w", "l")
      .orderBy("rnk").collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(2L, 1L, 0L))
    assert(r.map(_.getLong(4)).toSeq === Seq(1L, 2L, 3L))
    // games per item: 0 played 20, 1 played 20, 2 played 20
    assert(r.map(_.getLong(2)).forall(_ === 20L))
    assert(r.map(_.getLong(1)).sum === 30L) // every game has one winner
    // normalization keeps the strength mass near K * scale (floor slack)
    val mass = r.map(_.getLong(3)).sum
    assert(mass <= 3L * Evaluation.BtScale && mass > 3L * Evaluation.BtScale - 10)
    // strengths strictly separate at this dominance
    assert(r(0).getLong(3) > r(1).getLong(3) &&
      r(1).getLong(3) > r(2).getLong(3))
  }

  test("bradleyTerry: never-winning item pins to strength 0") {
    import spark.implicits._
    val games = Seq.fill(5)((1L, 0L)) ++ Seq.fill(3)((2L, 0L)) ++
      Seq.fill(4)((1L, 2L)) ++ Seq.fill(4)((2L, 1L))
    val r = Evaluation.bradleyTerry(games.toDF("w", "l"), "w", "l")
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(r(0L) === 0L)
    assert(r(1L) > 0L && r(2L) > 0L)
  }

  test("bradleyTerry: driver replay and distributed MM rounds agree") {
    import spark.implicits._
    // pairCollectGate=0 forces the distributed DECIMAL(38,0) rounds —
    // the above-gate path for huge item universes; default takes the
    // driver BigInt replay. Both must produce the identical trajectory.
    val rnd = new scala.util.Random(11)
    val games = Seq.fill(300)((rnd.nextInt(7).toLong, rnd.nextInt(7).toLong))
      .filter(p => p._1 != p._2)
    val viaDriver = Evaluation.bradleyTerry(games.toDF("w", "l"), "w", "l")
      .orderBy("item").collect().toSeq
    spark.conf.set("spark.graft.bt.pairCollectGate", "0")
    val viaDistributed =
      try Evaluation.bradleyTerry(games.toDF("w", "l"), "w", "l")
        .orderBy("item").collect().toSeq
      finally spark.conf.unset("spark.graft.bt.pairCollectGate")
    assert(viaDistributed === viaDriver)
  }

  test("bradleyTerry: distributed rounds stay exact when n_ij * 1e12 passes Long.MaxValue") {
    // 9.3e6 games between items 0 and 1 (7:3), so n_01 * BtFactor is
    // 9.3e18 > Long.MaxValue; item 2 plays 1000 games against both.
    val games = spark.range(9300000L).select(
        when(col("id") % 10 < 7, 0L).otherwise(1L).as("w"),
        when(col("id") % 10 < 7, 1L).otherwise(0L).as("l"))
      .union(spark.range(1000L).select(lit(2L).as("w"), (col("id") % 2).as("l")))
    def run() = Evaluation.bradleyTerry(games, "w", "l").orderBy("item").collect().toSeq
    val viaDriver = run()
    // a gate of 1 pair row sends the 6 pair rows to the distributed branch
    spark.conf.set("spark.graft.bt.pairCollectGate", "1")
    val viaDistributed = try run() finally spark.conf.unset("spark.graft.bt.pairCollectGate")
    assert(viaDriver.map(_.getLong(2)) === Seq(9300500L, 9300500L, 1000L))
    assert(viaDistributed === viaDriver)
  }

  test("bradleyTerry: deterministic across partitionings") {
    import spark.implicits._
    val games = (0L until 200L)
      .map(i => (i % 5, (i * 3 + 1) % 5)).filter(p => p._1 != p._2)
    val a = Evaluation.bradleyTerry(
      games.toDF("w", "l").repartition(1), "w", "l")
      .orderBy("item").collect().toSeq
    val b = Evaluation.bradleyTerry(
      games.toDF("w", "l").repartition(7), "w", "l")
      .orderBy("item").collect().toSeq
    assert(a === b)
  }

  // ------------------------------------------- confident learning

  test("confidentLearningCard: clean confident labels are all diagonal") {
    import spark.implicits._
    val df = Seq(
      ("g", 1L, 0.9), ("g", 1L, 0.8), ("g", 0L, 0.1), ("g", 0L, 0.2))
      .toDF("grp", "yt", "p")
    val r = Evaluation.confidentLearningCard(df, "grp", "p", "yt")
      .collect().head
    // t1 = mean(.9,.8) = .85 -> only .9 qualifies for 1; t0 = mean(.9,.8
    // of p0) = .85 -> only .9 (p=.1) qualifies for 0; both diagonal
    assert(r.getAs[Long]("c01") === 0L && r.getAs[Long]("c10") === 0L)
    assert(r.getAs[Long]("c11") === 1L && r.getAs[Long]("c00") === 1L)
    assert(r.getAs[Long]("unassigned") === 2L)
    assert(r.getAs[Long]("est_errors") === 0L)
  }

  test("confidentLearningCard: a confidently mislabeled row lands off-diagonal") {
    import spark.implicits._
    // labeled 0 but the model is sure it is 1 (p = .95 >= t1)
    val df = Seq(
      ("g", 1L, 0.9), ("g", 1L, 0.9), ("g", 0L, 0.95),
      ("g", 0L, 0.05), ("g", 0L, 0.05))
      .toDF("grp", "yt", "p")
    val r = Evaluation.confidentLearningCard(df, "grp", "p", "yt")
      .collect().head
    assert(r.getAs[Long]("c01") === 1L)
    assert(r.getAs[Long]("est_errors") === 1L)
    assert(r.getAs[Long]("c00") === 2L && r.getAs[Long]("c11") === 2L)
  }

  test("confidentLearningCard: exact midpoint 2*p1 = 1e4 ties to class 1") {
    import spark.implicits._
    // p = .5 qualifies for both classes when thresholds allow; the
    // argmax midpoint rule must pin class 1 deterministically
    val df = Seq(("g", 1L, 0.5), ("g", 0L, 0.5)).toDF("grp", "yt", "p")
    val r = Evaluation.confidentLearningCard(df, "grp", "p", "yt")
      .collect().head
    // t1 = t0 = .5 -> every row double-qualifies -> all assigned to 1
    assert(r.getAs[Long]("c11") === 1L && r.getAs[Long]("c01") === 1L)
    assert(r.getAs[Long]("c00") === 0L && r.getAs[Long]("c10") === 0L)
  }

  // --------------------------------------------------------- McNemar

  test("mcnemarCard: discordant cells, correction, significance gate") {
    import spark.implicits._
    // truth all 1; A right on 60, B right on 30 of those 60 plus 10
    // others -> b = 30 (A right, B wrong), c = 10
    val rows =
      (1 to 30).map(_ => ("g", 1L, 1L, 1L)) ++  // both right
      (1 to 30).map(_ => ("g", 1L, 1L, 0L)) ++  // A right, B wrong (b)
      (1 to 10).map(_ => ("g", 1L, 0L, 1L)) ++  // A wrong, B right (c)
      (1 to 5).map(_ => ("g", 1L, 0L, 0L))      // both wrong
    val r = Evaluation.mcnemarCard(
      rows.toDF("grp", "y", "pa", "pb"), "grp", "y", "pa", "pb")
      .collect().head
    assert(r.getAs[Long]("b") === 30L && r.getAs[Long]("c") === 10L)
    // chi2 = (|30-10|-1)^2/40 = 361/40 = 9.025 -> 9025000 micro
    assert(r.getAs[Long]("chi2_micro") === 9025000L)
    assert(r.getAs[Boolean]("significant_05"))
  }

  test("mcnemarCard: b = c clamps to 0; no disagreement reports 0") {
    import spark.implicits._
    val tied = (1 to 5).flatMap(_ =>
      Seq(("g", 1L, 1L, 0L), ("g", 1L, 0L, 1L)))
    val r1 = Evaluation.mcnemarCard(
      tied.toDF("grp", "y", "pa", "pb"), "grp", "y", "pa", "pb")
      .collect().head
    assert(r1.getAs[Long]("chi2_micro") === 0L) // |b-c|=0 -> clamp
    assert(!r1.getAs[Boolean]("significant_05"))
    val agree = (1 to 8).map(_ => ("g", 1L, 1L, 1L))
    val r2 = Evaluation.mcnemarCard(
      agree.toDF("grp", "y", "pa", "pb"), "grp", "y", "pa", "pb")
      .collect().head
    assert(r2.getAs[Long]("b") === 0L && r2.getAs[Long]("c") === 0L)
    assert(r2.getAs[Long]("chi2_micro") === 0L)
  }
}
