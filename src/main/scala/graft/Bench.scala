package graft

import org.apache.spark.sql.SparkSession

/**
 * Per-round benchmark main: runs every `SparkEntry.queries` entry on
 * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
 *
 * Each query is materialized through the `noop` sink — a real
 * distributed write that executes the full plan (including ORDER BY:
 * unlike `count()`, the noop write does not let Catalyst's
 * EliminateSorts delete the sort). There is NO separate warmup pass
 * (dropped in r15): rep 1 is cold — it pays JVM/codegen/fixture
 * costs — and min-of-K absorbs that, with K decided from the warm
 * second rep. Failures are reported (stderr + negative duration),
 * never swallowed.
 *
 * Output discipline: the harness that collects this output keeps only
 * the LAST ~2000 characters of stdout, so the stdout JSON line must
 * stay well under that (values rounded to ms, no secondary maps, and a
 * headline-only fallback if the query set grows too large). The
 * full-precision measurements — including the second, 10×-smaller
 * scale and the per-query scaling factors sec(big)/sec(small), the
 * cheapest local proxy for "would this plan survive a scale-up" — are
 * written to `BENCH_DETAIL.json` in the working directory instead.
 */
object Bench {
  /** Per-query override of the 10×-step scaling bound (default 12.0):
    * list a query here only with a documented cost class that differs
    * from "≤ O(n log n) in data size". Batch plans are all in that
    * class, so batch entries would declare a regression; the eight
    * end-to-end STREAMING rows are the opposite case — their cost is
    * dominated by scale-INVARIANT micro-batch machinery (trigger setup,
    * state-store open/commit, no-data watermark batches), measured
    * ratios 0.9–1.3 on the 10× step. Their bound is pinned at 3.0 so a
    * real state-store or join-state regression (a 3–4× jump) alerts
    * instead of hiding under the generic 12× data-scaling allowance. */
  private val ExpectedScaling: Map[String, Double] = Seq(
    "events_streamed_parity", "events_dedup_streamed",
    "events_join_streamed", "events_outer_join_streamed",
    "events_enrich_streamed", "events_sessions_streamed",
    "events_sessions_tws", "events_upsert_streamed",
    "events_totals_streamed", "events_update_streamed",
    "events_warmstart_streamed", "events_mapstate_streamed")
    .map(_ -> 3.0).toMap

  /** Always-isolated watchlist, beyond the slowest-8: queries whose
    * sweep times drifted 1.3–1.5× in the r7→r8 suite growth while
    * their isolated times held — recording sweep AND isolated for
    * these each round adjudicates "plan regressed" vs "shared-JVM
    * suite got bigger" without a manual re-run. */
  private val IsolatedWatchlist: Seq[String] = Seq(
    "knn_graph", "sim_join_lsh", "orders_salted_join", "tpch_q1_pricing",
    // r15 addition: sweep readings swing 3.5–5.7 s while isolated
    // min-of-3 holds 4.3–4.8 across JVMs (SCALING.md r15 cluster
    // note) — record both every round so the next drift self-adjudicates
    "classifier_nb_cv",
    // r17 addition (VERDICT r16 item 5): the streamed family drifted
    // +20–60% driver-to-driver for two rounds with no code change;
    // record sweep AND isolated for the two worst so the drift
    // self-adjudicates as environment vs plan.
    "events_mapstate_streamed", "events_join_streamed")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          e.printStackTrace()
          -1.0
      }
    }

    // Same PARTIAL-run escape hatch as Verify: a subset bench is for
    // iterating on one row's plan, never for the round artifact.
    val only = Verify.onlyRows("bench", "timing", "This is a PARTIAL bench.")

    def timedPass(dir: String, subSecReps: Int = 3,
        skip: Set[String] = Set.empty): Seq[(String, Double)] = {
      val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .filterNot { case (name, _) => skip.contains(name) }
      // No separate warmup pass (dropped in r15 — it was ~6 min/scale
      // of pure repetition): min-of-k ALREADY absorbs every cold cost
      // rep 1 pays — JVM/codegen/scan setup, per-sf offline artifacts
      // (index builds, fixture caches) — because the min comes from a
      // later, warm rep. The r14 driver gate outgrew its time cap;
      // this and the cuts below are what brought it back.
      //
      // Noise discipline. The r5 sweep produced phantom per-query
      // outliers (4×+ vs the same query isolated in BenchOne): 75
      // queries of accumulated session state meant a heavy neighbor's
      // garbage + broadcast-cleanup backlog was charged to whoever ran
      // next. Countermeasures, judged against isolated runs:
      //  - System.gc() before a query's rep group WHEN THE PREVIOUS
      //    query was heavy (≥ 0.5 s measured — the only neighbors
      //    whose garbage backlog is worth flushing; 848 unconditional
      //    collections were minutes of the r14 gate). Cached fixture
      //    tables (IVF assignments, bucketed stores) are deliberately
      //    NOT cleared — they are offline artifacts, not per-query
      //    state.
      //  - min of K timed reps: sweep noise is strictly one-sided
      //    (a rep is only ever slower than the plan's true cost), so
      //    min is the estimator that converges on the isolated number.
      //    K is ADAPTIVE: sub-second rows keep min-of-3 (noise is
      //    proportionally large, extra reps are cheap); rows ≥ 1 s get
      //    min-of-2 (noise is proportionally small against ≥ 1 s of
      //    real work, and every slow row is re-adjudicated by the
      //    isolated min-of-3 anyway).
      var prevCost = Double.MaxValue // gc before the very first query
      ordered.map { case (name, fn) =>
        if (prevCost >= 0.5) System.gc()
        val first = run(name, (s, _) => fn(s, dir))
        val second = run(name, (s, _) => fn(s, dir))
        // K is decided from the WARM rep: rep 1 also pays one-time
        // fixture writes + codegen now that the warmup pass is gone, so
        // a row that is sub-second warm but ≥ 1 s cold must not rest its
        // min on a single warm sample with no noise rejection.
        val times =
          if (subSecReps >= 3 &&
              (second >= 0 && second < 1.0 || second < 0 && first < 1.0))
            Seq(first, second, run(name, (s, _) => fn(s, dir)))
          else Seq(first, second)
        prevCost = times.filter(_ >= 0).maxOption.getOrElse(Double.MaxValue)
        name -> (if (times.forall(_ < 0)) -1.0 else times.filter(_ >= 0).min)
      }
    }
    def toJson(results: Seq[(String, Double)], fmt: Double => String): String =
      results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val full: Double => String = v => v.toString
    val ms: Double => String = v => (math.rint(v * 1000) / 1000).toString

    val results = timedPass(sfDir)
    val total = results.map(_._2).filter(_ >= 0).sum

    // Isolated re-measurement of the slowest queries. Sweep numbers for
    // sub-~2 s queries run ~1.5× hot under full-suite load (r6's
    // sim_join_label read 1.44 s in the sweep vs 0.914 s in a fresh
    // BenchOne), so each round's apparent regressions needed a manual
    // re-run to adjudicate. Record the adjudication IN the artifact:
    // after the sweep, settle the session (double GC around a drain
    // pause for the ContextCleaner's reference queue) and re-time each
    // of the slowest queries back-to-back with nothing else running —
    // the same discipline BenchOne applies, minus the fresh JVM. A
    // sweep/isolated ratio > 2 is flagged as "isolated_alerts": the
    // sweep number for that query is load, not plan cost.
    // top-6 (was top-8 through r14): the gate outgrew the driver's
    // time cap, ranks 7–8 were adjudicating sub-3 s rows at ~36
    // isolated runs per round across both scales, and the watchlist
    // below still covers the historically drift-prone rows.
    val slowest6 = results.filter(_._2 > 0).sortBy(-_._2).take(6).map(_._1)
    val byName = results.toMap
    val isolatedSet = (slowest6 ++
      IsolatedWatchlist.filter(n => byName.get(n).exists(_ > 0))).distinct
    val isolated = isolatedSet
      .map { case name =>
        val sweepSec = byName(name)
        System.gc(); Thread.sleep(250); System.gc()
        val fn = SparkEntry.queries(name)
        val times = Seq.fill(3)(run(s"isolated:$name", (s, _) => fn(s, sfDir)))
        val iso = if (times.forall(_ < 0)) -1.0 else times.filter(_ >= 0).min
        (name, sweepSec, iso)
      }
    val isolatedJson = isolated.map { case (name, sweep, iso) =>
      val ratio = if (iso > 0) math.rint(sweep / iso * 100) / 100 else -1.0
      "\"" + name + s"""":{"sweep":$sweep,"isolated":$iso,"sweep_over_isolated":$ratio}"""
    }.mkString("{", ",", "}")
    val isolatedAlerts = isolated.collect {
      case (name, sweep, iso) if iso > 0 && sweep / iso > 2.0 =>
        "\"" + name + "\":" + (math.rint(sweep / iso * 100) / 100)
    }.mkString("{", ",", "}")

    // Isolated pin for the scaling gate: rows slow enough to be
    // re-measured isolated use min(sweep, isolated) as their big-side
    // time. The r10/r11 `eval_chrf` verdict flip-flopped purely on
    // sweep weather (14.7–40.4 s across runs of identical plans); the
    // isolated min-of-3 is the reproducible estimator of plan cost, so
    // the alert verdict should be computed from it whenever available.
    val isoPin = isolated.collect {
      case (name, _, iso) if iso > 0 => name -> iso
    }.toMap

    // Second, 10×-smaller scale when available, for the scaling report.
    val smallDir = Seq("sf0.1" -> "sf0.01", "sf0.01" -> "sf0.001").collectFirst {
      case (big, small) if sfDir.endsWith(big) =>
        sfDir.substring(0, sfDir.length - big.length) + small
    }.filter(d => new java.io.File(d).isDirectory)
    val smallDetail = smallDir.map { dir =>
      // Two provable small-pass budget cuts (the r16 insurance against
      // the driver's wall-clock cap; r14 was killed at it):
      //  - Rows under 0.25 s on the BIG side are skipped entirely: the
      //    small side never measures below ~0.04 s on this box, so
      //    their big/small ratio is bounded by ~6 — the 12× gate can
      //    NEVER fire for them, and their ratio is reported null.
      //  - The small pass keeps min-of-2 even for sub-second rows: its
      //    only consumer is the scaling DENOMINATOR (isolated-pinned
      //    for every adjudicated row), where min-of-2 noise is dwarfed
      //    by the gate's 12× headroom over the ~5.7 measured maxima.
      // Rows with a pinned per-row bound (the 3.0 streamed rows) are
      // never skipped: their tighter gate has less headroom than the
      // generic-12× proof assumes.
      val skipSmall = results
        .filter { case (name, v) =>
          v >= 0 && v < 0.25 && !ExpectedScaling.contains(name) }
        .map(_._1).toSet
      val smallResults = timedPass(dir, subSecReps = 2, skip = skipSmall)
      // Enforce the proof's premise instead of assuming it: the skip is
      // sound only while the small-side floor stays above 0.25/12 s. If
      // a faster box (or a smaller scale pair) ever undercuts it, say so
      // loudly — the skipped rows' ratios would need a no-skip re-run.
      smallResults.map(_._2).filter(_ > 0).minOption
        .filter(_ < 0.25 / 12.0)
        .foreach(floor => System.err.println(
          f"[bench] WARNING: small-side floor $floor%.4f s undercuts the " +
            "0.25/12 skip premise — re-run without the sub-0.25 s skip " +
            "to re-check the skipped rows' scaling"))
      val smallByName = smallResults.toMap
      // Symmetric pin: the isolated min-of-3 is applied to BOTH sides of
      // the ratio. Pinning only the big side (the r12 behavior) is an
      // asymmetric estimator — it systematically lowers reported ratios
      // (fast big side vs sweep-loaded small side) and can mask exactly
      // the super-linear regression the gate exists to catch, so every
      // query that earned a big-side isolated re-run gets the same
      // re-run at the small scale.
      val isoPinSmall = isolatedSet
        .filter(n => smallByName.get(n).exists(_ > 0))
        .map { name =>
          System.gc(); Thread.sleep(250); System.gc()
          val fn = SparkEntry.queries(name)
          val times = Seq.fill(3)(run(s"isolated_small:$name", (s, _) => fn(s, dir)))
          name -> (if (times.forall(_ < 0)) -1.0 else times.filter(_ >= 0).min)
        }.collect { case (n, t) if t > 0 => n -> t }.toMap
      val ratios = results.map { case (name, big) =>
        val pinned = isoPin.get(name).map(math.min(big, _)).getOrElse(big)
        name -> (smallByName.get(name) match {
          case Some(small) if small > 0 && pinned >= 0 =>
            val smallPinned =
              isoPinSmall.get(name).map(math.min(small, _)).getOrElse(small)
            Some(math.rint(pinned / smallPinned * 100) / 100)
          case _ => None
        })
      }
      val scaling = ratios.map { case (name, r) =>
        "\"" + name + "\":" + r.fold("null")(_.toString)
      }.mkString("{", ",", "}")
      // Scaling regression gate: every query's expected class at a 10×
      // data step is at most O(n log n), so sec(big)/sec(small) must
      // stay under EXPECTED_SCALING (default 12 = 10× rows + log-factor
      // and fixed-overhead slack; measured r5 maxima were ~4×). A ratio
      // above the bound is either a plan regression (something went
      // superlinear — the r5 phantom events_range_join 13.9× is the
      // shape this catches) or sweep noise, and both demand a look:
      // alerts surface in BENCH_DETAIL.json as "scaling_alerts".
      val alerts = ratios.collect {
        case (name, Some(r)) if r > ExpectedScaling.getOrElse(name, 12.0) =>
          "\"" + name + "\":" + r
      }.mkString("{", ",", "}")
      s""","queries_small":${toJson(smallResults, full)},"sf_small":"$dir"""" +
        s""","scaling":$scaling,"scaling_alerts":$alerts"""
    }.getOrElse("")

    // Full-precision detail (both scales + scaling factors) → file.
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${toJson(results, full)},"sf":"$sfDir"""" +
        s""","isolated":$isolatedJson,"isolated_alerts":$isolatedAlerts$smallDetail}"""
    // A PARTIAL run must never clobber the committed full-sweep artifact.
    if (only.isEmpty) {
      try {
        val out = java.nio.file.Paths.get("BENCH_DETAIL.json")
        java.nio.file.Files.write(out, detail.getBytes("UTF-8"))
        System.err.println(s"[bench] detail written to ${out.toAbsolutePath}")
      } catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    } else System.err.println("[bench] partial run — BENCH_DETAIL.json not written")

    // Compact stdout line, guaranteed to fit the harness's 2000-char
    // output tail (with headroom for the trailing sbt status line). If
    // the full per-query map is too long, fall back to the slowest
    // queries only — total always covers every query.
    val totalStr = (math.rint(total * 1000) / 1000).toString
    def line(qs: Seq[(String, Double)], note: String): String =
      s"""{"metric":"total","value":$totalStr,"unit":"sec","queries":${toJson(qs, ms)},"sf":"$sfDir"$note}"""
    val fullLine = line(results, "")
    val compact =
      if (fullLine.length <= 1700) fullLine
      else {
        val slowest = results.sortBy(-_._2).take(30).sortBy(_._1)
        line(slowest, s""","note":"slowest 30 of ${results.size}; all in BENCH_DETAIL.json"""")
      }
    println(compact)
    spark.stop()
  }
}
