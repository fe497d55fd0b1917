package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/**
 * A frozen mix of batch-pipeline rows from `graft.SparkEntry.queries`,
 * each built with `fn(spark, dir)` and materialized through the `noop`
 * write, one at a time, over a generated sf table set. One untimed warm
 * pass (part of set-up) fills the per-dir fixture caches and checks
 * every row's output against a pinned row count and order-insensitive
 * digest; timed passes then run all rows in a seeded order. A pass is
 * the workload's operation: latency is per pass, throughput per row.
 */
object Pipeline {

  /** Scale of the generated table set (lineitem = 6M x Sf rows). */
  val Sf = 0.01
  /** The table set is the same on every run, so its pins hold. */
  val DataSeed = 42L

  /** Row -> (row count, digest) of the output on the generated tables,
    * taken from this code's own output and cross-checked once against
    * the DuckDB oracle (see NOTES.md). */
  val Pins: Map[String, (Long, String)] = Map(
    "tpch_q9_product_profit" -> (175L, "b5a274773bdb4c30"),
    "recipe_to_batches" -> (270L, "d7b32a1cff0efbcb"),
    "corpus_curation" -> (452L, "b7ab1e0fde38c05d"),
    "events_upsert_streamed" -> (150L, "82da9192f7e1549d"),
    "knn_topk_batch" -> (32L, "c0005cf630506eba"))

  val Rows: Seq[String] = Seq("tpch_q9_product_profit", "recipe_to_batches",
    "corpus_curation", "events_upsert_streamed", "knn_topk_batch")

  /** Order-insensitive digest: the wrapping sum of a 64-bit hash of each
    * row's canonical text, doubles rounded to 6 significant digits. */
  def digest(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.6e"
      case f: Float => canon(f.toDouble)
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map(kv => canon(kv._1) + ":" + canon(kv._2))
        .sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case o => o.toString
    }
    var sum = 0L
    rows.foreach { r =>
      val bytes = canon(r).getBytes(UTF_8)
      var h = 0xCBF29CE484222325L
      bytes.foreach { b => h = (h ^ (b & 0xff)) * 0x100000001B3L }
      sum += DataGen.mix(h)
    }
    f"$sum%016x"
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, args: Bench.Args): Bench.Outcome = {
    val queries = graft.SparkEntry.queries
    val report = mutable.ArrayBuffer.empty[String]
    val failures = mutable.ArrayBuffer.empty[String]

    // Set-up: generate the table set, then the warm pass.
    val dir = args.work.resolve("sf").toString
    val g0 = System.nanoTime()
    DataGen.writeSfTables(spark, dir, DataSeed, Sf)
    val genS = (System.nanoTime() - g0) / 1e9
    Bench.log("tables written")
    var outRows = 0L
    val w0 = System.nanoTime()
    Rows.foreach { name =>
      try {
        val t0 = System.nanoTime()
        val out = queries(name)(spark, dir).collect()
        val got = digest(out)
        outRows += out.length
        report += f"  pin $name%-28s ${out.length}%8d $got ${(System.nanoTime() - t0) / 1e9}%.3f s"
        Pins.get(name) match {
          case Some((n, want)) if out.length == n && got == want =>
          case pin => failures += s"$name: pinned $pin, got ${out.length} / $got"
        }
      } catch {
        case e: Exception => failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    Bench.log("warm pass done")
    val setupS = genS + warmS

    // Timed passes over all rows, each in a seeded order: at least two,
    // and another only while it is expected to end within the time. One
    // pass is one operation of this workload.
    val times = mutable.LinkedHashMap(Rows.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val passes = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    while (passes.size < 2 || System.nanoTime() + (passes.last * 1e9).toLong <= deadline) {
      val order = scala.util.Random.javaRandomToRandom(
        new java.util.Random(DataGen.mix(args.seed + passes.size))).shuffle(Rows)
      var passNs = 0L
      order.foreach { name =>
        val t0 = System.nanoTime()
        try {
          noop(queries(name)(spark, dir))
          val dt = System.nanoTime() - t0
          passNs += dt
          times(name) += dt / 1e9
        } catch {
          case e: Exception => failures += s"$name (pass ${passes.size}): ${e.getMessage}"
        }
      }
      passes += passNs / 1e9
    }
    val attempted = Rows.size * (1L + passes.size)
    val passMs = passes.map(_ * 1000).toSeq
    val p50 = Stats.median(passMs)
    val p90 = Stats.pct(passMs, 0.9)
    val throughput = times.values.map(_.size).sum / passes.sum
    val rowS = times.map { case (n, ts) => n -> (if (ts.isEmpty) 0.0 else Stats.median(ts.toSeq)) }

    report.prependAll(Json.table(s"pipeline_mix end to end (seed ${args.seed}, sf $Sf, " +
      s"${Rows.size} rows, ${passes.size} timed passes)", Seq(
      ("setup_s", setupS, f"s (tables $genS%.3f + warm pass $warmS%.3f)"),
      ("pipeline_wall_s", p50 / 1000, "s (median pass: " + passes.map(p => f"$p%.3f").mkString(" ") + ")"),
      ("latency_p50_ms", p50, s"ms (one pass of all rows, n=${passes.size})"),
      ("latency_p90_ms", p90, "ms"),
      ("throughput_rows_per_s", throughput, "1/s"),
      ("error_rate", failures.size.toDouble / attempted, s"(${failures.size} of $attempted)")) ++
      rowS.toSeq.map { case (n, s) => (s"pipeline.row_s.$n", s, "s (median)") }))

    var metrics = Seq(
      Bench.Metric("setup_s", setupS, "s"),
      Bench.Metric("latency_p50_ms", p50, "ms"),
      Bench.Metric("latency_p90_ms", p90, "ms"),
      Bench.Metric("throughput_ops", throughput, "1/s"))

    if (args.trace) {
      val (m, lines) = traced(spark, queries, dir, passes.last, outRows)
      metrics = m
      report ++= lines
    }
    Bench.Outcome(metrics, attempted, failures.toSeq, report.toSeq)
  }

  /** One traced pass, right after the last untraced one (the tracing
    * overhead is the ratio of the two): per row, construction and the
    * write's tracker phases and execution, with the listeners' counters
    * in between. */
  private def traced(spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame], dir: String,
      untracedPassS: Double, outRows: Long)
      : (Seq[Bench.Metric], Seq[String]) = {
    val trace = Trace.install(spark)
    val jvm = new Trace.Jvm
    val s0 = trace.snapshot()
    val qi = trace.queryIndex
    val per = Rows.map { name =>
      val q0 = trace.queryIndex
      val t0 = System.nanoTime()
      val df = Trace.tagged(spark, "build")(queries(name)(spark, dir))
      val t1 = System.nanoTime()
      Trace.tagged(spark, "exec")(noop(df))
      val t2 = System.nanoTime()
      trace.quiesce()
      val write = trace.queriesSince(q0).lastOption
      (name, (t1 - t0) / 1e6, (t2 - t0) / 1e6, write)
    }
    val d = trace.snapshot() - s0
    val qs = trace.queriesSince(qi)
    trace.remove()
    val writes = per.flatMap(_._4)
    val wall = per.map(_._3)
    val build = per.map(_._2)
    // The write's listener duration spans its optimization, planning and
    // execution; execution proper is what remains after the two phases.
    val unaccounted = per.map { case (_, b, w, q) => w - b - q.map(_.execMs).getOrElse(0.0) }
    val metrics = Seq(
      Bench.Metric("entry.op_ms", Stats.median(wall), "ms"),
      Bench.Metric("entry.unaccounted_ms", Stats.median(unaccounted), "ms"),
      Bench.Metric("operators.build_ms", Stats.median(build), "ms"),
      Bench.Metric("operators.build_jobs", d.buildJobs.toDouble / Rows.size, "count"),
      Bench.Metric("exec.ms",
        Stats.median(writes.map(x => x.execMs - x.optimizationMs - x.planningMs)), "ms"),
      Bench.Metric("trace.overhead_ratio", wall.sum / 1000 / untracedPassS, "ratio")) ++
      Trace.catalystMetrics(writes) ++ Trace.execMetrics(d, Rows.size, outRows.toDouble) ++ jvm.metrics
    val lines = Json.table("pipeline_mix layers (one traced pass)", Seq(
      ("trace.pass_s", wall.sum / 1000, f"s (last untraced pass $untracedPassS%.4f)")) ++
      Trace.graftRuleRows(qs) ++
      Seq(("streaming.batch_ms", d("streaming.batch_ms") / Rows.size, "ms/row")) ++
      per.flatMap { case (n, b, w, q) => Seq(
        (s"row.$n.build_ms", b, "ms"),
        (s"row.$n.write_ms", w - b, f"ms (exec ${q.map(_.execMs).getOrElse(0.0)}%.1f)"))
      })
    (metrics, lines)
  }
}
