package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point, started by `perfbench/run.py`:
 *
 *   perfbench.Bench --workload <search_small|search_large|pipeline_mix>
 *                   --seed <n> --seconds <s> --trace <0|1> --work <dir>
 *
 * Prints human-readable report lines, then one `RESULT {...}` line with
 * every metric the run measured; `run.py` keeps the ones BENCHMARK.json
 * lists for the mode. The JVM always ends through `System.exit`, and a watchdog
 * halts it if the run overstays its deadline, so a hang in the program
 * (or a non-daemon thread it leaves behind) can never stall the caller.
 */
object Bench {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  /** One metric of the result line. */
  final case class Metric(name: String, value: Double, unit: String)

  /** What a workload hands back: its metrics, how many operations it
    * attempted, each failed or wrong one, and report lines printed ahead
    * of the result. */
  final case class Outcome(metrics: Seq[Metric], attempted: Long, failures: Seq[String],
      report: Seq[String])

  val Cpus: Int = Runtime.getRuntime.availableProcessors().min(4)

  def session(trace: Boolean = false): SparkSession = {
    val local = Paths.get(sys.props("java.io.tmpdir"), "spark-local")
    Files.createDirectories(local)
    val spark = graft.GraftSession.builder(s"local[$Cpus]", Cpus)
      .config("spark.local.dir", local.toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config(if (trace) Trace.SessionConfs else Map.empty[String, String])
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    // Hard stop: the caller's own timeout is 180 s; leave it room.
    val deadlineMs = 165000L
    val watchdog = new Thread(() => {
      try {
        Thread.sleep(deadlineMs)
        System.err.println(s"perfbench: run exceeded ${deadlineMs / 1000} s, halting")
        Runtime.getRuntime.halt(3)
      } catch { case _: InterruptedException => }
    }, "perfbench-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()

    val code =
      try {
        Files.createDirectories(args.work)
        val spark = session(args.trace)
        log("session up")
        // Kernel microbench first, in the same JIT state on every workload.
        val kernels = if (args.trace) Kernels.run(args.seed) else Nil
        val out = args.workload match {
          case "search_small" => Search.run(spark, args, Search.Small)
          case "search_large" => Search.run(spark, args, Search.Large)
          case "pipeline_mix" => Pipeline.run(spark, args)
          case w => throw new IllegalArgumentException(s"unknown workload '$w'")
        }
        log("workload done")
        out.report.foreach(println)
        out.failures.foreach(f => println(s"FAILED $f"))
        val rss = Metric("peak_rss_mb", peakRssMb(), "MB")
        println(f"  ${rss.name}%-40s ${rss.value}%14.4f MB (VmHWM of the run's JVM)")
        val metrics = out.metrics ++ kernels :+ rss
        val body = metrics.map { m =>
          s"${Json.str(m.name)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}}"
        }.mkString("{", ", ", "}")
        println(s"""RESULT {"correct": ${out.failures.isEmpty}, "attempted": ${out.attempted}, """ +
          s""""failed": ${out.failures.size}, "metrics": $body}""")
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    // Explicit exit: SearchHttpServer.stop() leaves its request pool's
    // non-daemon threads alive, which would otherwise keep the JVM up.
    System.exit(code)
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench [${(System.currentTimeMillis() - jvmStart) / 1000.0}%6.1f s] $msg")

  /** VmHWM of this process: the resident-set high-water mark. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Small statistics helpers; percentiles interpolate like numpy's default. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  /** Render `name value unit` report lines as one aligned block. */
  def table(title: String, rows: Seq[(String, Double, String)]): Seq[String] =
    s"== $title" +: rows.map { case (n, v, u) => f"  $n%-40s $v%14.4f $u" }
}
