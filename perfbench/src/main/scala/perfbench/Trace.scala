package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Per-layer counters taken from outside the program, through Spark's
 * public listener APIs only: a `SparkListener` (jobs, stages, tasks and
 * their TaskMetrics), a `QueryExecutionListener` (each action's
 * `tracker.phases` and `tracker.rules`) and a `StreamingQueryListener`
 * (micro-batches). An untraced run registers none of them; a traced run
 * registers the SQL and streaming ones through session confs, so that
 * child sessions report too, and they forward only while a trace is
 * active.
 *
 * Listener events arrive asynchronously. The Spark and SQL listeners share
 * one bus queue, so once an action's query-execution event has arrived,
 * every job and task event of that action has arrived too; callers use
 * [[Trace.awaitQueries]] as that barrier before taking a snapshot.
 */
final class Trace private (spark: SparkSession) {
  import Trace._

  private val c = new Counters
  private val qes = new AtomicLong
  private val queries = mutable.ArrayBuffer.empty[QuerySample]
  private val buildJobs = new AtomicLong

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      c.jobs.incrementAndGet()
      val sub = Option(e.properties).map(_.getProperty(SubPhase)).orNull
      if (sub == "build") buildJobs.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      c.stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      c.tasks.incrementAndGet()
      val info = e.taskInfo
      if (info != null && info.failed) c.failedTasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs.addAndGet(m.executorRunTime)
        c.taskCpuNs.addAndGet(m.executorCpuTime)
        if (info != null) {
          val overhead = m.executorDeserializeTime + m.resultSerializationTime
          val delay = info.duration - overhead - m.executorRunTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
          c.schedDelayMs.addAndGet(math.max(0L, delay))
        }
        c.inputRows.addAndGet(m.inputMetrics.recordsRead)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.peakMem.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
      }
    }
  }

  private[perfbench] def record(qe: QueryExecution, durationNs: Long): Unit = {
    val t = qe.tracker
    def phase(p: String) = t.phases.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble)
      .getOrElse(0.0)
    val graft = t.rules.filter(_._1.startsWith("graft.plans"))
    val sample = QuerySample(phase("analysis"), phase("optimization"),
      phase("planning"), durationNs / 1e6,
      graft.values.map(_.totalTimeNs).sum / 1e6,
      graft.values.map(_.numInvocations).sum,
      graft.values.map(_.numEffectiveInvocations).sum)
    queries.synchronized(queries += sample)
    qes.incrementAndGet()
  }

  private[perfbench] def progress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    c.batches.incrementAndGet()
    c.batchMs.addAndGet(Option(e.progress.durationMs.get("triggerExecution"))
      .map(_.longValue()).getOrElse(0L))
    c.streamRows.addAndGet(e.progress.numInputRows)
  }

  /** Block until `n` query-execution events in total have arrived. */
  def awaitQueries(n: Long, timeoutMs: Long = 10000): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (qes.get() < n && System.currentTimeMillis() < end) Thread.sleep(1)
  }

  def queryCount: Long = qes.get()

  /** Block until no listener event has arrived for `quietMs`. */
  def quiesce(quietMs: Long = 100, timeoutMs: Long = 10000): Unit = {
    def state = (qes.get(), c.jobs.get(), c.tasks.get(), c.batches.get())
    val end = System.currentTimeMillis() + timeoutMs
    var last = state
    var since = System.currentTimeMillis()
    while (System.currentTimeMillis() - since < quietMs && System.currentTimeMillis() < end) {
      Thread.sleep(10)
      val now = state
      if (now != last) { last = now; since = System.currentTimeMillis() }
    }
  }

  /** Query-execution samples recorded since index `from`. */
  def queriesSince(from: Int): Seq[QuerySample] = queries.synchronized(queries.drop(from).toSeq)
  def queryIndex: Int = queries.synchronized(queries.length)

  def snapshot(): Snapshot = Snapshot(c.values + ("proc.read_bytes" -> readBytes()), buildJobs.get())

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    Trace.active = null
  }
}

object Trace {
  /** Bytes this process has read through read()/pread() (`rchar` in
    * /proc/self/io). Parquet's vectored reads run on pool threads that
    * TaskMetrics' thread-local input counters do not see, so this is the
    * input-volume measure; 0 where /proc is not readable. */
  def readBytes(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().collectFirst { case l if l.startsWith("rchar:") =>
        l.split("\\s+")(1).toLong }.getOrElse(0L)
      finally src.close()
    } catch { case _: java.io.IOException => 0L }

  /** Local property naming the sub-phase (`build` / `exec`) of the op
    * running on the calling thread; jobs inherit it. */
  val SubPhase = "perfbench.sub"

  /** The trace the session listeners report to; null when not tracing. */
  @volatile private[perfbench] var active: Trace = null

  /** Static session confs that register [[QueryTap]] and [[StreamTap]]
    * in every session, child sessions (`newSession()`) included. */
  val SessionConfs: Map[String, String] = Map(
    "spark.sql.queryExecutionListeners" -> classOf[QueryTap].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamTap].getName)

  def install(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t.sparkListener)
    active = t
    t
  }

  /** Run `f` with the calling thread's jobs tagged as `sub`. */
  def tagged[T](spark: SparkSession, sub: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(SubPhase, sub)
    try f finally sc.setLocalProperty(SubPhase, null)
  }

  final case class QuerySample(analysisMs: Double, optimizationMs: Double,
      planningMs: Double, execMs: Double, graftRuleMs: Double, graftRuleInv: Long,
      graftRuleEff: Long)

  private final class Counters {
    val jobs, stages, tasks, failedTasks, taskRunMs, taskCpuNs, schedDelayMs, inputRows,
      shuffleWrite, shuffleRead, spill, peakMem, batches, batchMs,
      streamRows = new AtomicLong
    def values: Map[String, Long] = Map(
      "exec.jobs" -> jobs.get, "exec.stages" -> stages.get, "exec.tasks" -> tasks.get,
      "exec.failed_tasks" -> failedTasks.get, "exec.task_run_ms" -> taskRunMs.get,
      "exec.task_cpu_ns" -> taskCpuNs.get, "exec.scheduler_delay_ms" -> schedDelayMs.get,
      "exec.input_rows" -> inputRows.get,
      "exec.shuffle_write_bytes" -> shuffleWrite.get,
      "exec.shuffle_read_bytes" -> shuffleRead.get, "exec.spill_bytes" -> spill.get,
      "exec.peak_exec_mem_bytes" -> peakMem.get, "streaming.batches" -> batches.get,
      "streaming.batch_ms" -> batchMs.get, "streaming.input_rows" -> streamRows.get)
  }

  /** Cumulative counters at one instant; `-` gives the work in between
    * (the peak-memory entry stays a running maximum). */
  final case class Snapshot(values: Map[String, Long], buildJobs: Long) {
    def -(o: Snapshot): Snapshot = Snapshot(values.map { case (k, v) =>
      k -> (if (k == "exec.peak_exec_mem_bytes") v else v - o.values(k))
    }, buildJobs - o.buildJobs)
    def apply(k: String): Double = values(k).toDouble
  }

  /** GC time/count and heap high-water mark over a measured span. */
  final class Jvm {
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    private val gcMs0 = gcs.map(_.getCollectionTime).sum
    private val gcN0 = gcs.map(_.getCollectionCount).sum
    heap.foreach(_.resetPeakUsage())
    def metrics: Seq[Bench.Metric] = Seq(
      Bench.Metric("jvm.gc_ms", (gcs.map(_.getCollectionTime).sum - gcMs0).toDouble, "ms"),
      Bench.Metric("jvm.gc_count", (gcs.map(_.getCollectionCount).sum - gcN0).toDouble, "count"),
      Bench.Metric("jvm.heap_peak_mb",
        heap.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0), "MB"))
  }

  /** Per-op means of the execution counters in `d`, over `ops` ops. */
  def execMetrics(d: Snapshot, ops: Int, resultRows: Double): Seq[Bench.Metric] = {
    def per(k: String) = d(k) / ops
    Seq(
      Bench.Metric("exec.jobs", per("exec.jobs"), "count"),
      Bench.Metric("exec.stages", per("exec.stages"), "count"),
      Bench.Metric("exec.tasks", per("exec.tasks"), "count"),
      Bench.Metric("exec.task_run_ms", per("exec.task_run_ms"), "ms"),
      Bench.Metric("exec.task_cpu_ms", per("exec.task_cpu_ns") / 1e6, "ms"),
      Bench.Metric("exec.scheduler_delay_ms", per("exec.scheduler_delay_ms"), "ms"),
      Bench.Metric("exec.input_rows", per("exec.input_rows"), "count"),
      Bench.Metric("exec.input_bytes", per("proc.read_bytes"), "bytes"),
      Bench.Metric("exec.rows_examined_per_result",
        if (resultRows > 0) d("exec.input_rows") / resultRows else 0.0, "ratio"),
      Bench.Metric("exec.shuffle_write_bytes", per("exec.shuffle_write_bytes"), "bytes"),
      Bench.Metric("exec.shuffle_read_bytes", per("exec.shuffle_read_bytes"), "bytes"),
      Bench.Metric("exec.spill_bytes", per("exec.spill_bytes"), "bytes"),
      Bench.Metric("exec.peak_exec_mem_bytes", d("exec.peak_exec_mem_bytes"), "bytes"),
      Bench.Metric("exec.failed_tasks", d("exec.failed_tasks"), "count"),
      Bench.Metric("streaming.batches", per("streaming.batches"), "count"),
      Bench.Metric("streaming.input_rows", per("streaming.input_rows"), "count"))
  }

  /** Catalyst phase medians and graft-rule totals over query samples. */
  def catalystMetrics(qs: Seq[QuerySample]): Seq[Bench.Metric] = {
    def med(f: QuerySample => Double) = if (qs.isEmpty) 0.0 else Stats.median(qs.map(f))
    Seq(
      Bench.Metric("catalyst.analysis_ms", med(_.analysisMs), "ms"),
      Bench.Metric("catalyst.optimization_ms", med(_.optimizationMs), "ms"),
      Bench.Metric("catalyst.planning_ms", med(_.planningMs), "ms"))
  }

  /** Report rows for the `graft.plans.*` optimizer rules over `qs`. */
  def graftRuleRows(qs: Seq[QuerySample]): Seq[(String, Double, String)] = {
    val inv = qs.map(_.graftRuleInv).sum
    Seq(
      ("plans.graft_rule_ms", Stats.mean(qs.map(_.graftRuleMs)), "ms/query"),
      ("plans.graft_rule_invocations", inv.toDouble, "count"),
      ("plans.graft_rule_effective_ratio",
        if (inv == 0) 0.0 else qs.map(_.graftRuleEff).sum.toDouble / inv, "ratio"))
  }
}

/** Forwards each session's query-execution events to the active trace. */
final class QueryTap extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Option(Trace.active).foreach(_.record(qe, durationNs))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Option(Trace.active).foreach(_.record(qe, 0L))
}

/** Forwards each session's streaming progress to the active trace. */
final class StreamTap extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Option(Trace.active).foreach(_.progress(e))
}
