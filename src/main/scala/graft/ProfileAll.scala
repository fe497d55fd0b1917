package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/**
 * Overhead map for the whole suite: run every `SparkEntry.queries` row
 * once cold + once measured and record, per row, where the warm wall
 * time goes — DataFrame construction (`build_ms`, which includes any
 * jobs the row runs while building), planning (`plan_ms`:
 * analyze/optimize/plan), scheduled jobs, stages,
 * tasks, and the sum of task run time. On sf0.1 the data is tiny, so
 *   wall − Σtask/cores ≈ sequential overhead (stage barriers, codegen,
 *   driver planning)
 * and rows ranked by that gap are the ones where removing an Exchange
 * or an iteration buys real seconds — the guide's §1 "decide whether
 * the time is compute or coordination" step, automated for 434 rows.
 *
 * Usage: runMain graft.ProfileAll [sfDir] [out.tsv] [name,name,...]
 */
object ProfileAll {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/profile_all.tsv")
    val names = args.lift(2).map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskTimeMs.addAndGet(t.taskInfo.duration)
      }
    })

    val w = new java.io.PrintWriter(out)
    w.println("name\twall_s\tbuild_ms\tplan_ms\tjobs\tstages\ttasks\ttask_time_s\tovh_s")
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      try {
        // cold rep: fixture caches, codegen, scan setup
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        System.gc()
        // build: DataFrame construction, including any Spark jobs the
        // row runs while building; plan: analysis/optimization/planning
        val tBuild0 = System.nanoTime()
        val df = fn(spark, dir)
        val tPlan0 = System.nanoTime()
        df.queryExecution.executedPlan
        val tPlan1 = System.nanoTime()
        val buildMs = (tPlan0 - tBuild0) / 1e6
        val planMs = (tPlan1 - tPlan0) / 1e6
        Thread.sleep(150) // drain listener events from the cold rep
        jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0)
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(150) // let queued listener events land
        val tt = taskTimeMs.get / 1e3
        val ovh = wall - tt / cpus.toDouble
        val line = f"$name\t$wall%.3f\t$buildMs%.1f\t$planMs%.1f\t${jobs.get}\t${stages.get}\t${tasks.get}\t$tt%.2f\t$ovh%.3f"
        w.println(line); w.flush()
        System.err.println(s"[profile] $line")
      } catch {
        case e: Throwable =>
          w.println(s"$name\tFAILED\t${e.getMessage}"); w.flush()
      }
    }
    w.close()
    spark.stop()
  }
}
