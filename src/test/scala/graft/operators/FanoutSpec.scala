package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkFunSuite

class FanoutSpec extends SparkFunSuite {

  test("widen fans a one-split scan out to default parallelism") {
    val df = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select(length(col("text")).as("n"))
    val w = Fanout.widen(df)
    assert(w.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    // values untouched — widen only moves rows
    assert(w.agg(sum("n")).first().getLong(0) ===
      df.agg(sum("n")).first().getLong(0))
  }

  test("widen is a no-op when the input is already wide") {
    val df = spark.range(0, 1000,
      1, spark.sparkContext.defaultParallelism * 2).toDF("id")
    assert(Fanout.widen(df) eq df)
  }

  test("widen decides without running any Spark job") {
    // The r16 probe (`df.rdd.getNumPartitions`) finalized the adaptive
    // plan, EXECUTING upstream shuffle stages just to read a count and
    // then re-running them in the repartitioned query. The decision
    // must now be metadata-only — even when the input plan contains a
    // global sort + limit (the selfBleu sample shape).
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sample = spark.read.parquet(s"$Sf0001/documents.parquet")
      .orderBy("doc_id").limit(5).select("doc_id")
    spark.sparkContext.addSparkListener(listener)
    try {
      val w = Fanout.widen(sample)
      // listener events are async; a short drain window suffices — any
      // real stage execution takes far longer than this to even start
      Thread.sleep(500)
      assert(jobs.get() === 0,
        "widen must not execute anything to read the partition count")
      // and the widened plan still computes the right rows, once
      assert(w.count() === 5)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("widen fans a persisted one-split input out, with zero jobs") {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val cached = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select(length(col("text")).as("n")).persist()
    spark.sparkContext.addSparkListener(listener)
    try {
      val w = Fanout.widen(cached)
      Thread.sleep(500)
      assert(jobs.get() === 0, "widen must not fill the cache to read its layout")
      assert(w.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
      assert(w.agg(sum("n")).first().getLong(0) === cached.agg(sum("n")).first().getLong(0))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      cached.unpersist()
    }
  }
}
