package graft.operators

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
    val sample = spark.read.parquet(s"$Sf0001/documents.parquet")
      .orderBy("doc_id").limit(5).select("doc_id")
    val (w, jobs) = jobsRunBy(Fanout.widen(sample))
    assert(jobs === 0, "widen must not execute anything to read the partition count")
    // and the widened plan still computes the right rows, once
    assert(w.count() === 5)
  }

  test("widen fans a persisted one-split input out, with zero jobs") {
    val cached = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select(length(col("text")).as("n")).persist()
    try {
      val (w, jobs) = jobsRunBy(Fanout.widen(cached))
      assert(jobs === 0, "widen must not fill the cache to read its layout")
      assert(w.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
      assert(w.agg(sum("n")).first().getLong(0) === cached.agg(sum("n")).first().getLong(0))
    } finally cached.unpersist()
  }
}
