package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: flagship entry + queries/oracles consistency. */
class SparkEntrySpec extends SparkFunSuite {

  test("entry: flagship cosine top-4 on sf0.001 returns rows (driver smoke)") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length === 4)
    assert(rows.head.getString(0) === "0") // self-match first
  }

  test("sql_rollup_rewrite driver row is served from the summary, not the base") {
    val df = SparkEntry.queries("sql_rollup_rewrite")(spark, Sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_rollup_sum"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains("graft_rollup_base"), s"base still scanned:\n$plan")
  }

  test("sql_rollup_time_rewrite is served by re-truncating the hourly summary") {
    val df = SparkEntry.queries("sql_rollup_time_rewrite")(spark, Sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_rolltime_sum"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains("graft_rolltime_base"), s"base still scanned:\n$plan")
  }

  test("all queries run at sf0.001 and return rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, Sf0001).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("bitext candidates cross join is BROADCAST (the de side never shuffles the en side)") {
    // the driver row's candidate shape, pre-checkpoint (the final
    // marginPairs plan reads the materialized candidates, so the
    // join must be asserted where it lives)
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val a = docs.filter(col("lang") === "en").select(col("doc_id").as("x_id"))
      .join(emb.select(col("vec_id").as("x_id"), col("embedding").as("xv")), "x_id")
    val b = docs.filter(col("lang") === "de").select(col("doc_id").as("y_id"))
      .join(emb.select(col("vec_id").as("y_id"), col("embedding").as("yv")), "y_id")
    val plan = a.crossJoin(broadcast(b)).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"candidate join not broadcast:\n$plan")
  }

  test("no query output column is DecimalType (driver dtype contract)") {
    // The driver reads the Spark parquet with pandas (decimal128 ->
    // object Decimal) but materializes the DuckDB oracle via .df()
    // (DECIMAL -> float64): equal values, different dtype, different
    // hash (r8: stats_incremental.sumsq_v). Decimals are for internal
    // accumulation only; outputs must be long/double/string.
    import org.apache.spark.sql.types.{DecimalType, StructField}
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      fn(spark, Sf0001).schema.fields.collect {
        case StructField(f, _: DecimalType, _, _) => s"$name.$f"
      }
    }
    assert(offenders.isEmpty,
      s"decimal-typed output columns (hash-unstable in the driver): $offenders")
  }
}
