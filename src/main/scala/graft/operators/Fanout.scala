package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec,
  RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/**
 * Scale-adaptive fan-out for kernel-bound plans.
 *
 * The bench fixtures are single-row-group parquet files, so a scan —
 * and everything narrow above it (projection kernels: chrF gram
 * counting, decimal sums, per-pair BLEU) — runs as ONE task no matter
 * how many cores the session has. At cluster scale the same tables
 * arrive as thousands of row groups and the scan parallelizes by
 * itself; the under-parallelism is a property of the INPUT LAYOUT,
 * not of the query, so the fix must be adaptive, not a constant.
 *
 * [[widen]] repartitions to the session's default parallelism ONLY
 * when the plan's partition count is provably below it — a no-op
 * whenever the input already parallelizes, so it can never add a
 * shuffle at scale (guide §2: partitioning decisions must derive from
 * the data, not from the local core count). The shuffle it does add
 * moves exactly the kernel's input columns once.
 *
 * The partition count is derived WITHOUT executing anything: under AQE
 * `df.rdd` finalizes the adaptive plan, which runs every upstream
 * shuffle stage just to read a count — and the repartitioned result is
 * a separate query execution that runs them again. Instead the initial
 * physical plan is inspected: the root's static `outputPartitioning`
 * when it is known (global sort/limit ⇒ SinglePartition, any exchange
 * ⇒ its partition count), else the maximum leaf-scan split count
 * (driver-side file-index metadata, no job; a persisted input counts
 * as the plan it was cached from). Leaves whose layout can't
 * be proven narrow count as already-wide, keeping the no-op-at-scale
 * guarantee.
 *
 * Only for partitioning-insensitive consumers: exact integer/decimal
 * aggregates, per-row projections, equality-keyed regroups. Callers
 * with float accumulation order sensitivity must not widen.
 */
object Fanout {
  def widen(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (partitions(df.queryExecution.sparkPlan, cores) >= cores) df
    else df.repartition(cores)
  }

  private def partitions(plan: SparkPlan, cores: Int): Int = {
    val rootParts = plan.outputPartitioning.numPartitions
    if (rootParts > 0) rootParts
    else plan.collectLeaves().map {
      // file-split count: computed from the (already planned) file
      // index on the driver — no Spark job
      case f: FileSourceScanExec => f.inputRDD.getNumPartitions
      // pre-materialized intermediates (localCheckpoint) know their
      // partitioning without execution
      case r: RDDScanExec => r.rdd.getNumPartitions
      // literal fixtures are bounded; widening them is always cheap
      case _: LocalTableScanExec => 1
      // a persisted input: the plan it was cached from, read on the
      // driver (the adaptive wrapper's current plan, not executed)
      case m: InMemoryTableScanExec => partitions(m.relation.cachedPlan, cores)
      case a: AdaptiveSparkPlanExec => partitions(a.executedPlan, cores)
      // unknown layout: assume wide so widen stays a no-op
      case _ => cores
    }.foldLeft(1)(math.max)
  }
}
