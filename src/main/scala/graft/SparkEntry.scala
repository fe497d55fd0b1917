package graft

import graft.operators.SearchStrategy
import graft.queries.Registry
import graft.queries.Shared.knn
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Driver contract: every [[graft.queries.Registry]] row as a Spark
 * query in [[queries]] and its DuckDB oracle in [[oracleSql]], keyed by
 * row name. The rows, each next to its oracle, live in the family files
 * under `graft/queries/`.
 */
object SparkEntry {

  /** Flagship: cosine top-4 (the reference's defaults) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    knn(SearchStrategy.CosineSimilarity, 4)(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.build).toMap

  /** Renders every row's oracle on first use. */
  lazy val oracleSql: Map[String, String] =
    Registry.all.map(q => q.name -> q.oracle).toMap
}
