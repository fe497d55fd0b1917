package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * One driver row: a Spark query and its DuckDB oracle, declared
 * together in the row's family file.
 *
 * Determinism rules shared by every query/oracle pair:
 *  - scores are rounded to 6 decimals on BOTH sides before ordering,
 *  - every ordering has a total tie-break (id, or the full key),
 *  - aggregates over floats are avoided or exact (integer sums, one
 *    final division), so partition order cannot change results.
 *
 * Store mapping for the vector queries: `embeddings ⋈ documents` on
 * vec_id = doc_id, with id=vec_id, title=source, vendor=lang,
 * description=text — the reference's 4 string columns + embedding
 * (the reference's app.py:40-51).
 *
 * @param build the query over an sf dir (the directory that holds the
 *   row's parquet tables)
 * @param oracleSql the oracle, rendered on first read of [[oracle]]:
 *   building the registry renders no SQL
 * @param scalingBound Bench's bound on sec(big)/sec(small) at a 10×
 *   data step, when the row's cost class differs from "≤ O(n log n) in
 *   data size" (the generic 12.0 bound); a row with a bound is never
 *   skipped on the small pass
 * @param isolate always re-timed isolated after the sweep, beyond the
 *   slowest rows: rows whose sweep times drifted while their isolated
 *   times held, so each round's Bench adjudicates "plan regressed" vs
 *   "shared-JVM suite got bigger" without a manual re-run
 */
final class QuerySpec(
    val name: String,
    val build: (SparkSession, String) => DataFrame,
    oracleSql: => String,
    val scalingBound: Option[Double],
    val isolate: Boolean) {
  lazy val oracle: String = oracleSql
}

object QuerySpec {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
      oracleSql: => String, scalingBound: Option[Double] = None,
      isolate: Boolean = false): QuerySpec =
    new QuerySpec(name, build, oracleSql, scalingBound, isolate)
}

/** Every driver row, family by family. */
object Registry {

  /** Assembled on first use, after every family object is initialized. */
  lazy val all: Seq[QuerySpec] = distinct(Seq(
    VectorRows.specs, DedupRows.specs, EvalRows.specs, RetrievalRows.specs,
    RelationalRows.specs, EventRows.specs, MultimodalRows.specs,
    FormatRows.specs, CrawlRows.specs, RewriteRows.specs,
    TokenizerRows.specs, PrivacyRows.specs, TrainingDataRows.specs,
    CorpusRows.specs).flatten)

  /** `specs` as given, or an IllegalArgumentException naming every
    * repeated row name: a keyed map would keep only the last one. */
  def distinct(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val repeated = specs.groupBy(_.name).collect {
      case (name, group) if group.size > 1 => name
    }
    require(repeated.isEmpty,
      s"query rows declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    specs
  }
}
