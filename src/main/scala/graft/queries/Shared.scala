package graft
package queries

import graft.api._
import graft.functions.GraftFunctions
import graft.operators._
import graft.queries.Fixtures._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The helpers more than one row family, or the fixtures, use. */
private[graft] object Shared {

  private[queries] val Scale = 6

  private[queries] val cfg = StoreConfig(
    idCol = "vec_id", titleCol = "source", vendorCol = "lang",
    descriptionCol = "text", embeddingCol = "embedding")

  private[queries] def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet carries TIMESTAMP(NANOS), which the Parquet reader
    // rejects by default; read as long and normalize downstream
    // (EventPipeline converts ns → TimestampType).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  private[graft] def knn(strategy: SearchStrategy, k: Int,
      filter: Map[String, String] = Map.empty)(
      spark: SparkSession, dir: String): DataFrame =
    VectorSearch.searchWithMetadata(
      table(spark, dir, "embeddings"), table(spark, dir, "documents"),
      ("vec_id", "doc_id"), cfg.copy(strategy = strategy),
      queryVec(spark, dir), k, filter, Some(Scale))

  /** FNV-1a 64 of the byte values yielded by `bytesExpr` (a DuckDB list
    * of HUGEINT byte values), as unsigned HUGEINT arithmetic mod 2^64 —
    * mirrors [[graft.functions.TextHashKernels.fnv1a64]]. The corpus is
    * ASCII, so `ascii(substr(...))` yields the UTF-8 bytes. */
  private[queries] def fnvSql(bytesExpr: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(14695981039346656037 AS HUGEINT), $bytesExpr),
       |  (h, b) -> (CAST(xor(CAST(h AS UBIGINT), CAST(b AS UBIGINT)) AS HUGEINT)
       |             * 1099511628211) % 18446744073709551616)""".stripMargin

  /** Reinterpret an unsigned HUGEINT value < 2^64 as signed BIGINT
    * (two's complement) — Spark's LongType hash keys are signed. */
  private[queries] def toSignedSql(x: String): String =
    s"""CAST(CASE WHEN ($x) >= 9223372036854775808
       | THEN ($x) - 18446744073709551616 ELSE ($x) END AS BIGINT)""".stripMargin

  /** Cosine-similarity score expression mirroring [[graft.functions.VectorKernels]]
    * op-for-op (sequential double accumulation, dot / (√na·√nb)). */
  private[queries] val CosExpr =
    "list_inner_product(CAST(e.embedding AS DOUBLE[]), qv.q) / " +
      "(sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) * " +
      "sqrt(list_inner_product(qv.q, qv.q)))"

  /** Shared shingle chain (distinct word trigrams with the <3-token
    * fallback) for the MinHash-family oracles (dedup_minhash /
    * dedup_containment / split_leakage). */
  private[queries] lazy val shingleCtes: String =
    """toks AS (
      |  SELECT doc_id AS id, list_filter(string_split(text, ' '), t -> t != '') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT id, CASE WHEN len(t) = 0 THEN []
      |                  WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |                  ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
      |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
      |  FROM toks)""".stripMargin

  /** Exact-join MinHash pair replay at the 0.5 Jaccard threshold
    * (recall 1 at the fixture knobs — the dedup_minhash contract);
    * expects [[shingleCtes]] upstream. */
  private[queries] lazy val minhashPairsCte: String =
    """mh_pairs AS (
      |  SELECT * FROM (
      |    SELECT a.id AS a_id, b.id AS b_id,
      |           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |                 len(list_distinct(list_cat(a.s, b.s))), 6) AS jaccard
      |    FROM sh a JOIN sh b ON a.id < b.id)
      |  WHERE jaccard >= 0.5)""".stripMargin

  private[queries] lazy val bm25Ctes: String =
    """WITH stats AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |         CAST(sum(length(string_split(text, ' '))) AS BIGINT) AS sumdl
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, CAST(length(string_split(text, ' ')) AS BIGINT) AS dl,
      |         unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tfq AS (
      |  SELECT doc_id, dl, term, count(*) AS tf FROM toks
      |  WHERE term IN ('dup', 'hash', 'merge') GROUP BY doc_id, dl, term),
      |dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
      |bm25 AS (
      |  SELECT t.doc_id, count(*) AS n_terms,
      |         CAST(sum(CAST(round(
      |           ln(1.0e0 + (s.n - d.df + 0.5e0) / (d.df + 0.5e0)) *
      |           ((t.tf * 2.2e0) /
      |            (t.tf + 1.2e0 * ((1.0e0 - 0.75e0) +
      |             ((0.75e0 * t.dl) / (CAST(s.sumdl AS DOUBLE) / s.n))))),
      |           6) AS DECIMAL(28,6))) AS DOUBLE) AS score
      |  FROM tfq t JOIN dfq d USING (term), stats s
      |  GROUP BY t.doc_id)""".stripMargin

  /** crawl_rank's oracle, one chained CTE per PageRank iteration. The
    * recurrence is pure integer arithmetic (`//` floor-division equals
    * Spark's `div` truncation on the non-negative ranks), so DuckDB
    * re-derives the engine's result exactly — no float tolerance. */
  private[queries] def pageRankOracle(iters: Int): String = {
    val head =
      """WITH src AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id
        |  FROM documents WHERE text IS NOT NULL),
        |dd AS (
        |  SELECT DISTINCT id % 10 AS h, id % 4 AS q,
        |         CASE WHEN (id % 10) % 3 = 0 THEN 'co.uk' ELSE 'com' END AS tld
        |  FROM src),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT 'site' || h || '.' || tld AS src,
        |         'partner' || q || '.example' AS dst FROM dd
        |  UNION ALL SELECT 'site' || h || '.' || tld,
        |         'site' || h || '.com' FROM dd
        |  UNION ALL SELECT 'site' || h || '.' || tld,
        |         'site' || h || '.' || tld FROM dd)),
        |verts AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM verts)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT verts.v, 150000 + (85 * COALESCE(c.s, 0)) // 100 AS r
         |  FROM verts LEFT JOIN (
         |    SELECT e.dst AS v, SUM(r${i - 1}.r // deg.outdeg) AS s
         |    FROM e JOIN r${i - 1} ON r${i - 1}.v = e.src
         |    JOIN deg ON deg.src = e.src
         |    GROUP BY e.dst) c ON c.v = verts.v)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT v AS domain, CAST(r AS BIGINT) AS rank_micros " +
      s"FROM r$iters ORDER BY domain"
  }
}
