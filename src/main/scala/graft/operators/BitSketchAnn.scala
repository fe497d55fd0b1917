package graft.operators

import graft.functions.{GraftFunctions, VectorKernels}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

/**
 * Binary-quantization ANN: 1-bit-per-dimension sign sketches + Hamming
 * pre-filter + exact re-rank — the third index family next to IVF
 * ([[IvfIndex]]) and PQ/ADC ([[PqIndex]]), and the cheapest of the three
 * per scanned row. Beyond-reference scope (the reference's only index is
 * the kmeans vector index, /root/reference/app.py:219-227); the sketch
 * trick itself is the classic binary/sign quantization from the LSH
 * literature (each dimension is a fixed-axis hyperplane test, so Hamming
 * distance on sketches is a 64-plane SimHash estimate of angular
 * distance).
 *
 * 100 TB shape, in three stages:
 *   1. Candidate scan reads ONLY (id, sketch) — 8 bytes of sketch per
 *      row instead of the 256-byte float vector (a stored sketch column
 *      makes this literal column pruning at the Parquet scan; here the
 *      sketch is computed in the scan projection, still vector-column-
 *      wide but zero extra passes). `bit_count(sketch ^ querySketch)`
 *      is two Spark built-ins — the whole probe stays in one
 *      WholeStageCodegen stage with no custom expression on the hot path.
 *   2. Top-`candidates` selection is `orderBy(...).limit(...)` →
 *      TakeOrderedAndProject: a `candidates`-sized heap per partition,
 *      then one driver-side merge of per-partition heads — never a full
 *      sort, never a full shuffle.
 *   3. Re-rank joins the candidate id list BACK to the store to fetch
 *      the `candidates` full vectors (broadcast the id list, stream the
 *      store — no shuffle of the big side), scores them exactly, and
 *      keeps top-k. Exactness of the final scores is therefore
 *      unconditional; only WHICH candidates survive stage 2 is
 *      approximate, with the usual sign-sketch recall curve.
 *
 * Determinism: both cuts use total orders ((hamming, id) and
 * (rounded score DESC, id)), so results are partition-order-independent.
 */
object BitSketchAnn {

  /** Driver-side sketch of the query vector — same kernel as the column
    * path, so query and store bits always agree. */
  def querySketch(query: Array[Float]): Long =
    VectorKernels.signBits64(new GenericArrayData(query)).longValue()

  /**
   * Top-k by exact cosine over the Hamming top-`candidates` pre-filter.
   * Output: (id, hamming, score) ordered by (score DESC, id), k rows.
   */
  def topK(
      emb: DataFrame, idCol: String, vecCol: String, query: Array[Float],
      k: Int, candidates: Int, scale: Int = 6): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val spark = emb.sparkSession
    GraftFunctions.register(spark)
    val qBits = querySketch(query)
    // Stage 1+2: slim sketch scan → per-partition heap → candidate ids.
    val cand = emb
      .select(
        col(idCol).as("id"),
        bit_count(GraftFunctions.signBits64(col(vecCol)).bitwiseXOR(lit(qBits)))
          .cast("long").as("hamming"))
      .orderBy(col("hamming").asc, col("id").asc)
      .limit(candidates)
    // Stage 3: broadcast the candidates, re-rank them exactly.
    VectorSearch.exactRerank(emb, idCol, vecCol, cand, query, k, scale)
  }
}
