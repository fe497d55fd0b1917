package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Scalar-quantization (SQ8) ANN: per-dimension affine int8 codes +
 * reconstructed-cosine pre-filter + exact re-rank — the fifth index
 * family next to IVF ([[IvfIndex]]), PQ/ADC ([[PqIndex]]), sign
 * sketches ([[BitSketchAnn]]) and PCA projection ([[PcaAnn]]), filling
 * the accuracy/size point between them: 8 bits/dim (4× smaller than
 * float32, 8× bigger than the sign sketch) with near-exact candidate
 * ranking. Beyond-reference scope (the reference's only index is the
 * kmeans vector index, /root/reference/app.py:219-227); the layout is
 * the public faiss `ScalarQuantizer` SQ8 recipe.
 *
 * 100 TB shape, the [[BitSketchAnn]] three-stage template:
 *   1. Candidate scan touches only (id, codes): dim bytes/row. In a
 *      production table the codes are a stored column written at
 *      ingest, making this literal Parquet column pruning; here they
 *      are computed in the scan projection (one codegen'd expression,
 *      zero extra passes). Scoring a code against the query is the
 *      [[graft.functions.VectorKernels.sq8CosScore]] kernel over a
 *      per-query coefficient table built ONCE on the driver — the SQ
 *      analogue of the ADC LUT: no float vector is touched at scan
 *      time, and the whole probe stays inside WholeStageCodegen.
 *   2. Top-`candidates` cut = orderBy + limit → TakeOrderedAndProject
 *      (per-partition heaps, never a global sort).
 *   3. Exact re-rank: broadcast the candidate id list, stream the
 *      store, score the fetched float vectors exactly, keep top-k.
 *      Final scores are unconditionally exact; only candidate survival
 *      is approximate, bounded by the quantization error (≤ Δ/2 per
 *      dimension — measured recall grid in Sq8AnnSpec).
 *
 * The model (per-dimension min + delta) is 2·dim doubles — driver- and
 * broadcast-trivial at any corpus size, fitted in ONE slim aggregate.
 */
object SqAnn {

  /** Per-dimension affine quantization grid: v̂ = min + code·delta. */
  case class SqModel(mins: Array[Double], deltas: Array[Double]) {
    require(mins.length == deltas.length, "model arrays must align")
    def dim: Int = mins.length
  }

  /**
   * Fit the per-dimension [min, max] grid in one pass: posexplode →
   * partial min/max per dimension (map-side combine collapses every
   * partition to ≤ dim rows) → dim-row collect. The only driver state
   * is the 2·dim-double model — same footprint contract as the IVF
   * centroids and PQ codebooks.
   */
  def fit(emb: DataFrame, vecCol: String): SqModel = {
    val rows = emb
      .select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(min(col("v").cast("double")).as("lo"), max(col("v").cast("double")).as("hi"))
      .orderBy("dim")
      .collect()
    require(rows.nonEmpty, "cannot fit SQ8 on an empty corpus")
    val mins = rows.map(_.getDouble(1))
    val deltas = rows.map(r => (r.getDouble(2) - r.getDouble(1)) / 255.0)
    SqModel(mins, deltas)
  }

  /**
   * Top-k by exact cosine over the reconstructed-cosine
   * top-`candidates` pre-filter. Output: (id, score) ordered by
   * (score DESC, id), k rows. Determinism: both cuts use total orders
   * ((approx DESC, id) and (rounded score DESC, id)).
   */
  def topK(
      emb: DataFrame, idCol: String, vecCol: String, query: Array[Float],
      model: SqModel, k: Int, candidates: Int, scale: Int = 6): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    require(model.dim == query.length,
      s"query dim ${query.length} != model dim ${model.dim}")
    GraftFunctions.register(emb.sparkSession)
    // Per-query coefficient table: score(c) = (biasDot + Σ cᵢwᵢ) /
    // √(biasN + Σ cᵢaᵢ + Σ cᵢ²bᵢ) ∝ cosine(v̂, q). Built once, rides
    // the plan as one literal array.
    val d = model.dim
    val w = new Array[Double](d)
    val a = new Array[Double](d)
    val b = new Array[Double](d)
    var biasDot = 0.0
    var biasN = 0.0
    var i = 0
    while (i < d) {
      val lo = model.mins(i)
      val dl = model.deltas(i)
      val q = query(i).toDouble
      biasDot += lo * q
      biasN += lo * lo
      w(i) = dl * q
      a(i) = 2.0 * lo * dl
      b(i) = dl * dl
      i += 1
    }
    val flat = typedLit((Array(biasDot, biasN) ++ w ++ a ++ b).toSeq)
    val mins = typedLit(model.mins.toSeq)
    val deltas = typedLit(model.deltas.toSeq)
    // Stage 1+2: code scan → per-partition heap → candidate ids.
    val cand = emb
      .select(
        col(idCol).as("id"),
        GraftFunctions.sq8CosScore(
          GraftFunctions.sq8Encode(col(vecCol), mins, deltas), flat).as("approx"))
      .orderBy(col("approx").desc_nulls_last, col("id").asc)
      .limit(candidates)
      .select("id")
    // Stage 3: broadcast the candidates, re-rank them exactly.
    VectorSearch.exactRerank(emb, idCol, vecCol, cand, query, k, scale)
  }
}
