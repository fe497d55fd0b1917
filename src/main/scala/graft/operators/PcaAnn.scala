package graft.operators

import graft.functions.GraftFunctions
import graft.operators.Pca.PcaModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Dimensionality-reduction ANN: project the store onto the top-d
 * principal axes, rank candidates by cosine IN THE PROJECTED SPACE,
 * re-rank the survivors exactly — the fourth index family next to IVF
 * ([[IvfIndex]]), PQ/ADC ([[PqIndex]]) and sign sketches
 * ([[BitSketchAnn]]). Beyond-reference scope (the reference's only
 * index is the kmeans vector index, /root/reference/app.py:219-227);
 * the principle is the classic one — with orthonormal components
 * spanning the data's principal subspace, ⟨Px, Pq⟩ = xᵀPᵀPq
 * approximates ⟨x, q⟩ (PᵀP projects onto the subspace), so projected
 * cosine preserves the ranking the exact metric would produce, at
 * d/dim of the scan arithmetic.
 *
 * The projection is deliberately UNCENTERED (no mean subtraction):
 * centering shifts the origin and changes angles, which is fine for
 * euclidean geometry but breaks cosine rank fidelity.
 *
 * 100 TB shape, in three stages (same skeleton as [[BitSketchAnn]]):
 *   1. Candidate scan: ONE codegen'd `mat_vec` per row (components are
 *      plan literals — d × dim doubles ride the plan broadcast) feeding
 *      the double-vector cosine kernel against the projected query. A
 *      store with a persisted projection column drops this to a d-wide
 *      column scan.
 *   2. Top-`candidates` cut is `TakeOrderedAndProject` — per-partition
 *      heaps, never a full sort.
 *   3. Re-rank: broadcast the candidate ids, stream the store, score
 *      the fetched full vectors exactly. Final scores are exact
 *      unconditionally; only WHICH candidates surface is approximate,
 *      with recall measured by `PcaAnnRecallSpec` at the shipped
 *      (d, candidates) point.
 */
object PcaAnn {

  /** Uncentered projection of a query vector onto the model's
    * components — the same arithmetic order as the `mat_vec` kernel,
    * so driver and executors agree bitwise. */
  def projectQuery(model: PcaModel, query: Array[Float]): Array[Double] =
    model.components.map { c =>
      var s = 0.0
      var i = 0
      while (i < c.length) { s += query(i).toDouble * c(i); i += 1 }
      s
    }

  /**
   * Top-k by exact cosine over the projected-cosine top-`candidates`
   * pre-filter. Output: (id, score) ordered by (score DESC, id), k rows.
   */
  def topK(
      emb: DataFrame, idCol: String, vecCol: String, query: Array[Float],
      model: PcaModel, k: Int, candidates: Int, scale: Int = 6): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    GraftFunctions.register(emb.sparkSession)
    val flat = model.components.flatten.toSeq
    val zeros = Seq.fill(model.components.length)(0.0)
    val qp = typedLit(projectQuery(model, query).toSeq)
    val proj = call_function("mat_vec", col(vecCol), typedLit(flat), typedLit(zeros))
    // Stage 1+2: projected-cosine scan → per-partition heap → candidates.
    val cand = emb
      .select(col(idCol).as("id"),
        GraftFunctions.knnCosineSimilarity(proj, qp).as("__pscore"))
      .orderBy(col("__pscore").desc_nulls_last, col("id").asc)
      .limit(candidates)
      .select("id")
    // Stage 3: broadcast the candidates, re-rank them exactly.
    VectorSearch.exactRerank(emb, idCol, vecCol, cand, query, k, scale)
  }
}
