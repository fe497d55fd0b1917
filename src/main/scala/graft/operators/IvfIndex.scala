package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * IVF (inverted-file) approximate-nearest-neighbor index — the Spark-first
 * re-expression of the reference's `vector_kmeans_tree` secondary index
 * (reference: /root/reference/app.py:186-196 — `FROM {table} VIEW {index}`
 * plus `PRAGMA ydb.KMeansTreeSearchTopSize="{n}"`, knob default
 * app.py:60).
 *
 * Design (SURVEY.md §7.5):
 *  - build: MLlib KMeans over the embedding column → each row gets a
 *    `cluster_id`; the centroid table is tiny (numClusters × dim) and
 *    lives on the driver / in a sidecar file.
 *  - store: written `partitionBy("cluster_id")` so a search that prunes
 *    clusters prunes *Parquet partitions* — at 100 TB a search touches
 *    only `searchTopSize / numClusters` of the data, and the pruning
 *    happens at file-listing time, before a single byte is read.
 *  - search: rank centroids against the query vector driver-side (the
 *    centroid set is small by construction), keep the best
 *    `searchTopSize` clusters — the exact semantics of the reference's
 *    `KMeansTreeSearchTopSize` knob — then run the brute-force pipeline
 *    over only those clusters.
 *
 * `searchTopSize >= numClusters` degenerates to an exact scan, which is
 * what the correctness harness exploits: IVF with full breadth must equal
 * brute force bit-for-bit.
 */
object IvfIndex {

  val ClusterCol = "cluster_id"

  /** A built index: per-cluster centroids, indexed by cluster id. */
  case class IvfModel(centroids: Array[Array[Float]]) {
    def numClusters: Int = centroids.length

    /** Rank cluster ids best-first for this query under the strategy.
      * Runs on the driver: the centroid table is numClusters × dim. */
    def rankClusters(queryVec: Array[Float], strategy: SearchStrategy): Array[Int] = {
      val scored = centroids.zipWithIndex.map { case (c, i) =>
        (i, IvfMath.score(strategy, c, queryVec))
      }
      // NaN-free by construction (centroids are means of finite floats);
      // ties broken by cluster id for determinism.
      val ordered =
        if (strategy.descending) scored.sortBy { case (i, s) => (-s, i) }
        else scored.sortBy { case (i, s) => (s, i) }
      ordered.map(_._1)
    }
  }

  /**
   * Assign every row a `cluster_id` via MLlib KMeans (seeded →
   * deterministic). Returns the augmented DataFrame and the model.
   *
   * The KMeans fit itself is distributed (Lloyd iterations are map-side
   * partial sums + a small driver reduce of k × dim centroids), so the
   * build step scales with the data; only the centroid matrix ever sits
   * on the driver.
   */
  def build(
      emb: DataFrame,
      embCol: String,
      numClusters: Int,
      seed: Long = 42L,
      maxIter: Int = 20): (DataFrame, IvfModel) = {
    val vecCol = "__ivf_vec"
    val withVec = emb.withColumn(vecCol, array_to_vector(col(embCol)))
    val kmeans = new KMeans()
      .setK(numClusters)
      .setSeed(seed)
      .setMaxIter(maxIter)
      .setFeaturesCol(vecCol)
      .setPredictionCol(ClusterCol)
    val model = kmeans.fit(withVec)
    val assigned = model.transform(withVec).drop(vecCol)
    val centroids = model.clusterCenters.map((v: Vector) => v.toArray.map(_.toFloat))
    (assigned, IvfModel(centroids))
  }

  /** Persist an indexed store partitioned by cluster id, so cluster
    * pruning at search time becomes Parquet partition pruning. */
  def writePartitioned(assigned: DataFrame, path: String): Unit =
    assigned.write.mode("overwrite").partitionBy(ClusterCol).parquet(path)

  /**
   * Incremental maintenance: assign a NEW batch of vectors to the
   * EXISTING centroids — no re-clustering, no rebuild, no touch of the
   * already-written store. At 100 TB the index is append-only: each
   * ingestion batch gets cluster ids from the frozen centroid table
   * and its files land under the matching partition directories
   * ([[appendPartitioned]]); periodic re-clustering handles centroid
   * drift offline, exactly like any production IVF deployment.
   *
   * The per-row argmin over centroids is the codegen'd [[graft.functions.VectorKernels.pqEncode]]
   * kernel with ONE subspace (m=1, codebook = the flattened centroid
   * matrix): nearest-centroid-by-L2 per row inside WholeStageCodegen,
   * no UDF, no shuffle. Full-breadth search over base ∪ appended must
   * still equal brute force — assignment quality affects only pruning
   * recall, which the driver query exploits for an exact oracle.
   */
  def assignBatch(batch: DataFrame, embCol: String, model: IvfModel): DataFrame = {
    require(model.numClusters >= 1 && model.numClusters <= 127,
      s"assignBatch supports up to 127 clusters (one-byte codes), got ${model.numClusters}")
    graft.functions.GraftFunctions.register(batch.sparkSession)
    val flat: Array[Float] = model.centroids.flatten
    val code = graft.functions.GraftFunctions.pqEncode(
      col(embCol), typedlit(flat), m = 1, k = model.numClusters)
    batch.withColumn(ClusterCol,
      conv(hex(substring(code, 1, 1)), 16, 10).cast("int"))
  }

  /** Append an assigned batch to a partitioned store: new files land
    * under each cluster's partition directory; existing data is never
    * rewritten. */
  def appendPartitioned(assigned: DataFrame, path: String): Unit =
    assigned.write.mode("append").partitionBy(ClusterCol).parquet(path)

  /**
   * Deletion path. The partitioned store is immutable Parquet, so
   * deletes are TOMBSTONES — a slim relation of deleted ids kept
   * beside the index (GDPR erasure, TTL'd rows). Between compactions
   * the tombstone set is broadcast-range by construction (thousands to
   * low millions of ids — compaction bounds it), so search applies it
   * AFTER cluster pruning as a broadcast LEFT ANTI join: one
   * in-memory hash probe per candidate row, with the scan and the
   * partition pruning untouched. Full-breadth search over
   * base ∪ appended − deleted must equal brute force over the live
   * rows — the driver's exact oracle for this path.
   */
  def searchWithTombstones(
      assignedStore: DataFrame,
      model: IvfModel,
      cfg: StoreConfig,
      queryVec: Array[Float],
      k: Int,
      searchTopSize: Int,
      tombstones: DataFrame,
      idCol: String,
      scoreScale: Option[Int] = None): DataFrame =
    searchClusters(assignedStore, cfg, queryVec, k, searchTopSize, scoreScale)(
      model.rankClusters(queryVec, cfg.strategy).take(searchTopSize),
      _.join(broadcast(tombstones.select(col(idCol))), Seq(idCol), "left_anti"))

  /**
   * Compaction: rewrite the store as a NEW generation at `path`,
   * dropping tombstoned rows (after which the tombstone relation can
   * be truncated). When `reassign` is given, each surviving row is
   * also re-assigned to its nearest CURRENT centroid by the codegen
   * m=1 pq_encode kernel — after an offline centroid refresh, rows
   * appended under the old centroids may sit in a drifted cluster,
   * and re-assignment re-tightens partition pruning (recall at full
   * breadth is unaffected either way; only pruning efficiency).
   *
   * Distributed end-to-end: broadcast anti-join → optional codegen
   * re-assign → partitioned write; the driver holds only the centroid
   * matrix. Writing a fresh generation (rather than rewriting in
   * place) keeps readers of the old path consistent until the catalog
   * swaps — the standard lakehouse compaction discipline. When to
   * compact: once the tombstone set approaches broadcast limits
   * (~tens of MB of ids) or the dead fraction of scanned bytes is
   * material (SCALING.md).
   */
  def compact(
      store: DataFrame,
      tombstones: DataFrame,
      idCol: String,
      path: String,
      embCol: String = "embedding",
      reassign: Option[IvfModel] = None): Unit = {
    val live = store.join(
      broadcast(tombstones.select(col(idCol))), Seq(idCol), "left_anti")
    val out = reassign match {
      case Some(m) => assignBatch(live.drop(ClusterCol), embCol, m)
      case None    => live
    }
    writePartitioned(out, path)
  }

  /**
   * Two-level kmeans tree over a built index — the shape of YDB's
   * `vector_kmeans_tree` (reference: /root/reference/app.py:193-196):
   * level 1 clusters the CLUSTER CENTROIDS (driver-side Lloyd over a
   * centroid table that is small by construction — no Spark jobs, no
   * change to the on-disk store layout). Search walks macro-centroids →
   * member centroids → partitions, applying the `searchTopSize` breadth
   * knob at each level exactly as the reference's PRAGMA does per tree
   * level (app.py:186-191).
   */
  final case class TreeIndex(
      leaves: IvfModel,
      macroCentroids: Array[Array[Float]],
      leafToMacro: Array[Int]) {

    /** Candidate leaf clusters for a query at the given breadth. */
    def candidateClusters(queryVec: Array[Float], strategy: SearchStrategy,
        searchTopSize: Int): Array[Int] = {
      val macroModel = IvfModel(macroCentroids)
      val topMacros = macroModel.rankClusters(queryVec, strategy)
        .take(searchTopSize).toSet
      val members = leaves.rankClusters(queryVec, strategy)
        .filter(c => topMacros.contains(leafToMacro(c)))
      members.take(searchTopSize)
    }
  }

  /** Build the second level: deterministic driver-side Lloyd iterations
    * over the leaf centroids (seeded farthest-point init). */
  def buildTree(leaves: IvfModel, macroClusters: Int, iters: Int = 10): TreeIndex = {
    val pts = leaves.centroids
    val k = math.min(macroClusters, pts.length)
    // farthest-point seeding from centroid 0 — deterministic
    val seeds = scala.collection.mutable.ArrayBuffer(0)
    while (seeds.length < k) {
      val next = pts.indices.maxBy { i =>
        seeds.map(s => IvfMath.score(SearchStrategy.EuclideanDistance, pts(i), pts(s))).min
      }
      seeds += next
    }
    var centers = seeds.map(pts(_).clone()).toArray
    var assign = new Array[Int](pts.length)
    var it = 0
    while (it < iters) {
      var changed = false
      var i = 0
      while (i < pts.length) {
        val best = centers.indices.minBy(c =>
          IvfMath.score(SearchStrategy.EuclideanDistance, pts(i), centers(c)))
        if (assign(i) != best) { assign(i) = best; changed = true }
        i += 1
      }
      if (!changed) it = iters
      else {
        val dim = pts(0).length
        centers = Array.tabulate(centers.length) { c =>
          val members = pts.indices.filter(assign(_) == c)
          if (members.isEmpty) centers(c)
          else {
            val sum = new Array[Float](dim)
            members.foreach { m =>
              var d = 0
              while (d < dim) { sum(d) += pts(m)(d); d += 1 }
            }
            sum.map(_ / members.length)
          }
        }
        it += 1
      }
    }
    TreeIndex(leaves, centers, assign)
  }

  /** Tree search: macro pruning → leaf pruning → brute-force tail. */
  def searchTree(
      assignedStore: DataFrame,
      tree: TreeIndex,
      cfg: StoreConfig,
      queryVec: Array[Float],
      k: Int,
      searchTopSize: Int,
      scoreScale: Option[Int] = None): DataFrame =
    searchClusters(assignedStore, cfg, queryVec, k, searchTopSize, scoreScale)(
      tree.candidateClusters(queryVec, cfg.strategy, searchTopSize))

  /**
   * ANN search: centroid ranking → cluster pruning → brute-force tail.
   * Mirrors the reference contract: larger `searchTopSize` = more
   * candidate clusters = higher recall, monotonically (app.py:60,186-191).
   * Filters are rejected exactly like the reference's filter×index error
   * (app.py:171-172) — enforced by [[VectorSearch.bruteForce]] via the
   * indexEnabled flag in the passed config.
   */
  def search(
      assignedStore: DataFrame,
      model: IvfModel,
      cfg: StoreConfig,
      queryVec: Array[Float],
      k: Int,
      searchTopSize: Int,
      scoreScale: Option[Int] = None): DataFrame =
    searchClusters(assignedStore, cfg, queryVec, k, searchTopSize, scoreScale)(
      model.rankClusters(queryVec, cfg.strategy).take(searchTopSize))

  /** The tail every search shares: check `searchTopSize`, then compute
    * `clusters`, keep only their rows, apply `live` (the tombstone
    * anti-join, or nothing) and brute-force the survivors. */
  private def searchClusters(
      assignedStore: DataFrame,
      cfg: StoreConfig,
      queryVec: Array[Float],
      k: Int,
      searchTopSize: Int,
      scoreScale: Option[Int])(
      clusters: => Array[Int],
      live: DataFrame => DataFrame = identity): DataFrame = {
    require(searchTopSize > 0,
      s"index_tree_search_top_size must be a positive integer, got $searchTopSize") // app.py:373-375
    // isin over a small literal list → pushed down; on a store written
    // with writePartitioned this prunes whole Parquet partitions.
    val pruned = live(assignedStore.filter(
      col(ClusterCol).isin(clusters.toIndexedSeq.map(Integer.valueOf): _*)))
    VectorSearch.bruteForce(pruned.drop(ClusterCol), cfg.copy(indexEnabled = true),
      queryVec, k, Map.empty, scoreScale)
  }
}

/** Driver-side scalar math over primitive float arrays, used only for
  * centroid ranking (numClusters elements — never per-row). Formulas are
  * identical to [[graft.functions.VectorKernels]]. */
private[operators] object IvfMath {
  def score(strategy: SearchStrategy, a: Array[Float], b: Array[Float]): Double = {
    strategy match {
      case SearchStrategy.CosineSimilarity       => cosine(a, b)
      case SearchStrategy.InnerProductSimilarity => dot(a, b)
      case SearchStrategy.CosineDistance         => 1.0 - cosine(a, b)
      case SearchStrategy.EuclideanDistance      => euclidean(a, b)
      case SearchStrategy.ManhattanDistance      => manhattan(a, b)
    }
  }

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length && i < b.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length && i < b.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) Double.NaN else d / (math.sqrt(na) * math.sqrt(nb))
  }
  private def euclidean(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length && i < b.length) {
      val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
    }
    math.sqrt(s)
  }
  private def manhattan(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length && i < b.length) {
      s += math.abs(a(i).toDouble - b(i).toDouble); i += 1
    }
    s
  }
}
