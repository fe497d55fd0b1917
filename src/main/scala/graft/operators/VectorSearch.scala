package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * The five distance strategies and their sort direction, mirroring the
 * reference's `SEARCH_STRATEGY` config (reference: /root/reference/
 * app.py:54, option list env.example:15-17). The sort direction is
 * derived from the strategy name exactly as the reference does it
 * (app.py:55): names ending in "Similarity" sort DESC (bigger = closer),
 * everything else ("…Distance") sorts ASC.
 */
sealed abstract class SearchStrategy(val name: String, val functionName: String)
    extends Serializable {
  /** app.py:55 suffix rule. */
  final def descending: Boolean = name.endsWith("Similarity")
  /** score column builder for this strategy. */
  def score(embedding: Column, query: Column): Column =
    call_function(functionName, embedding, query)
  /** Score rounded to `scale` decimals for cross-engine determinism.
    * Default: round the metric itself. [[SearchStrategy.CosineDistance]]
    * overrides this — see there for why. */
  def roundedScore(embedding: Column, query: Column, scale: Int): Column =
    round(score(embedding, query), scale)
}

object SearchStrategy {
  case object CosineSimilarity
      extends SearchStrategy("CosineSimilarity", "knn_cosine_similarity")
  case object InnerProductSimilarity
      extends SearchStrategy("InnerProductSimilarity", "knn_inner_product_similarity")
  case object CosineDistance
      extends SearchStrategy("CosineDistance", "knn_cosine_distance") {
    /** Round the SIMILARITY, then subtract — not round(1 − s).
      *
      * Rounding `1 − s` directly is not cross-engine reproducible: when
      * `1 − s` lands on a half-way decimal boundary, engines that round
      * the shortest decimal representation (Spark's `Round` goes through
      * `BigDecimal.valueOf`) and engines that round the binary double
      * (DuckDB, C `round`) disagree by one ulp of the last kept digit.
      * `round(s, scale)` at the same scale provably agrees across engines
      * (the plain-cosine query hash-matches bit-for-bit), and
      * `1.0 − round(s, scale)` is then one deterministic IEEE subtraction
      * of identical doubles on both sides; the outer round's argument is
      * ~1e-16 from a `scale`-decimal value, never near a boundary, so it
      * agrees too. Ordering is unaffected: ASC on `1 − round(s)` ≡ DESC
      * on `round(s)`. */
    override def roundedScore(embedding: Column, query: Column, scale: Int): Column =
      round(lit(1.0) - round(CosineSimilarity.score(embedding, query), scale), scale)
  }
  case object EuclideanDistance
      extends SearchStrategy("EuclideanDistance", "knn_euclidean_distance")
  case object ManhattanDistance
      extends SearchStrategy("ManhattanDistance", "knn_manhattan_distance")

  val all: Seq[SearchStrategy] = Seq(CosineSimilarity, InnerProductSimilarity,
    CosineDistance, EuclideanDistance, ManhattanDistance)

  /** Parse with the same strictness as the reference env validation. */
  def fromString(s: String): SearchStrategy =
    all.find(_.name == s).getOrElse(
      throw new IllegalArgumentException(
        s"Unknown SEARCH_STRATEGY '$s'; expected one of ${all.map(_.name).mkString(", ")}"))
}

/**
 * Deployment-time store configuration — the Spark mirror of the
 * reference's env surface (reference: /root/reference/app.py:40-66,
 * env.example:9-27). Column mapping is config-driven, results are always
 * projected to the canonical output names (app.py:217-222).
 */
case class StoreConfig(
    idCol: String = "id",
    titleCol: String = "title",
    vendorCol: String = "vendor",
    descriptionCol: String = "description",
    embeddingCol: String = "embedding",
    strategy: SearchStrategy = SearchStrategy.CosineSimilarity,
    indexEnabled: Boolean = false,
    searchTopSize: Int = 10, // PRAGMA KMeansTreeSearchTopSize default, app.py:60
    defaultK: Int = 4,       // app.py:363
    tableName: String = "ydb_langchain_store",  // YDB_TABLE, app.py:43
    indexName: String = "ydb_vector_index",     // INDEX_NAME, app.py:59
    passAsBytes: Boolean = true,                // VECTOR_PASS_AS_BYTES, app.py:63
    embeddingApiUrl: Option[String] = None)     // EMBEDDING_API_URL, app.py:66

object StoreConfig {
  /**
   * Deployment-parity config resolution: the same environment variable
   * names, defaults, and parsing as the reference (app.py:40-66,
   * env.example:9-27) — booleans are the string "true" case-insensitively
   * (anything else, including absence, is the default's fate per
   * variable), integers parse strictly, and an empty EMBEDDING_API_URL
   * means "not configured". Host/port/database variables are
   * YDB-transport-specific and have no Spark-side meaning; the table
   * name is carried for catalog lookup parity.
   *
   * `env` is injectable for tests; production callers use the default
   * `sys.env`.
   */
  def fromEnv(env: Map[String, String] = sys.env): StoreConfig = {
    def bool(name: String, default: Boolean): Boolean =
      env.get(name).map(_.toLowerCase == "true").getOrElse(default)
    def int(name: String, default: Int): Int =
      env.get(name).map(_.trim.toInt).getOrElse(default)
    StoreConfig(
      idCol = env.getOrElse("COLUMN_ID", "id"),
      titleCol = env.getOrElse("COLUMN_TITLE", "title"),
      vendorCol = env.getOrElse("COLUMN_VENDOR", "vendor"),
      descriptionCol = env.getOrElse("COLUMN_DESCRIPTION", "description"),
      embeddingCol = env.getOrElse("COLUMN_EMBEDDING", "embedding"),
      strategy = SearchStrategy.fromString(
        env.getOrElse("SEARCH_STRATEGY", "CosineSimilarity")),
      indexEnabled = bool("INDEX_ENABLED", default = false),
      searchTopSize = int("INDEX_TREE_SEARCH_TOP_SIZE", 10),
      tableName = env.getOrElse("YDB_TABLE", "ydb_langchain_store"),
      indexName = env.getOrElse("INDEX_NAME", "ydb_vector_index"),
      passAsBytes = bool("VECTOR_PASS_AS_BYTES", default = true),
      embeddingApiUrl = env.get("EMBEDDING_API_URL").filter(_.nonEmpty))
  }
}

/**
 * Brute-force top-k vector search — the reference's one query template
 * (reference: /root/reference/app.py:212-227) re-expressed as a
 * declarative Spark plan:
 *
 *   scan → [conjunctive equality filter] → project(+score) → orderBy → limit
 *
 * Catalyst plans the `orderBy.limit(k)` pair as `TakeOrderedAndProject`:
 * each partition keeps only its local top-k and the driver merges k·p
 * rows — no full shuffle, no full sort, which is exactly the physical
 * shape wanted at 100 TB. Equality filters are pushed into the Parquet
 * scan; the score expression participates in WholeStageCodegen.
 */
object VectorSearch {

  /** Canonical result column names (app.py:217-222). */
  val OutputColumns: Seq[String] = Seq("id", "title", "vendor", "description", "score")

  /** Stage 3 of the pre-filter ANNs: broadcast the candidates (`id`
    * plus any extra columns), stream the store, re-rank the fetched
    * vectors by exact rounded cosine. Output: (id, the candidates'
    * extra columns, score) ordered by (score DESC, id), k rows. */
  private[operators] def exactRerank(
      emb: DataFrame, idCol: String, vecCol: String, cand: DataFrame,
      query: Array[Float], k: Int, scale: Int): DataFrame = {
    val extras = cand.columns.toSeq.filterNot(_ == "id").map(col)
    val qv = typedLit(query.toSeq)
    emb.select(col(idCol).as("id"), col(vecCol).as("__vec"))
      .join(broadcast(cand), "id")
      .select(col("id") +: extras :+
        round(GraftFunctions.knnCosineSimilarity(col("__vec"), qv), scale).as("score"): _*)
      .orderBy(col("score").desc_nulls_last, col("id").asc)
      .limit(k)
  }

  /**
   * @param store     DataFrame with the configured columns
   * @param queryVec  the query vector (`$TargetEmbedding`, app.py:198-210)
   * @param k         top-k (`LIMIT {k}`, app.py:226; default 4 app.py:363)
   * @param filter    conjunctive equality predicates keyed by *store* column
   *                  name (app.py:174-184); mutually exclusive with the ANN
   *                  index (app.py:171-172)
   * @param scoreScale optionally round scores to this many decimals before
   *                  ordering — used by the correctness harness for
   *                  cross-engine determinism; None = raw scores
   */
  def bruteForce(
      store: DataFrame,
      cfg: StoreConfig,
      queryVec: Array[Float],
      k: Int,
      filter: Map[String, String] = Map.empty,
      scoreScale: Option[Int] = None): DataFrame = {
    require(k > 0, s"k must be a positive integer, got $k") // app.py:368-370
    require(filter.isEmpty || !cfg.indexEnabled,
      "Filters are not supported when vector index is enabled") // app.py:171-172
    // Reference only permits equality filters on the three string columns
    // (app.py:174-184 builds predicates from title/vendor/description only).
    val filterable = Set(cfg.titleCol, cfg.vendorCol, cfg.descriptionCol)
    filter.keys.foreach { c =>
      require(filterable.contains(c),
        s"Filter column '$c' is not one of the store's filterable string " +
          s"columns ${filterable.mkString("{", ", ", "}")}")
    }
    GraftFunctions.register(store.sparkSession)

    val filtered = filter.foldLeft(store) { case (df, (c, v)) =>
      df.filter(col(c) === lit(v))
    }
    val qv = typedLit(queryVec.toSeq)
    val score = scoreScale.fold(cfg.strategy.score(col(cfg.embeddingCol), qv))(
      s => cfg.strategy.roundedScore(col(cfg.embeddingCol), qv, s))

    val projected = filtered.select(
      col(cfg.idCol).cast("string").as("id"),
      col(cfg.titleCol).as("title"),
      col(cfg.vendorCol).as("vendor"),
      col(cfg.descriptionCol).as("description"),
      score.as("score"))

    orderedTopK(projected, cfg, k)
  }

  /** Deterministic top-k: order by score (direction from the strategy's
    * suffix rule, app.py:55) with `id` tie-break.
    *
    * Deliberate deviation from the reference: YDB sorts NULL smallest, so
    * with a distance strategy (ASC) malformed/dimension-mismatched vectors
    * would rank FIRST there. We put NULL scores last in both directions —
    * the saner behavior — and pin it in tests. */
  private[graft] def orderedTopK(projected: DataFrame, cfg: StoreConfig, k: Int): DataFrame = {
    val ordered =
      if (cfg.strategy.descending) projected.orderBy(col("score").desc_nulls_last, col("id").asc)
      else projected.orderBy(col("score").asc_nulls_last, col("id").asc)
    ordered.limit(k)
  }

  /**
   * Scale path for the common case (no filter): run top-k over the
   * embeddings table ALONE, then join only the k winners to the metadata
   * table. At 100 TB this is the difference between shuffling the whole
   * `embeddings ⋈ documents` join through the scan (co-partitioned
   * shuffle of both tables) and a metadata lookup for k rows — the k-row
   * side is always broadcast, so the big table is never shuffled at all:
   * the plan is `scan embeddings → TakeOrderedAndProject(k) → broadcast
   * join → sort k rows`.
   *
   * The winners carry the embeddings key in its stored type next to the
   * string `id` (the output column and the tie-break). When both tables
   * store the key as the same type the join compares it as stored; only
   * mismatched key types fall back to comparing both sides as strings,
   * which casts every metadata key per request.
   *
   * With a filter on metadata columns the predicate must see the join, so
   * we fall back to join-then-bruteForce (the filter is still pushed into
   * the documents Parquet scan by Catalyst).
   */
  def searchWithMetadata(
      embeddings: DataFrame,
      metadata: DataFrame,
      joinKey: (String, String), // (embeddings id col, metadata id col)
      cfg: StoreConfig,
      queryVec: Array[Float],
      k: Int,
      filter: Map[String, String] = Map.empty,
      scoreScale: Option[Int] = None): DataFrame = {
    val (embId, metaId) = joinKey
    if (filter.nonEmpty) {
      val store = embeddings.join(metadata, embeddings(embId) === metadata(metaId))
      bruteForce(store, cfg, queryVec, k, filter, scoreScale)
    } else {
      require(k > 0, s"k must be a positive integer, got $k")
      GraftFunctions.register(embeddings.sparkSession)
      val qv = typedLit(queryVec.toSeq)
      val score = scoreScale.fold(cfg.strategy.score(col(cfg.embeddingCol), qv))(
        s => cfg.strategy.roundedScore(col(cfg.embeddingCol), qv, s))
      def keyType(df: DataFrame, c: String) = df.select(col(c)).schema.head.dataType
      val typedKey = keyType(embeddings, embId) == keyType(metadata, metaId)
      val scored = embeddings.select(
        col(embId).cast("string").as("id"), col(embId).as(WinnerKey), score.as("score"))
      val topK = orderedTopK(scored, cfg, k)
      val on =
        if (typedKey) topK(WinnerKey) === metadata(metaId)
        else topK("id") === metadata(metaId).cast("string")
      // k rows — always broadcast-able, regardless of metadata size.
      val joined = broadcast(topK)
        .join(metadata, on)
        .select(
          col("id"),
          col(cfg.titleCol).as("title"),
          col(cfg.vendorCol).as("vendor"),
          col(cfg.descriptionCol).as("description"),
          col("score"))
      orderedTopK(joined, cfg, k)
    }
  }

  /** The winners' embeddings key, in its stored type. */
  private val WinnerKey = "__winner_key"
}
