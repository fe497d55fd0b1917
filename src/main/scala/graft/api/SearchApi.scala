package graft.api

import graft.operators.{PackedStore, StoreConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The request/response surface of the engine — the Spark mirror of the
 * reference's Flask API contract (reference: /root/reference/app.py:281-405).
 * Transport (HTTP) is out of scope; the observable semantics — the
 * validation matrix, status codes, response shape, health probe, and
 * config echo — are reproduced exactly.
 */

/** JSON body of `POST /search` (app.py:315, 358-375). */
final case class SearchRequest(
    embedding: Option[Seq[Float]] = None,
    query: Option[String] = None,
    k: Option[Int] = None,
    indexTreeSearchTopSize: Option[Int] = None,
    filter: Map[String, String] = Map.empty)

/** One result row (app.py:217-222, 249-254). */
final case class SearchHit(
    id: String,
    title: String,
    vendor: String,
    description: String,
    score: Option[Double])

/** Success envelope (app.py:382-386). */
final case class SearchResponse(
    results: Seq[SearchHit],
    count: Int,
    searchTimeMs: Double)

/** Error outcomes, keyed by the reference's HTTP status semantics. */
sealed abstract class ApiError(val status: Int, val message: String)
object ApiError {
  /** 400 — request validation failures (app.py:318-375). */
  final case class BadRequest(msg: String) extends ApiError(400, msg)
  /** 501 — text query given but no embedding API configured (app.py:349-351). */
  case object EmbedderNotConfigured
      extends ApiError(501, "Embedding API is not configured")
  /** 502 — embedding API call failed (app.py:352-354). */
  final case class EmbedderFailed(detail: String)
      extends ApiError(502, s"Failed to get embedding: $detail")
  /** 500 — anything else, incl. the filter×index error (app.py:171-172, 388-390). */
  final case class Internal(msg: String) extends ApiError(500, msg)
}

/**
 * Text → embedding enrichment (A1): the reference calls an external HTTP
 * API with `{"TextSegments": {"query": q}}` and reads `{"Embedding":
 * [...]}` back (app.py:105-154). The trait is the engine-side seam;
 * [[DeterministicEmbedder]] is the offline implementation used in tests,
 * [[HttpEmbedder]] speaks the reference's wire contract.
 */
trait Embedder {
  /** Left = failure detail (maps to 502), Right = the embedding. */
  def embed(query: String): Either[String, Array[Float]]
}

/**
 * Deterministic hash-projection embedder: tokens are hashed into `dim`
 * buckets with alternating sign, then L2-normalized. Not a semantic
 * model — a reproducible stand-in with the right signature and
 * distribution shape, so the full text-query path is testable offline.
 */
final class DeterministicEmbedder(dim: Int = 64) extends Embedder {
  override def embed(query: String): Either[String, Array[Float]] = {
    if (query == null) return Left("query is null")
    val v = new Array[Float](dim)
    query.split("\\s+").filter(_.nonEmpty).foreach { tok =>
      val h = graft.functions.TextHashKernels.fnv1a64(
        tok.getBytes("UTF-8"), 0, tok.getBytes("UTF-8").length)
      val bucket = ((h % dim) + dim).toInt % dim
      val sign = if (((h >>> 62) & 1L) == 0L) 1f else -1f
      v(bucket) += sign
    }
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (norm == 0.0) Right(v) else Right(v.map(x => (x / norm).toFloat))
  }
}

/**
 * HTTP embedder speaking the reference contract (app.py:129-150):
 * POST `{"TextSegments": {"query": q}}`, parse `{"Embedding": [floats]}`.
 * 30 s timeout mirrors app.py:130-135. One `HttpClient` serves every
 * call: each client owns a selector thread and a connection pool.
 */
final class HttpEmbedder(url: String, timeoutMs: Int = 30000) extends Embedder {
  private val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofMillis(timeoutMs)).build()

  override def embed(query: String): Either[String, Array[Float]] = {
    try {
      val body = s"""{"TextSegments": {"query": ${JsonUtil.quote(query)}}}"""
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofMillis(timeoutMs))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() / 100 != 2)
        return Left(s"embedding API returned status ${resp.statusCode()}")
      JsonParse.parse(resp.body()) match {
        case obj: Map[_, _] => obj.asInstanceOf[Map[String, Any]].get("Embedding") match {
          case Some(xs: Vector[_]) if xs.forall(_.isInstanceOf[java.lang.Double]) =>
            Right(xs.map(_.asInstanceOf[java.lang.Double].floatValue()).toArray)
          case _ => Left("response has no 'Embedding' array of numbers")
        }
        case _ => Left("response is not a JSON object")
      }
    } catch {
      case e: Exception => Left(e.getMessage)
    }
  }
}

/** JSON string quoting for the hand-rendered response bodies; parsing
  * is [[JsonParse]]'s (no external dependency: the build is
  * intentionally dependency-free). */
private[api] object JsonUtil {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/**
 * A2–A4: validated search execution, health probe, config echo.
 *
 * The validation matrix (SURVEY.md §2.1) is applied in the reference's
 * order (app.py:318-375); query execution delegates to the operator
 * layer ([[PackedStore]]), which at 100 TB means the only driver-side
 * materialization is k result rows per task.
 *
 * The store is served resident, the way the reference's YDB table stays
 * on its server: the first request builds the reference's one table
 * from `embeddings ⋈ metadata` and keeps it packed in memory, and every
 * request (filtered or not) is one Spark job over it. What stays
 * resident is decoded input, not results: every request still scores
 * every vector. The service serves the snapshot its DataFrames pinned;
 * [[close]] releases the cache.
 */
final class SearchService(
    spark: SparkSession,
    embeddings: DataFrame,
    metadata: DataFrame,
    joinKey: (String, String),
    cfg: StoreConfig,
    embedder: Option[Embedder] = None,
    scoreScale: Option[Int] = None) {

  private[graft] val store = new PackedStore(embeddings, metadata, joinKey, cfg)

  /** Drop the packed store from Spark's cache; later requests read the
    * source again. */
  def close(): Unit = store.close()

  /** Full `/search` semantics (app.py:281-390). */
  def search(req: SearchRequest): Either[ApiError, SearchResponse] = {
    for {
      vec <- resolveEmbedding(req)
      k <- positive(req.k.getOrElse(cfg.defaultK), "k")          // app.py:363,368-370
      _ <- positive(req.indexTreeSearchTopSize.getOrElse(cfg.searchTopSize),
        "index_tree_search_top_size")                             // app.py:364,373-375
      resp <- execute(vec, k, req.filter)
    } yield resp
  }

  private def positive(v: Int, name: String): Either[ApiError, Int] =
    if (v > 0) Right(v)
    else Left(ApiError.BadRequest(s"'$name' must be a positive integer"))

  private def resolveEmbedding(req: SearchRequest): Either[ApiError, Array[Float]] =
    (req.embedding, req.query) match {
      case (None, None) =>
        Left(ApiError.BadRequest("Either 'embedding' or 'query' must be provided")) // app.py:328-332
      case (Some(_), Some(_)) =>
        Left(ApiError.BadRequest("Provide either 'embedding' or 'query', not both")) // app.py:334-338
      case (Some(e), None) => Right(e.toArray)
      case (None, Some(q)) =>
        if (q.trim.isEmpty)
          Left(ApiError.BadRequest("'query' must be a non-empty string")) // app.py:344-345
        else embedder match {
          case None => Left(ApiError.EmbedderNotConfigured) // app.py:349-351
          case Some(emb) => emb.embed(q).left.map(ApiError.EmbedderFailed(_)) // app.py:352-354
        }
    }

  private def execute(
      vec: Array[Float], k: Int,
      filter: Map[String, String]): Either[ApiError, SearchResponse] = {
    try {
      // Timing mirrors the reference: wall clock around the whole execute
      // (app.py:245-247) — the store's build on the first request, then
      // the search job.
      val t0 = System.nanoTime()
      val rows = store.search(vec, k, filter, scoreScale)
      val ms = (System.nanoTime() - t0) / 1e6
      val hits = rows.map { r =>
        SearchHit(
          id = r.getString(0),
          title = r.getString(1),
          vendor = r.getString(2),
          description = r.getString(3),
          score = if (r.isNullAt(4)) None else Some(r.getDouble(4)))
      }
      Right(SearchResponse(hits, hits.length, ms))
    } catch {
      // Filter×index and any other engine error → 500 (app.py:388-390).
      case e: Exception => Left(ApiError.Internal(
        Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
    }
  }

  /** A3 — startup probe: run a real constant query and check the result
    * (app.py:89-102). */
  def health(): Boolean =
    try spark.sql("SELECT 1 AS test").head().getInt(0) == 1
    catch { case _: Exception => false }

  /** A4 — effective-config echo (app.py:393-405). */
  def configJson(): String = {
    import JsonUtil.quote
    Seq(
      "id_column" -> quote(cfg.idCol),
      "title_column" -> quote(cfg.titleCol),
      "vendor_column" -> quote(cfg.vendorCol),
      "description_column" -> quote(cfg.descriptionCol),
      "embedding_column" -> quote(cfg.embeddingCol),
      "search_strategy" -> quote(cfg.strategy.name),
      "index_enabled" -> cfg.indexEnabled.toString,
      "index_tree_search_top_size" -> cfg.searchTopSize.toString,
      "default_k" -> cfg.defaultK.toString
    ).map { case (k, v) => s"${quote(k)}: $v" }.mkString("{", ", ", "}")
  }
}
