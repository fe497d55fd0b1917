package graft.api

import graft.SparkFunSuite
import graft.operators.StoreConfig
import org.apache.spark.sql.functions._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The HTTP transport end-to-end: reference routes, status codes, and
  * body shapes (/root/reference/app.py:267-405) over a real socket. */
class HttpApiSpec extends SparkFunSuite {

  private lazy val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
  private lazy val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
  private val cfg = StoreConfig(idCol = "vec_id", titleCol = "source",
    vendorCol = "lang", descriptionCol = "text")

  private lazy val vec: Seq[Float] =
    emb.where(col("vec_id") === 0).select("embedding").head.getSeq[Float](0)

  private val client = HttpClient.newHttpClient()

  /** Run `f` against a live server, always shutting it and its service
    * down. */
  private def withServer(embedder: Option[Embedder] = Some(new DeterministicEmbedder(64)))(
      f: Int => Unit): Unit =
    serve(new SearchService(spark, emb, docs, ("vec_id", "doc_id"),
      cfg, embedder, scoreScale = Some(6)))(f)

  private def serve(service: SearchService)(f: Int => Unit): Unit = {
    val server = new SearchHttpServer(service, cfg)
    val port = server.start()
    try f(port) finally { server.stop(); service.close() }
  }

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def obj(json: String): Map[String, Any] =
    JsonParse.parse(json).asInstanceOf[Map[String, Any]]

  test("POST /search with an embedding returns ranked hits (app.py:281-386)") {
    withServer() { port =>
      val body = s"""{"embedding": [${vec.mkString(", ")}], "k": 3}"""
      val r = post(port, "/search", body)
      assert(r.statusCode() === 200)
      val o = obj(r.body())
      assert(o("count") === java.lang.Double.valueOf(3))
      val hits = o("results").asInstanceOf[Vector[Any]]
        .map(_.asInstanceOf[Map[String, Any]])
      assert(hits.size === 3)
      assert(hits.head("id") === "0") // self-match ranks first
      assert(hits.head("score") === java.lang.Double.valueOf(1.0))
      assert(o.contains("search_time_ms"))
    }
  }

  test("POST /search text-query path via the configured embedder") {
    withServer() { port =>
      val r = post(port, "/search", """{"query": "hello world", "k": 2}""")
      assert(r.statusCode() === 200)
      assert(obj(r.body())("count") === java.lang.Double.valueOf(2))
    }
  }

  test("route-level 400s: empty body, non-list embedding, non-string query, bad k") {
    withServer() { port =>
      for ((body, fragment) <- Seq(
        ("", "Request body is required"),
        ("{}", "Request body is required"),
        ("""{"embedding": "oops"}""", "list of floats"),
        // beyond float32 range: would be scored as Infinity
        ("""{"embedding": [0.5, 1e39]}""", "list of floats"),
        ("""{"query": 7}""", "non-empty string"),
        ("""{"embedding": [1.0], "k": "four"}""", "k must be a positive integer"),
        ("""{"embedding": [1.0], "k": 1.5}""", "k must be a positive integer"),
        ("""{"embedding": [1.0], "index_tree_search_top_size": []}""",
          "index_tree_search_top_size must be a positive integer"))) {
        val r = post(port, "/search", body)
        assert(r.statusCode() === 400, s"body=$body → ${r.body()}")
        assert(r.body().contains(fragment), s"body=$body → ${r.body()}")
      }
    }
  }

  test("service-level statuses pass through: 400 both, 400 k<=0, 501 no embedder") {
    withServer(embedder = None) { port =>
      val both = post(port, "/search",
        s"""{"embedding": [1.0], "query": "x"}""")
      assert(both.statusCode() === 400)
      val badK = post(port, "/search", """{"embedding": [1.0], "k": 0}""")
      assert(badK.statusCode() === 400)
      val noEmbedder = post(port, "/search", """{"query": "hello"}""")
      assert(noEmbedder.statusCode() === 501)
    }
  }

  test("filter is forwarded (equality filter on the vendor column)") {
    withServer() { port =>
      val body = s"""{"embedding": [${vec.mkString(", ")}], "k": 5,
                    |"filter": {"lang": "en"}}""".stripMargin
      val r = post(port, "/search", body)
      assert(r.statusCode() === 200)
      val hits = obj(r.body())("results").asInstanceOf[Vector[Any]]
        .map(_.asInstanceOf[Map[String, Any]])
      assert(hits.nonEmpty)
      assert(hits.forall(_("vendor") === "en"))
    }
  }

  test("non-finite scores render as JSON null") {
    import spark.implicits._
    val e = Seq((1L, Array(Float.NaN, 1f, 1f)), (2L, Array(Float.PositiveInfinity, 1f, 1f)),
      (3L, Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
    val d = Seq(1L, 2L, 3L).map(i => (i, s"t$i", "en", s"d$i")).toDF("doc_id", "source", "lang", "text")
    val ip = cfg.copy(strategy = graft.operators.SearchStrategy.InnerProductSimilarity)
    serve(new SearchService(spark, e, d, ("vec_id", "doc_id"), ip, scoreScale = Some(6))) { port =>
      val r = post(port, "/search", """{"embedding": [1.0, 1.0, 1.0], "k": 3}""")
      assert(r.statusCode() === 200)
      // NaN sorts largest, then +Infinity: both are ranked, neither is JSON
      val hits = obj(r.body())("results").asInstanceOf[Vector[Any]]
        .map(_.asInstanceOf[Map[String, Any]])
      assert(hits.map(h => (h("id"), h("score"))) ===
        Vector(("1", null), ("2", null), ("3", java.lang.Double.valueOf(6.0))))
    }
  }

  test("GET /health and GET /config mirror the reference routes") {
    withServer() { port =>
      val h = get(port, "/health")
      assert(h.statusCode() === 200)
      assert(obj(h.body()) === Map("status" -> "ok"))
      val c = get(port, "/config")
      assert(c.statusCode() === 200)
      val co = obj(c.body())
      assert(co("table") === cfg.tableName)
      assert(co("search_strategy") === "CosineSimilarity")
      assert(co("index_enabled") === java.lang.Boolean.FALSE)
      assert(co("vector_pass_as_bytes") === java.lang.Boolean.TRUE)
    }
  }

  test("GET / serves the interactive page; unknown paths 404; GET /search 405") {
    withServer() { port =>
      val root = get(port, "/")
      assert(root.statusCode() === 200)
      assert(root.headers().firstValue("Content-Type").orElse("") === "text/html")
      val html = root.body()
      // the reference UI's observable surface: mode toggle, embedding
      // textarea, query input, k + top-size fields, POST to /search,
      // ranked table with score column
      Seq("name=mode", "id=\"emb\"", "id=\"q\"", "id=\"k\"", "id=\"ts\"",
        "fetch('/search'", "index_tree_search_top_size", "toFixed(4)")
        .foreach(frag => assert(html.contains(frag), frag))
      // input caps mirror the reference UI (templates/index.html:295,306):
      // k ≤ 100, topSize ≤ 1000
      assert(html.contains("id=\"k\" value=\"4\" min=\"1\" max=\"100\""))
      assert(html.contains("id=\"ts\" min=\"1\" max=\"1000\""))
      assert(get(port, "/nope").statusCode() === 404)
      assert(get(port, "/search").statusCode() === 405)
    }
  }

  test("stop() ends every non-daemon thread the server started") {
    def threads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).toSet
    val before = threads
    withServer() { port => assert(get(port, "/").statusCode() === 200) }
    val deadline = System.nanoTime() + 5000000000L
    val leaked = (threads -- before).filterNot(_.isDaemon)
    leaked.foreach(t => t.join(math.max(1L, (deadline - System.nanoTime()) / 1000000L)))
    val alive = leaked.filter(_.isAlive).map(_.getName)
    assert(alive.isEmpty, s"non-daemon threads alive after stop(): $alive")
  }

  test("JsonParse: nesting, escapes, numbers, and malformed input") {
    val v = JsonParse.parse(
      """{"a": [1, -2.5e2, "x\n\"yA"], "b": {"c": true, "d": null}}""")
      .asInstanceOf[Map[String, Any]]
    assert(v("a") === Vector(
      java.lang.Double.valueOf(1), java.lang.Double.valueOf(-250), "x\n\"yA"))
    assert(v("b") === Map("c" -> java.lang.Boolean.TRUE, "d" -> null))
    assert(JsonParse.parse("\"\\u0041\\u00e9\"") === "Aé")
    for (bad <- Seq("", "{", "[1,", "\"abc", "{\"a\" 1}", "tru", "{} x", "[1 2]"))
      intercept[IllegalArgumentException](JsonParse.parse(bad))
  }

  test("JsonUtil.quote: quotes, backslash, \\n\\r\\t, other control characters, non-ASCII") {
    import JsonUtil.quote
    assert(quote("") === "\"\"")
    assert(quote("say \"hi\"") === "\"say \\\"hi\\\"\"")
    assert(quote("a\\b") === "\"a\\\\b\"")
    assert(quote("1\n2\r3\t4") === "\"1\\n2\\r3\\t4\"")
    assert(quote("\u0000\u0001\u001f\b\f ") === "\"\\u0000\\u0001\\u001f\\u0008\\u000c \"")
    // DEL, Latin-1, CJK and a surrogate pair pass through as they are
    assert(quote("\u007fé漢\ud83d\ude00") === "\"\u007fé漢\ud83d\ude00\"")
    // any string round-trips through the parser
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val str = new String(Array.fill(rnd.nextInt(12))(
        if (rnd.nextBoolean()) rnd.nextInt(0x30).toChar else rnd.nextInt(0xd7ff).toChar))
      assert(JsonParse.parse(quote(str)) === str)
    }
  }
}
