package graft.api

import graft.SparkFunSuite
import graft.operators.StoreConfig
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** The §2.1 validation matrix, end-to-end through SearchService. */
class SearchApiSpec extends SparkFunSuite {

  private lazy val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
  private lazy val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
  private val cfg = StoreConfig(idCol = "vec_id", titleCol = "source",
    vendorCol = "lang", descriptionCol = "text")

  /** Run `f` against a service, always closing it. */
  private def withService(
      embedder: Option[Embedder] = None,
      c: StoreConfig = cfg)(f: SearchService => Unit): Unit = {
    val service = new SearchService(spark, emb, docs, ("vec_id", "doc_id"), c, embedder)
    try f(service) finally service.close()
  }

  private def vec: Seq[Float] =
    emb.where(col("vec_id") === 0).select("embedding").head.getSeq[Float](0)

  test("400: neither embedding nor query (app.py:328-332)") {
    withService() { svc =>
      assert(svc.search(SearchRequest()).left.exists(_.status === 400))
    }
  }

  test("400: both embedding and query (app.py:334-338)") {
    withService() { svc =>
      val r = svc.search(SearchRequest(embedding = Some(vec), query = Some("x")))
      assert(r.left.exists(_.status === 400))
    }
  }

  test("400: blank query string (app.py:344-345)") {
    withService() { svc =>
      assert(svc.search(SearchRequest(query = Some("   "))).left.exists(_.status === 400))
    }
  }

  test("501: text query without a configured embedder (app.py:349-351)") {
    withService(embedder = None) { svc =>
      assert(svc.search(SearchRequest(query = Some("hello"))).left.exists(_.status === 501))
    }
  }

  test("502: embedder failure (app.py:352-354)") {
    val failing = new Embedder {
      def embed(q: String) = Left("connection refused")
    }
    withService(Some(failing)) { svc =>
      val r = svc.search(SearchRequest(query = Some("hello")))
      assert(r.left.exists(e => e.status === 502 && e.message.contains("connection refused")))
    }
  }

  test("400: non-positive k (app.py:368-370)") {
    withService() { svc =>
      val r = svc.search(SearchRequest(embedding = Some(vec), k = Some(0)))
      assert(r.left.exists(e => e.status === 400 && e.message.contains("'k'")))
    }
  }

  test("400: non-positive index_tree_search_top_size (app.py:373-375)") {
    withService() { svc =>
      val r = svc.search(SearchRequest(embedding = Some(vec),
        indexTreeSearchTopSize = Some(-1)))
      assert(r.left.exists(_.status === 400))
    }
  }

  test("500: filter with index enabled (app.py:171-172 via 388-390)") {
    withService(c = cfg.copy(indexEnabled = true)) { svc =>
      val r = svc.search(SearchRequest(embedding = Some(vec), filter = Map("lang" -> "en")))
      assert(r.left.exists(_.status === 500))
    }
  }

  test("success shape: results/count/search_time_ms; default k = 4 (app.py:363)") {
    withService() { svc =>
      val r = svc.search(SearchRequest(embedding = Some(vec)))
      assert(r.isRight)
      val resp = r.toOption.get
      assert(resp.count === 4 && resp.results.length === 4)
      assert(resp.searchTimeMs > 0)
      assert(resp.results.head.id === "0") // self match
      assert(resp.results.head.score.exists(s => math.abs(s - 1.0) < 1e-9))
    }
  }

  test("text-query path end-to-end with the deterministic embedder") {
    withService(Some(new DeterministicEmbedder(64))) { svc =>
      val r = svc.search(SearchRequest(query = Some("fast table scan"), k = Some(3)))
      assert(r.isRight)
      assert(r.toOption.get.count === 3)
    }
  }

  test("deterministic embedder: stable, normalized, dimensioned") {
    val e = new DeterministicEmbedder(64)
    val a = e.embed("the quick fox").toOption.get
    val b = e.embed("the quick fox").toOption.get
    assert(a.toSeq === b.toSeq)
    assert(a.length === 64)
    val norm = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-6)
  }

  test("health: real constant query (app.py:89-102)") {
    withService()(svc => assert(svc.health()))
  }

  test("config echo contains the effective settings (app.py:393-405)") {
    withService() { svc =>
      val json = svc.configJson()
      assert(json.contains("\"search_strategy\": \"CosineSimilarity\""))
      assert(json.contains("\"index_enabled\": false"))
      assert(json.contains("\"default_k\": 4"))
    }
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("close() drops both resident projections from Spark's cache") {
    val before = persisted
    withService() { svc =>
      assert(svc.search(SearchRequest(embedding = Some(vec))).isRight)
      val added = persisted -- before
      assert(added.size === 1, "one packed store per service")
      assert(spark.sparkContext.getPersistentRDDs(added.head).getStorageLevel ===
        StorageLevel.MEMORY_ONLY)
      svc.close()
      assert((persisted -- before).isEmpty, "close() left the packed store cached")
    }
  }

  /** Bytes read through Hadoop file systems, the Parquet sources' path.
    * (A task's input `bytesRead` also counts cached blocks it reads.) */
  private def fileBytesRead: Long =
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator().asScala
      .map(s => Option(s.getLong("bytesRead")).fold(0L)(_.longValue)).sum

  test("once resident, requests read no source bytes and cache nothing new") {
    val jobsEnded = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobEnd(j: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
    }
    val v = vec
    withService(Some(new DeterministicEmbedder(64))) { svc =>
      val cold = fileBytesRead
      assert(svc.search(SearchRequest(embedding = Some(v))).isRight)
      assert(fileBytesRead > cold, "the build read the sources")
      val (resident, warm) = (persisted, fileBytesRead)
      spark.sparkContext.addSparkListener(listener)
      try {
        val requests = Seq(SearchRequest(embedding = Some(v)),
          SearchRequest(embedding = Some(v), k = Some(7)),
          SearchRequest(embedding = Some(v), filter = Map("lang" -> "en")),
          SearchRequest(query = Some("fast table scan")))
        requests.foreach(r => assert(svc.search(r).isRight, r))
        val deadline = System.currentTimeMillis() + 10000
        while (jobsEnded.get() < requests.size && System.currentTimeMillis() < deadline)
          Thread.sleep(10)
        Thread.sleep(200)
        assert(jobsEnded.get() === requests.size, "one job per request")
        assert(fileBytesRead === warm)
        assert(persisted === resident)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("8 concurrent first requests: one packed build, identical answers") {
    val before = persisted
    withService() { svc =>
      val gate = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val answers = (1 to 8).map { _ =>
          pool.submit(() => {
            gate.await()
            svc.search(SearchRequest(embedding = Some(vec), k = Some(5))).map(_.results)
          })
        }
        gate.countDown()
        val got = answers.map(_.get())
        assert(got.forall(_.isRight), got)
        assert(got.distinct.size === 1, got)
        assert((persisted -- before).size === 1)
        // every row of the join packed once: no partition built twice
        assert(svc.store.packedRows.value ===
          emb.join(docs, col("vec_id") === col("doc_id")).count())
      } finally pool.shutdown()
    }
  }

  test("HttpEmbedder speaks the reference wire contract (local stub server)") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var seenBody: String = ""
    val bodies = Map(
      "/embed" -> """{"Embedding": [0.5, -0.25, 0.125]}""",
      // decoys before the real key: inside a string value, and nested
      "/decoy" -> ("""{"Note": "not \"Embedding\": [9]", "Meta": {"Embedding": [9]}, """ +
        """"Embedding": [0.5, -0.25, 0.125]}"""),
      "/nested" -> """{"Data": {"Embedding": [9]}}""",
      "/strings" -> """{"Embedding": ["0.5"]}""")
    bodies.foreach { case (path, body) =>
      server.createContext(path, (ex: com.sun.net.httpserver.HttpExchange) => {
        seenBody = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val resp = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, resp.length)
        ex.getResponseBody.write(resp)
        ex.close()
      })
    }
    server.start()
    try {
      def embed(path: String) = new HttpEmbedder(
        s"http://127.0.0.1:${server.getAddress.getPort}$path").embed("hello world")
      val got = embed("/embed")
      assert(got.isRight)
      assert(got.toOption.get.toSeq === Seq(0.5f, -0.25f, 0.125f))
      // request carries the reference's TextSegments payload (app.py:129)
      assert(seenBody.contains("\"TextSegments\""))
      assert(seenBody.contains("\"query\": \"hello world\""))
      // only the top-level "Embedding" array of numbers counts
      assert(embed("/decoy").toOption.map(_.toSeq) === Some(Seq(0.5f, -0.25f, 0.125f)))
      assert(embed("/nested").isLeft)
      assert(embed("/strings").isLeft)
    } finally server.stop(0)
  }

  test("HttpEmbedder: one HttpClient, so one selector thread, serves every call") {
    def selectors = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).toSet
      .filter(t => t.isAlive && t.getName.matches("HttpClient-\\d+-SelectorManager"))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/embed", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      val resp = """{"Embedding": [1.0, 0.0]}""".getBytes("UTF-8")
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    server.start()
    try {
      val before = selectors
      val e = new HttpEmbedder(s"http://127.0.0.1:${server.getAddress.getPort}/embed")
      (1 to 20).foreach(i => assert(e.embed(s"query $i").isRight, s"call $i"))
      val started = (selectors -- before).map(_.getName)
      assert(started.size <= 1, s"selector threads alive after 20 calls: $started")
    } finally server.stop(0)
  }

  test("HttpEmbedder: non-2xx -> Left (maps to 502)") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/embed", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(500, -1); ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/embed"
      assert(new HttpEmbedder(url).embed("x").isLeft)
    } finally server.stop(0)
  }
}
