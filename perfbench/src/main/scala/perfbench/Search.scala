package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api._
import graft.operators.{StoreConfig, VectorSearch}
import org.apache.spark.sql.SparkSession

/**
 * `POST /search` through `SearchHttpServer` -> `SearchService` over a
 * generated `embeddings ⋈ documents` store, driven by JDK `HttpClient`
 * threads in this process. Every response is checked afterwards, off the
 * clock, against an exact top-k computed in plain JVM code from the
 * generator functions.
 */
object Search {

  /** One search workload. `openRate` > 0 adds an open-loop phase at that
    * many requests per second ahead of the closed loop. */
  final case class Spec(name: String, nVec: Long, dim: Int, nDocs: Long, k: Int,
      clients: Int, openRate: Double, textShare: Double, filterShare: Double,
      setupReps: Int, warmup: Int)

  val Small: Spec = Spec("search_small", nVec = 2000, dim = 64, nDocs = 5000, k = 10,
    clients = 4, openRate = 6.0, textShare = 0.1, filterShare = 0.1, setupReps = 3, warmup = 60)
  val Large: Spec = Spec("search_large", nVec = 50000, dim = 768, nDocs = 50000, k = 10,
    clients = 1, openRate = 0.0, textShare = 0.0, filterShare = 0.0, setupReps = 1, warmup = 4)

  val Cfg: StoreConfig = StoreConfig(idCol = "vec_id", titleCol = "source",
    vendorCol = "lang", descriptionCol = "text")

  /** A request of the mix, with what the check needs to recompute it. */
  final case class Req(idx: Int, vec: Option[Array[Float]], text: Option[String], k: Int,
      lang: Option[String]) {
    lazy val body: String = {
      val parts = mutable.ArrayBuffer.empty[String]
      vec.foreach(v => parts += v.map(java.lang.Float.toString).mkString("\"embedding\": [", ", ", "]"))
      text.foreach(t => parts += s""""query": ${Json.str(t)}""")
      parts += s""""k": $k"""
      lang.foreach(l => parts += s""""filter": {"lang": ${Json.str(l)}}""")
      parts.mkString("{", ", ", "}")
    }
    def toRequest: SearchRequest = SearchRequest(embedding = vec.map(_.toSeq), query = text,
      k = Some(k), filter = lang.map(l => Map("lang" -> l)).getOrElse(Map.empty))
  }

  /** The seeded request mix: embedding, text and filtered requests. */
  def requests(seed: Long, spec: Spec, n: Int): IndexedSeq[Req] = {
    val c = DataGen.centers(seed, spec.dim)
    (0 until n).map { i =>
      val r = new DataGen.Rng(seed, 41, i)
      val u = r.unit()
      if (u < spec.textShare) {
        val words = Seq.fill(3 + r.int(6))(DataGen.Words(r.int(DataGen.Words.length)))
        Req(i, None, Some(words.mkString(" ")), spec.k, None)
      } else {
        val lang =
          if (u < spec.textShare + spec.filterShare) Some(DataGen.Langs(1 + r.int(5)))
          else None
        Req(i, Some(DataGen.vector(seed ^ 0x51L, i, c)), None, spec.k, lang)
      }
    }
  }

  /** Embedder wrapper that times the injected embedder from outside. */
  final class TimedEmbedder(inner: Embedder) extends Embedder {
    val calls = new AtomicLong
    val nanos = new AtomicLong
    override def embed(query: String): Either[String, Array[Float]] = {
      val t0 = System.nanoTime()
      try inner.embed(query)
      finally { nanos.addAndGet(System.nanoTime() - t0); calls.incrementAndGet() }
    }
  }

  /** One completed (or failed) request. */
  final case class Sample(req: Int, ms: Double, status: Int, body: String, error: String)

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()
    private val uri = URI.create(s"http://127.0.0.1:$port/search")
    /** Send `r`; latency counted from `fromNs` (its due time). */
    def send(r: Req, fromNs: Long): Sample = {
      val req = HttpRequest.newBuilder(uri).timeout(Duration.ofSeconds(60))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
      try {
        val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
        Sample(r.idx, (System.nanoTime() - fromNs) / 1e6, resp.statusCode(), resp.body(), null)
      } catch {
        case e: Exception => Sample(r.idx, (System.nanoTime() - fromNs) / 1e6, -1, null,
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }

  /** `clients` threads, each sending its next request when the last one
    * returns, for `ms` milliseconds or `count` requests, whichever ends
    * first. Returns the samples and the elapsed seconds. */
  def closedLoop(client: Client, reqs: IndexedSeq[Req], clients: Int, ms: Long,
      next: AtomicInteger, count: Int = Int.MaxValue): (Seq[Sample], Double) = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val sent = new AtomicInteger
    val start = System.nanoTime()
    val end = start + ms * 1000000L
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        while (System.nanoTime() < end && sent.getAndIncrement() < count) {
          val r = reqs(next.getAndIncrement() % reqs.length)
          out.add(client.send(r, System.nanoTime()))
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    (out.asScala.toSeq, (System.nanoTime() - start) / 1e9)
  }

  /** Requests due at a fixed `rate`/s for `ms`, sent by up to
    * [[Bench.Cpus]] client threads; each latency is timed from the
    * request's due time. Returns the samples and how late the generator
    * handed each request over. */
  def openLoop(client: Client, reqs: IndexedSeq[Req], rate: Double, ms: Long,
      next: AtomicInteger): (Seq[Sample], Seq[Double]) = {
    val pool = Executors.newFixedThreadPool(Bench.Cpus)
    val out = new ConcurrentLinkedQueue[Sample]()
    val late = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    val n = (ms / 1000.0 * rate).toInt
    (0 until n).foreach { i =>
      val due = start + (i / rate * 1e9).toLong
      val wait = due - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      late += (System.nanoTime() - due) / 1e6
      val r = reqs(next.getAndIncrement() % reqs.length)
      pool.submit(new Runnable { def run(): Unit = out.add(client.send(r, due)) })
    }
    pool.shutdown()
    pool.awaitTermination(120, TimeUnit.SECONDS)
    (out.asScala.toSeq, late.toSeq)
  }

  // ---------------------------------------------------------------- checks

  final case class Hit(id: String, title: String, vendor: String, description: String,
      score: Double)

  private val mapper = new ObjectMapper()

  def parseHits(body: String): (Seq[Hit], Int, Double) = {
    val n: JsonNode = mapper.readTree(body)
    val hits = n.get("results").elements().asScala.map { h =>
      Hit(h.get("id").asText(), h.get("title").asText(), h.get("vendor").asText(),
        h.get("description").asText(), h.get("score").asDouble())
    }.toSeq
    (hits, n.get("count").asInt(), n.get("search_time_ms").asDouble())
  }

  /** Same arithmetic as the engine's cosine kernel: float elements
    * promoted to double, one sequential pass. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Ranking order: score descending, then id ascending as a string. */
  private val rank: Ordering[(String, Double)] =
    Ordering.by[(String, Double), (Double, String)](h => (-h._2, h._1))

  /** Exact top-(k+5) per request, one pass over the store's ids,
    * regenerating each vector from the seed. */
  def expected(seed: Long, spec: Spec, reqs: Seq[Req]): Map[Int, Seq[(String, Double)]] = {
    val c = DataGen.centers(seed, spec.dim)
    val emb = new DeterministicEmbedder(64)
    val qs = reqs.map(r => r.vec.getOrElse(emb.embed(r.text.get).toOption.get)).toArray
    val keep = spec.k + 5
    val slices = Bench.Cpus
    val parts = (0 until slices).map { s =>
      val pool = Executors.newSingleThreadExecutor()
      val fut = pool.submit(() => {
        val heaps = Array.fill(qs.length)(mutable.PriorityQueue.empty[(String, Double)](rank))
        var id = s.toLong
        while (id < spec.nVec) {
          val v = DataGen.vector(seed, id, c)
          lazy val lang = DataGen.document(seed, id, spec.nDocs)._2
          var q = 0
          while (q < qs.length) {
            if (reqs(q).lang.forall(_ == lang)) {
              val h = heaps(q)
              h.enqueue((id.toString, cosine(v, qs(q))))
              if (h.size > keep) h.dequeue()
            }
            q += 1
          }
          id += slices
        }
        heaps.map(_.toSeq)
      })
      pool.shutdown()
      fut
    }
    val merged = parts.map(_.get())
    reqs.indices.map { q =>
      reqs(q).idx -> merged.flatMap(_(q)).sorted(rank).take(keep)
    }.toMap
  }

  /** Compare one response with the exact answer; None when it matches. */
  def check(seed: Long, spec: Spec, r: Req, body: String,
      exp: Seq[(String, Double)]): Option[String] = {
    val (hits, count, _) = parseHits(body)
    val want = exp.take(r.k)
    if (hits.length != want.length || count != hits.length)
      return Some(s"request ${r.idx}: ${hits.length} hits (count $count), expected ${want.length}")
    hits.zip(want).zipWithIndex.collectFirst {
      case ((h, (wid, ws)), i) if math.abs(h.score - ws) > 1e-6 ||
          (h.id != wid && !exp.exists(e => e._1 == h.id && math.abs(e._2 - h.score) <= 1e-6)) =>
        s"request ${r.idx} rank $i: got ${h.id}/${h.score}, expected $wid/$ws"
      case ((h, _), i) if {
          val (text, lang, source) = DataGen.document(seed, h.id.toLong, spec.nDocs)
          h.description != text || h.vendor != lang || h.title != source } =>
        s"request ${r.idx} rank $i: metadata of id ${h.id} does not match the store"
    }
  }

  // ------------------------------------------------------------------- run

  final class Store(spark: SparkSession, dir: String) {
    val embedder = new TimedEmbedder(new DeterministicEmbedder(64))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val service = new SearchService(spark, emb, docs, ("vec_id", "doc_id"), Cfg, Some(embedder))
    val server = new SearchHttpServer(service, Cfg)
    val port: Int = server.start()
    val client = new Client(port)
  }

  def run(spark: SparkSession, args: Bench.Args, spec: Spec): Bench.Outcome = {
    val reqs = requests(args.seed, spec, 4096)
    val ms = args.seconds * 1000L
    val failures = mutable.ArrayBuffer.empty[String]
    val samples = mutable.ArrayBuffer.empty[Sample]

    // Set-up: generate the store, open the service, serve one request.
    val setups = (0 until spec.setupReps).map { i =>
      val t0 = System.nanoTime()
      val dir = args.work.resolve(s"store$i").toString
      DataGen.writeEmbeddings(spark, dir, args.seed, spec.nVec, spec.dim)
      DataGen.writeDocuments(spark, dir, args.seed, spec.nDocs)
      val st = new Store(spark, dir)
      val first = st.client.send(reqs(0), System.nanoTime())
      require(first.status == 200, s"first request failed: ${first.status} ${first.error}")
      ((System.nanoTime() - t0) / 1e9, st)
    }
    setups.init.foreach(_._2.server.stop())
    val st = setups.last._2
    val setupS = Stats.median(setups.map(_._1))

    Bench.log("set-up done")
    val next = new AtomicInteger(1)
    // Warm-up: a fixed number of requests, so every run hands the JIT the
    // same work before timing starts.
    samples ++= closedLoop(st.client, reqs, Bench.Cpus, 60000L, next, spec.warmup)._1

    Bench.log("warm-up done")
    def latencyPhase(durMs: Long): (Seq[Sample], Seq[Double]) =
      if (spec.openRate > 0) openLoop(st.client, reqs, spec.openRate, durMs, next)
      else (closedLoop(st.client, reqs, spec.clients, durMs, next)._1, Nil)

    val openMs = if (spec.openRate > 0) ms * 7 / 10 else 0L
    val (open, late) = if (openMs > 0) latencyPhase(openMs) else (Nil, Nil)
    val closedMs = ms - openMs
    val (closed, closedS) = closedLoop(st.client, reqs, spec.clients, closedMs, next)
    samples ++= open ++= closed
    val latencySample = if (open.nonEmpty) open else closed
    val ok = (s: Seq[Sample]) => s.filter(_.status == 200).map(_.ms)
    val p50 = Stats.median(ok(latencySample))
    val p90 = Stats.pct(ok(latencySample), 0.9)
    val throughput = closed.count(_.status == 200) / closedS

    val report = mutable.ArrayBuffer.empty[String]
    report ++= Json.table(s"${spec.name} end to end (seed ${args.seed})", Seq(
      ("setup_s", setupS, "s"),
      ("latency_p50_ms", p50, s"ms (n=${latencySample.size}, " +
        (if (open.nonEmpty) s"open loop ${spec.openRate}/s)" else s"closed loop ${spec.clients} client)")),
      ("latency_p90_ms", p90, "ms"),
      ("throughput_rps", throughput, s"1/s (closed loop, ${spec.clients} clients, n=${closed.size})")))

    var metrics = Seq(
      Bench.Metric("setup_s", setupS, "s"),
      Bench.Metric("latency_p50_ms", p50, "ms"),
      Bench.Metric("latency_p90_ms", p90, "ms"),
      Bench.Metric("throughput_ops", throughput, "1/s"))

    if (args.trace) {
      val (m, lines, more) = tracedRun(spark, st, spec, reqs, ms, next, p50, latencyPhase)
      metrics = m
      report ++= lines
      samples ++= more
      if (late.nonEmpty) report += f"  loadgen.late_ms (p90) ${Stats.pct(late, 0.9)}%.4f ms"
    }

    Bench.log("measurement done")
    // Checks, off the clock: every response against the exact answer.
    samples.filter(_.status != 200).foreach { s =>
      failures += s"request ${s.req}: status ${s.status} ${Option(s.error).getOrElse(s.body)}"
    }
    val good = samples.filter(_.status == 200)
    val byReq = reqs.filter(r => good.exists(_.req == r.idx))
    val exp = expected(args.seed, spec, byReq)
    good.foreach { s =>
      check(args.seed, spec, reqs(s.req), s.body, exp(s.req)).foreach(failures += _)
    }
    report += s"  error_rate ${failures.size.toDouble / math.max(1, samples.size)} " +
      s"(${failures.size} of ${samples.size} requests failed or wrong; " +
      s"${byReq.size} distinct requests checked)"
    st.server.stop()
    Bench.Outcome(metrics, samples.size.toLong, failures.toSeq, report.toSeq)
  }

  /** The traced run: the latency phase again, alternating untraced and
    * traced blocks (tracing overhead), then one slice of the request
    * stream sent one request at a time three ways: over HTTP, straight
    * into `SearchService.search`, and through
    * `VectorSearch.searchWithMetadata` split into build / plan / execute. */
  private def tracedRun(spark: SparkSession, st: Store, spec: Spec, reqs: IndexedSeq[Req],
      ms: Long, next: AtomicInteger, untracedP50: Double,
      latencyPhase: Long => (Seq[Sample], Seq[Double]))
      : (Seq[Bench.Metric], Seq[String], Seq[Sample]) = {
    // Tracing overhead: the latency phase again in four alternating
    // blocks, untraced / traced / untraced / traced, so warm-up drift
    // does not pass for overhead.
    val blocks = (0 until 4).map { b =>
      val t = if (b % 2 == 1) Some(Trace.install(spark)) else None
      val (s, _) = latencyPhase(ms / 4)
      t.foreach(_.remove())
      (b % 2 == 1, s)
    }
    def blockP50(traced: Boolean) = Stats.median(
      blocks.filter(_._1 == traced).flatMap(_._2).filter(_.status == 200).map(_.ms))
    val (plainP50, tracedP50) = (blockP50(false), blockP50(true))
    val again = blocks.flatMap(_._2)

    val trace = Trace.install(spark)
    val jvm = new Trace.Jvm

    // One request at a time, the same slice of the stream for each path.
    val n = math.max(8, math.min(40, (ms / 4 / math.max(1.0, untracedP50)).toInt))
    val slice = (0 until n).map(i => reqs((next.get() + i) % reqs.length))
    val http = slice.map(r => st.client.send(r, System.nanoTime()))
    val reported = http.filter(_.status == 200).map(s => parseHits(s.body)._3)
    val e0 = (st.embedder.calls.get(), st.embedder.nanos.get())
    val service = slice.map { r =>
      val t0 = System.nanoTime()
      val out = st.service.search(r.toRequest)
      (r.idx, (System.nanoTime() - t0) / 1e6, out)
    }
    val serviceErrors = service.collect { case (i, ms, Left(e)) =>
      Sample(i, ms, e.status, null, s"SearchService: ${e.message}")
    }
    val embedCalls = st.embedder.calls.get() - e0._1
    val embedMs = (st.embedder.nanos.get() - e0._2) / 1e6

    trace.quiesce()
    val q0 = trace.queryCount
    val qi = trace.queryIndex
    val s0 = trace.snapshot()
    var results = 0L
    val layers = slice.zipWithIndex.map { case (r, i) =>
      val vec = r.vec.getOrElse(st.embedder.embed(r.text.get).toOption.get)
      val filter = r.lang.map(l => Map("lang" -> l)).getOrElse(Map.empty[String, String])
      val t0 = System.nanoTime()
      val df = Trace.tagged(spark, "build") {
        VectorSearch.searchWithMetadata(st.emb, st.docs, ("vec_id", "doc_id"), Cfg, vec, r.k, filter)
      }
      val t1 = System.nanoTime()
      Trace.tagged(spark, "exec")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      results += Trace.tagged(spark, "exec")(df.collect()).length
      val t3 = System.nanoTime()
      trace.awaitQueries(q0 + i + 1)
      ((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6)
    }
    val d = trace.snapshot() - s0
    val qs = trace.queriesSince(qi)
    trace.remove()

    val httpMs = Stats.median(http.filter(_.status == 200).map(_.ms))
    val serviceMs = Stats.median(service.map(_._2))
    val build = Stats.median(layers.map(_._1))
    val plan = Stats.median(layers.map(_._2))
    val exec = Stats.median(layers.map(_._3))
    val transport = httpMs - serviceMs
    val metrics = Seq(
      Bench.Metric("entry.op_ms", httpMs, "ms"),
      Bench.Metric("entry.unaccounted_ms", httpMs - build - plan - exec, "ms"),
      Bench.Metric("operators.build_ms", build, "ms"),
      Bench.Metric("operators.build_jobs", d.buildJobs.toDouble / n, "count"),
      Bench.Metric("exec.ms", exec, "ms"),
      Bench.Metric("trace.overhead_ratio", tracedP50 / plainP50, "ratio")) ++
      Trace.catalystMetrics(qs) ++ Trace.execMetrics(d, n, results.toDouble) ++ jvm.metrics
    val lines = Json.table(s"${spec.name} layers (traced, $n requests one at a time)", Seq(
      ("api.http_ms", httpMs, "ms"),
      ("api.service_ms", serviceMs, "ms"),
      ("api.transport_ms", transport, "ms"),
      ("api.reported_search_time_ms", Stats.median(reported), "ms"),
      ("api.unreported_ms", Stats.median(http.filter(_.status == 200).map(_.ms)
        .zip(reported).map { case (a, b) => a - b }), "ms"),
      ("embed.ms", if (embedCalls == 0) 0.0 else embedMs / embedCalls, "ms/call"),
      ("embed.calls", embedCalls.toDouble, "count"),
      ("operators.build_ms", build, "ms"),
      ("catalyst.plan_wall_ms", plan, "ms (optimize + physical planning, wall)"),
      ("exec.ms", exec, "ms (collect)"),
      ("accounted_share", (build + plan + exec + transport) / httpMs,
        "(build + plan + exec + transport) / http"),
      ("trace.latency_p50_ms", tracedP50, f"ms (untraced $plainP50%.4f, alternating blocks)")) ++
      Trace.graftRuleRows(qs) ++
      Seq(("streaming.batch_ms", d("streaming.batch_ms"), "ms"))
    )
    (metrics, lines, again ++ http ++ serviceErrors)
  }
}
