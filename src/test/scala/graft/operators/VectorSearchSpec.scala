package graft.operators

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

class VectorSearchSpec extends SparkFunSuite {

  private lazy val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
  private lazy val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
  private lazy val store = emb.join(docs, col("vec_id") === col("doc_id"))
  private val cfg = StoreConfig(idCol = "vec_id", titleCol = "source",
    vendorCol = "lang", descriptionCol = "text")

  private def qv: Array[Float] =
    emb.where(col("vec_id") === 0).select("embedding").head.getSeq[Float](0).toArray

  test("self-query ranks itself first with score 1.0 (cosine)") {
    val top = VectorSearch.bruteForce(store, cfg, qv, 4).collect()
    assert(top.length === 4)
    assert(top.head.getString(0) === "0")
    assert(math.abs(top.head.getDouble(4) - 1.0) < 1e-9)
    // strictly non-increasing scores
    val scores = top.map(_.getDouble(4))
    assert(scores.sliding(2).forall { case Array(x, y) => x >= y })
  }

  test("distance strategy sorts ascending; self-distance 0") {
    val top = VectorSearch.bruteForce(
      store, cfg.copy(strategy = SearchStrategy.EuclideanDistance), qv, 4).collect()
    assert(top.head.getString(0) === "0")
    assert(top.head.getDouble(4) === 0.0)
    val scores = top.map(_.getDouble(4))
    assert(scores.sliding(2).forall { case Array(x, y) => x <= y })
  }

  test("k validation: k <= 0 rejected (app.py:368-370 parity)") {
    intercept[IllegalArgumentException] {
      VectorSearch.bruteForce(store, cfg, qv, 0)
    }
  }

  test("filter×index exclusivity error (app.py:171-172 parity)") {
    intercept[IllegalArgumentException] {
      VectorSearch.bruteForce(store, cfg.copy(indexEnabled = true), qv, 4,
        Map("lang" -> "en"))
    }
  }

  test("filter keys restricted to the configured string columns") {
    intercept[IllegalArgumentException] {
      VectorSearch.bruteForce(store, cfg, qv, 4, Map("label" -> "3"))
    }
  }

  test("equality filter applies before top-k") {
    val top = VectorSearch.bruteForce(store, cfg, qv, 8, Map("lang" -> "en")).collect()
    assert(top.nonEmpty)
    assert(top.forall(_.getString(2) === "en"))
  }

  test("searchWithMetadata (top-k then join) == bruteForce over the join") {
    val a = VectorSearch.searchWithMetadata(emb, docs, ("vec_id", "doc_id"),
      cfg, qv, 10, Map.empty, Some(6)).collect()
    val b = VectorSearch.bruteForce(store, cfg, qv, 10, Map.empty, Some(6)).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("resident SearchService == searchWithMetadata over the raw tables (all strategies)") {
    import graft.api.{SearchHit, SearchRequest, SearchService}
    // the same store with its metadata key stored as a string: the k
    // winners then join on strings, and must still match the join
    val docsStr = docs.withColumn("doc_id", col("doc_id").cast("string"))
    val storeStr = emb.join(docsStr, col("vec_id") === col("doc_id"))
    val q = qv
    def hits(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(r =>
      SearchHit(r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    for (strategy <- SearchStrategy.all) {
      val c = cfg.copy(strategy = strategy)
      val typed = new SearchService(spark, emb, docs, ("vec_id", "doc_id"), c)
      val strKey = new SearchService(spark, emb, docsStr, ("vec_id", "doc_id"), c)
      try {
        for (filter <- Seq(Map.empty[String, String], Map("lang" -> "en")); k <- Seq(1, 4, 10)) {
          val req = SearchRequest(embedding = Some(q.toSeq), k = Some(k), filter = filter)
          val clue = s"${strategy.name} k=$k filter=$filter"
          val plain = hits(VectorSearch.searchWithMetadata(
            emb, docs, ("vec_id", "doc_id"), c, q, k, filter))
          assert(plain.length === k, clue)
          assert(typed.search(req).map(_.results) === Right(plain), clue)
          assert(strKey.search(req).map(_.results) ===
            Right(hits(VectorSearch.bruteForce(storeStr, c, q, k, filter))), clue)
        }
      } finally { typed.close(); strKey.close() }
    }
  }

  test("equal key types join the k winners as stored: no per-row cast(doc_id)") {
    val raw = VectorSearch.searchWithMetadata(emb, docs, ("vec_id", "doc_id"), cfg, qv, 4)
    // the packed store's one build joins the tables the same way
    val packed = new PackedStore(emb, docs, ("vec_id", "doc_id"), cfg).table
    for (df <- Seq(raw, packed)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("cast(doc_id"), plan)
    }
  }

  /** Hits with each score as its bits, so NaN equals NaN. */
  private def bits(hits: Seq[graft.api.SearchHit]) =
    hits.map(h => h.copy(score = None) -> h.score.map(java.lang.Double.doubleToLongBits))

  /** Every strategy × scoreScale ∈ {None, 6} × `filters` × `ks`: the
    * service's hits equal `bruteForce` over `e ⋈ d`. */
  private def assertPackedMatchesBruteForce(e: org.apache.spark.sql.DataFrame,
      d: org.apache.spark.sql.DataFrame, c: StoreConfig, q: Array[Float],
      filters: Seq[Map[String, String]], ks: Seq[Int], what: String): Unit = {
    import graft.api.{SearchRequest, SearchService}
    val joined = e.join(d, e("vec_id") === d("doc_id"))
    for (strategy <- SearchStrategy.all; scale <- Seq(None, Some(6))) {
      val sc = c.copy(strategy = strategy)
      val service = new SearchService(spark, e, d, ("vec_id", "doc_id"), sc, scoreScale = scale)
      try {
        for (filter <- filters; k <- ks) {
          val req = SearchRequest(embedding = Some(q.toSeq), k = Some(k), filter = filter)
          val want = VectorSearch.bruteForce(joined, sc, q, k, filter, scale).collect().toSeq
            .map(r => graft.api.SearchHit(r.getString(0), r.getString(1), r.getString(2),
              r.getString(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
          assert(service.search(req).map(h => bits(h.results)) === Right(bits(want)),
            s"$what: ${strategy.name} scale=$scale k=$k filter=$filter")
        }
      } finally service.close()
    }
  }

  test("packed SearchService == bruteForce over the join (strategies × scale × filter × k)") {
    assertPackedMatchesBruteForce(emb, docs, cfg, qv,
      Seq(Map.empty, Map("lang" -> "en")), Seq(1, 4, 10), "sf0.001")
  }

  test("packed SearchService == bruteForce on NULL, NaN, tied, orphan and odd-typed stores") {
    import spark.implicits._
    val nan = Float.NaN
    val inf = Float.PositiveInfinity
    // ids 7 and 16 tie exactly ("16" < "7" in byte order); 8 has no
    // metadata row; 3 is one dimension short
    val vectors: Seq[(Long, Option[Seq[java.lang.Float]])] = Seq(
      0L -> Some(Seq(1f, 2f, 3f)), 1L -> None, 2L -> Some(Seq(1f, null, 3f)),
      3L -> Some(Seq(1f, 2f)), 4L -> Some(Seq(0f, 0f, 0f)), 5L -> Some(Seq(1f, nan, 3f)),
      7L -> Some(Seq(3f, 2f, 1f)), 16L -> Some(Seq(3f, 2f, 1f)), 8L -> Some(Seq(1f, 2f, 3.5f)),
      9L -> Some(Seq(inf, 1f, 1f)), 10L -> Some(Seq(-1f, -2f, -3f)),
      11L -> Some(Seq(0.1f, 0.7f, -0.3f)), 12L -> Some(Seq(2f, 4f, 6f)),
      13L -> Some(Seq(-0f, 0f, 1e-30f)))
    val e = vectors.map { case (id, v) => (id, v.map(_.toArray).orNull) }
      .toDF("vec_id", "embedding")
    val d = vectors.map(_._1).filter(_ != 8L).map(id =>
      (id, if (id == 4L) null else s"title $id", if (id % 2 == 0) "a" else "b", s"text $id"))
      .toDF("doc_id", "source", "lang", "text")
    val q = Array(1f, 2f, 2.5f)
    val filters = Seq(Map.empty[String, String], Map("lang" -> "a"))
    val ks = Seq(3, 20)
    assertPackedMatchesBruteForce(e, d, cfg, q, filters, ks, "array<float>")
    assertPackedMatchesBruteForce(e, d.withColumn("doc_id", col("doc_id").cast("string")),
      cfg, q, filters, ks, "string metadata key")
    // passAsBytes: the wire format, plus one malformed payload
    graft.functions.GraftFunctions.register(spark)
    val bin = e.select(col("vec_id"), call_function("to_binary_vector", col("embedding"))
      .as("embedding"))
      .union(Seq((14L, Array[Byte](1, 2, 3))).toDF("vec_id", "embedding"))
    val dBin = d.union(Seq((14L, "title 14", "a", "text 14")).toDF("doc_id", "source", "lang", "text"))
    assertPackedMatchesBruteForce(bin, dBin, cfg, q, filters, ks, "binary")
    // array<double>, with an element no float32 holds
    val dbl = e.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .union(Seq((14L, Array(0.1, 0.2, 0.3))).toDF("vec_id", "embedding"))
    assertPackedMatchesBruteForce(dbl, dBin, cfg, q, filters, ks, "array<double>")
  }

  test("physical plan is TakeOrderedAndProject (no full sort/shuffle)") {
    val plan = VectorSearch.bruteForce(store, cfg, qv, 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("top-k result is invariant under input row order") {
    val shuffled = store.orderBy(rand(7))
    val a = VectorSearch.bruteForce(shuffled, cfg, qv, 6, Map.empty, Some(6)).collect()
    val b = VectorSearch.bruteForce(store, cfg, qv, 6, Map.empty, Some(6)).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("CosineDistance rounds the similarity, then subtracts (determinism shim)") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val d = Seq((Seq(1f, 2f, 3f), Seq(3f, 1f, 2f))).toDF("a", "b")
    val Array(row) = d.select(
      SearchStrategy.CosineDistance.roundedScore(col("a"), col("b"), 6).as("dist"),
      round(lit(1.0) - round(graft.functions.GraftFunctions
        .knnCosineSimilarity(col("a"), col("b")), 6), 6).as("expected"))
      .collect()
    assert(row.getDouble(0) === row.getDouble(1))
    // and top-k through the full path agrees with DESC-similarity order
    val distCfg = cfg.copy(strategy = SearchStrategy.CosineDistance)
    val simIds = VectorSearch.bruteForce(store, cfg, qv, 6, Map.empty, Some(6))
      .select("id").collect().map(_.getString(0)).toSeq
    val distIds = VectorSearch.bruteForce(store, distCfg, qv, 6, Map.empty, Some(6))
      .select("id").collect().map(_.getString(0)).toSeq
    assert(distIds === simIds)
  }

  test("strategy suffix rule drives sort direction (app.py:55)") {
    assert(SearchStrategy.CosineSimilarity.descending)
    assert(SearchStrategy.InnerProductSimilarity.descending)
    assert(!SearchStrategy.CosineDistance.descending)
    assert(!SearchStrategy.EuclideanDistance.descending)
    assert(!SearchStrategy.ManhattanDistance.descending)
    assert(SearchStrategy.fromString("CosineSimilarity") === SearchStrategy.CosineSimilarity)
    intercept[IllegalArgumentException](SearchStrategy.fromString("L2"))
  }
}
