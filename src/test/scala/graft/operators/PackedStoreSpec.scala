package graft.operators

import graft.SparkFunSuite
import org.apache.spark.SparkConf
import org.apache.spark.sql.functions._

/** Where a packed `/search` store lives: on the driver when its packed
  * bytes fit the driver budget, else in Spark's cache. */
class PackedStoreSpec extends SparkFunSuite {

  private lazy val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
  private lazy val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
  private val cfg = StoreConfig(idCol = "vec_id", titleCol = "source",
    vendorCol = "lang", descriptionCol = "text")

  private def store(budget: Long) =
    new PackedStore(emb, docs, ("vec_id", "doc_id"), cfg, Some(budget))

  private def persisted = spark.sparkContext.getPersistentRDDs.size

  private lazy val q =
    emb.where(col("vec_id") === 3).select("embedding").head.getSeq[Float](0).toArray

  private lazy val joinedRows = emb.join(docs, col("vec_id") === col("doc_id")).count()

  private lazy val packedSize = {
    val probe = store(Long.MaxValue)
    try { probe.search(q, 1); probe.heldBytes } finally probe.close()
  }

  test("the budget gate: one byte below the packed size is distributed, equal is driver-held") {
    val want = VectorSearch.bruteForce(emb.join(docs, col("vec_id") === col("doc_id")),
      cfg, q, 10, Map("lang" -> "en")).collect().toSeq
    val size = packedSize
    assert(size > 0)
    for ((budget, jobsPerSearch) <- Seq(size - 1 -> 1, size -> 0)) {
      val s = store(budget)
      val before = persisted
      try {
        // one pass over the joined table: its plan's jobs (a broadcast)
        // and one job to read it
        val (parts, readJobs) = jobsRunBy {
          val rdd = s.table.queryExecution.toRdd
          rdd.count()
          rdd.getNumPartitions
        }
        val (_, firstJobs) = jobsRunBy(s.search(q, 1))
        // the first search packs the partitions one job each, while they
        // fit; a store above the budget then packs again in one job
        if (jobsPerSearch == 0) assert(firstJobs === readJobs - 1 + parts)
        else assert(firstJobs > readJobs && firstJobs <= readJobs + parts,
          s"budget $budget: $firstJobs jobs in the first search")
        assert(s.heldBytes === (1 - jobsPerSearch) * size)
        assert(s.packedRows.value === joinedRows)
        assert(persisted - before === jobsPerSearch, s"budget $budget: cached copies")
        val (got, jobs) = jobsRunBy((1 to 3).map(_ => s.search(q, 10, Map("lang" -> "en"))))
        assert(jobs === 3 * jobsPerSearch, s"budget $budget: jobs for 3 searches")
        got.foreach(g => assert(g === want, s"budget $budget"))
      } finally s.close()
      assert(persisted === before)
    }
  }

  test("driver budget: the smaller of maxResultSize and half the heap outside unified memory") {
    val mb = 1L << 20
    def budget(maxResult: String, heapMb: Long, fraction: Double = 0.6) =
      PackedStore.driverBudget(new SparkConf(false)
        .set("spark.driver.maxResultSize", maxResult)
        .set("spark.memory.fraction", fraction.toString), heapMb * mb)
    // a 3 GB heap: (3072 - 300) MB * 0.4 / 2 of user memory
    assert(budget("0", 3072) === ((3072 - 300) * mb * 0.4 / 2).toLong)
    assert(budget("100m", 3072) === 100 * mb)
    assert(budget("4g", 3072, fraction = 0.8) === ((3072 - 300) * mb * (1 - 0.8) / 2).toLong)
    // Spark's defaults, a 1 GB result cap and a 1 GB heap: the heap bounds
    assert(budget("1g", 1024) === ((1024 - 300) * mb * 0.4 / 2).toLong)
    // a heap at or below Spark's reserved memory holds nothing
    assert(budget("0", 300) === 0)
    assert(budget("0", 200) === 0)
  }

  test("an unlimited result budget on a small heap keeps the store in Spark's cache") {
    // no cap on results, but a heap whose user memory is too small for
    // the store: it must stay distributed
    val heap = 300L * (1 << 20) + 2 * packedSize
    val budget = PackedStore.driverBudget(
      new SparkConf(false).set("spark.driver.maxResultSize", "0"), heap)
    assert(budget < packedSize)
    val s = store(budget)
    val before = persisted
    try {
      s.search(q, 1)
      assert(persisted - before === 1, "the store was moved to the driver")
      val (_, jobs) = jobsRunBy(s.search(q, 10))
      assert(jobs === 1)
    } finally s.close()
    assert(persisted === before)
  }
}
