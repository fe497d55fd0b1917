package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * Seeded generators for every table the benchmark reads. Each value is a
 * pure function of `(seed, table, id)`, so a row can be regenerated
 * without Spark — the search checks recompute exact top-k from these
 * functions instead of keeping the store in memory.
 *
 * Shapes and value domains follow the project's sf tables (TPC-H-like
 * star schema, `events`, `documents`, `embeddings`); sizes scale with
 * `sf` the same way (lineitem = 6M x sf, documents = 50k x sf, ...).
 */
object DataGen {

  /** SplitMix64 finalizer: a well-mixed 64-bit hash. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Small deterministic PRNG for one generated row. */
  final class Rng(seed: Long, salt: Long, id: Long) {
    private var s = mix(mix(seed ^ (salt * 0x632BE59BD9B4E019L)) + id)
    def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; mix(s) }
    /** Uniform in [0, n). */
    def int(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
    /** Uniform in [0, 1). */
    def unit(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    /** Approximate standard normal (sum of four uniforms). */
    def gauss(): Double = (unit() + unit() + unit() + unit() - 2.0) * 1.7320508
    def money(lo: Double, hi: Double): Double =
      math.round((lo + unit() * (hi - lo)) * 100) / 100.0
  }

  val Words: Array[String] = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast row the " +
    "agg key query a scan batch").split(" ")
  val Langs: Array[String] = Array("en", "en", "de", "es", "fr", "zh")
  val Labels = 10

  // ------------------------------------------------------------ documents

  private final val DocSalt = 11L
  private final val DupSalt = 12L

  /** Word sequence of a document, before any near-duplicate suffix. */
  def baseText(seed: Long, id: Long): String = {
    val r = new Rng(seed, DocSalt, id)
    val n = 10 + r.int(91)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb += ' '
      sb ++= Words(r.int(Words.length))
      i += 1
    }
    sb.result()
  }

  /** (text, lang, source) of document `id` in a corpus of `n` documents.
    * One document in twenty repeats another one's text plus " dup". */
  def document(seed: Long, id: Long, n: Long): (String, String, String) = {
    val r = new Rng(seed, DupSalt, id)
    val text =
      if (r.int(20) == 0) baseText(seed, java.lang.Math.floorMod(r.nextLong(), n)) + " dup"
      else baseText(seed, id)
    (text, Langs(r.int(Langs.length)), s"src${id % 20}")
  }

  // ----------------------------------------------------------- embeddings

  private final val VecSalt = 21L
  private final val CenterSalt = 22L

  /** Per-label cluster centres, shared by all vectors of a store. */
  def centers(seed: Long, dim: Int): Array[Array[Double]] =
    Array.tabulate(Labels) { l =>
      val r = new Rng(seed, CenterSalt, l.toLong * 4096 + dim)
      Array.fill(dim)(r.gauss())
    }

  /** Label of vector `id`. */
  def label(seed: Long, id: Long): Int = new Rng(seed, VecSalt, id).int(Labels)

  /** Unit-norm float vector `id`: its label's centre plus noise. */
  def vector(seed: Long, id: Long, c: Array[Array[Double]]): Array[Float] = {
    val r = new Rng(seed, VecSalt, id)
    val centre = c(r.int(Labels))
    val dim = centre.length
    val v = new Array[Double](dim)
    var norm = 0.0
    var j = 0
    while (j < dim) {
      val x = centre(j) + 3.0 * (r.unit() - 0.5)
      v(j) = x
      norm += x * x
      j += 1
    }
    val inv = 1.0 / math.sqrt(norm)
    val out = new Array[Float](dim)
    j = 0
    while (j < dim) { out(j) = (v(j) * inv).toFloat; j += 1 }
    out
  }

  // --------------------------------------------------------------- writers

  private def write(spark: SparkSession, dir: String, name: String, n: Long,
      schema: StructType)(row: Long => Row): Unit = {
    val parts = math.max(1, math.min(4, (n / 2000).toInt))
    val rdd = spark.sparkContext.range(0L, n, 1L, parts).map(row)
    spark.createDataFrame(rdd, schema).write.mode("overwrite")
      .option("compression", "snappy").parquet(s"$dir/$name.parquet")
  }

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)

  /** `embeddings(vec_id, embedding, label)`. Built through a typed
    * Dataset so the vectors reach Parquet as primitive arrays. */
  def writeEmbeddings(spark: SparkSession, dir: String, seed: Long, n: Long, dim: Int): Unit = {
    import spark.implicits._
    val c = centers(seed, dim)
    spark.range(0L, n, 1L, math.max(1, math.min(4, (n / 2000).toInt)))
      .map(id => (id.longValue(), vector(seed, id, c), label(seed, id)))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").option("compression", "snappy")
      .parquet(s"$dir/embeddings.parquet")
  }

  /** `documents(doc_id, text, lang, source, n_chars)`. */
  def writeDocuments(spark: SparkSession, dir: String, seed: Long, n: Long): Unit =
    write(spark, dir, "documents", n, StructType(Seq(f("doc_id", LongType),
      f("text", StringType), f("lang", StringType), f("source", StringType),
      f("n_chars", LongType)))) { id =>
      val (text, lang, source) = document(seed, id, n)
      Row(id, text, lang, source, text.length.toLong)
    }

  private val Day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val Event0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  /** The full sf table set the batch pipeline rows read. */
  def writeSfTables(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLine = n(6000000); val nEvents = n(1000000)
    val nUsers = n(15000)

    write(spark, dir, "region", 5, StructType(Seq(f("r_regionkey", IntegerType),
      f("r_name", StringType)))) { id =>
      Row(id.toInt, Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(id.toInt))
    }
    write(spark, dir, "nation", 25, StructType(Seq(f("n_nationkey", IntegerType),
      f("n_name", StringType), f("n_regionkey", IntegerType)))) { id =>
      Row(id.toInt, s"NATION_$id", (id % 5).toInt)
    }
    write(spark, dir, "supplier", nSupp, StructType(Seq(f("s_suppkey", LongType),
      f("s_name", StringType), f("s_nationkey", IntegerType), f("s_acctbal", DoubleType)))) { id =>
      val r = new Rng(seed, 31, id)
      Row(id, f"Supplier#$id%09d", r.int(25), r.money(-999.99, 9999.99))
    }
    val segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    write(spark, dir, "customer", nCust, StructType(Seq(f("c_custkey", LongType),
      f("c_name", StringType), f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
      f("c_mktsegment", StringType)))) { id =>
      val r = new Rng(seed, 32, id)
      Row(id, f"Customer#$id%09d", r.int(25), r.money(-999.99, 9999.99),
        segments(r.int(segments.length)))
    }
    val adj = Array("blue", "cold", "hot", "red", "small", "new", "old", "large")
    val noun = Array("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo")
    val types = Array("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
    write(spark, dir, "part", nPart, StructType(Seq(f("p_partkey", LongType),
      f("p_name", StringType), f("p_brand", StringType), f("p_type", StringType),
      f("p_size", IntegerType), f("p_retailprice", DoubleType)))) { id =>
      val r = new Rng(seed, 33, id)
      Row(id, s"${adj(r.int(adj.length))} ${noun(r.int(noun.length))}",
        s"Brand#${1 + r.int(25)}", types(r.int(types.length)), 1 + r.int(50),
        900.0 + (id % 1000) / 10.0)
    }
    val status = Array("O", "P", "F")
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write(spark, dir, "orders", nOrders, StructType(Seq(f("o_orderkey", LongType),
      f("o_custkey", LongType), f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType)))) { id =>
      val r = new Rng(seed, 34, id)
      Row(id, r.int(nCust.toInt).toLong, status(r.int(3)), r.money(1000, 500000),
        Day0.plusDays(r.int(2404)), prio(r.int(prio.length)))
    }
    val flags = Array("A", "N", "R")
    write(spark, dir, "lineitem", nLine, StructType(Seq(f("l_orderkey", LongType),
      f("l_partkey", LongType), f("l_suppkey", LongType), f("l_linenumber", IntegerType),
      f("l_quantity", DoubleType), f("l_extendedprice", DoubleType), f("l_discount", DoubleType),
      f("l_tax", DoubleType), f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType)))) { id =>
      val r = new Rng(seed, 35, id)
      Row(r.int(nOrders.toInt).toLong, r.int(nPart.toInt).toLong, r.int(nSupp.toInt).toLong,
        1 + r.int(7), (1 + r.int(50)).toDouble, r.money(900, 105000), r.int(11) / 100.0,
        r.int(9) / 100.0, flags(r.int(3)), if (r.int(2) == 0) "O" else "F",
        Day0.plusDays(1 + r.int(2498)))
    }
    val kinds = Array("signup", "click", "error", "view", "purchase")
    val spanS = 30L * 24 * 3600
    write(spark, dir, "events", nEvents, StructType(Seq(f("event_id", LongType),
      f("ts", TimestampNTZType), f("user_id", LongType), f("event_type", StringType),
      f("value", DoubleType), f("props", StringType)))) { id =>
      val r = new Rng(seed, 36, id)
      val micros = ((id.toDouble + r.unit()) / nEvents * spanS * 1e6).toLong
      Row(id, Event0.plusNanos(micros * 1000), r.int(nUsers.toInt).toLong,
        kinds(r.int(kinds.length)), math.round(-math.log(1 - r.unit()) * 2000) / 100.0,
        s"""{"k": ${r.int(100)}}""")
    }
    writeDocuments(spark, dir, seed, n(50000))
    writeEmbeddings(spark, dir, seed, math.max(500L, n(20000)), 64)
  }

  /** Standalone entry point: `DataGen <dir> <seed> <sf>` writes the sf
    * table set, e.g. to cross-check pipeline pins against an oracle. */
  def main(args: Array[String]): Unit = {
    val Array(dir, seed, sf) = args
    val spark = Bench.session()
    writeSfTables(spark, dir, seed.toLong, sf.toDouble)
    spark.stop()
  }
}
