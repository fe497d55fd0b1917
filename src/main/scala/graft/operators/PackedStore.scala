package graft.operators

import graft.functions.VectorKernels
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType, FloatType}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator

import scala.util.Try

/**
 * The `/search` store packed for serving: the reference's one table
 * (id, title, vendor, description, embedding; app.py:212-227), built
 * once from `embeddings ⋈ metadata` on the join key. Each partition is
 * packed into [[PackedStore.Block]]s (the strings, plus the vectors in
 * one primitive array, binary wire-format vectors decoded once) and the
 * blocks are persisted `MEMORY_ONLY`.
 *
 * A request is one Spark job over the blocks: each task applies the
 * conjunctive equality filter, scores rows with the primitive-array
 * [[VectorKernels]] and keeps a local top-k, and the driver merges at
 * most k rows per task. No plan is built per request and no cached row
 * is decoded. The result equals [[VectorSearch.bruteForce]] over the
 * join, row for row: the same validation, NULL scores, HALF_UP rounding
 * and order (strategy direction with NULLs last in Spark's double order,
 * then `id` in byte order). An embedding with no metadata row is never
 * ranked.
 *
 * The first search builds and fills the store; concurrent first
 * searches wait for that one build. A block that does not fit in memory
 * is recomputed from the source by each search that reads it.
 */
final class PackedStore(
    embeddings: DataFrame,
    metadata: DataFrame,
    joinKey: (String, String), // (embeddings key col, metadata key col)
    cfg: StoreConfig) {
  import PackedStore._

  /** Rows packed so far: the table's row count once the store is
    * resident; more means blocks were evicted and packed again. */
  private[graft] val packedRows: LongAccumulator =
    embeddings.sparkSession.sparkContext.longAccumulator("packed /search rows")

  /** The joined table, projected to (id, title, vendor, description,
    * embedding). A column is taken from the table that has it, the
    * embeddings first for id and vector, the metadata first for text. */
  private[graft] def table: DataFrame = {
    def from(first: DataFrame, second: DataFrame)(c: String): Column =
      if (Try(first.col(c)).isSuccess) first.col(c) else second.col(c)
    val emb = from(embeddings, metadata) _
    val meta = from(metadata, embeddings) _
    embeddings.join(metadata, embeddings.col(joinKey._1) === metadata.col(joinKey._2))
      .select(emb(cfg.idCol).cast("string"), meta(cfg.titleCol).cast("string"),
        meta(cfg.vendorCol).cast("string"), meta(cfg.descriptionCol).cast("string"),
        emb(cfg.embeddingCol))
  }

  private var packed: RDD[Block] = _

  private def blocks: RDD[Block] = synchronized {
    if (packed == null) {
      val t = table
      val (binary, double) = t.schema.last.dataType match {
        case ArrayType(FloatType, _) => (false, false)
        case ArrayType(DoubleType, _) => (false, true)
        case BinaryType => (true, false)
        case other => throw new IllegalArgumentException(
          s"Embedding column '${cfg.embeddingCol}' must be array<float>, array<double> " +
            s"or binary (packed float32), got ${other.sql}")
      }
      val rows = packedRows
      packed = t.queryExecution.toRdd
        .mapPartitions(it => pack(it, binary, double, rows))
        .setName(s"packed /search store ${cfg.tableName}")
        .persist(StorageLevel.MEMORY_ONLY)
    }
    packed
  }

  /** Top-k rows (id, title, vendor, description, score), as
    * `bruteForce(embeddings ⋈ metadata, …).collect()` returns them. */
  def search(
      queryVec: Array[Float],
      k: Int,
      filter: Map[String, String] = Map.empty,
      scoreScale: Option[Int] = None): Seq[Row] = {
    VectorSearch.validate(cfg, k, filter)
    val column = Map(cfg.titleCol -> 1, cfg.vendorCol -> 2, cfg.descriptionCol -> 3)
    val preds = filter.toArray.map { case (c, v) => (column(c), UTF8String.fromString(v)) }
    val scorer = Scorer(cfg.strategy, scoreScale)
    val order = HitOrder(cfg.strategy.descending)
    val rdd = blocks
    val perTask = rdd.sparkContext.runJob(rdd,
      (it: Iterator[Block]) => localTopK(it, queryVec, k, preds, scorer, order))
    perTask.flatten.sorted(order).take(k).map(_.toRow).toSeq
  }

  /** Drop the blocks from Spark's cache; later searches recompute them
    * from the source. */
  def close(): Unit = synchronized {
    if (packed != null) packed.unpersist()
  }
}

object PackedStore {

  /** Vector elements per block: a partition packs into blocks of about
    * this size (4 MB of float32), so packing never holds a second copy
    * of a whole partition. */
  private val BlockElems = 1 << 20

  /** Rows of one partition slice. `text` holds the id, title, vendor
    * and description columns; the vector of row r is `floats` (or, for
    * an `array<double>` store, `doubles`) from `offsets(r)`, of length
    * `lengths(r)`: -1 for a NULL vector, a null element or a malformed
    * binary payload, all of which score NULL. */
  final class Block(
      val rows: Int,
      val text: Array[Array[UTF8String]],
      val floats: Array[Float],
      val doubles: Array[Double],
      val offsets: Array[Int],
      val lengths: Array[Int]) extends Serializable

  /** Pack rows of (id, title, vendor, description, embedding). */
  private def pack(rows: Iterator[InternalRow], binary: Boolean, double: Boolean,
      packed: LongAccumulator): Iterator[Block] = new Iterator[Block] {
    def hasNext: Boolean = rows.hasNext
    def next(): Block = {
      val text = Array.fill(4)(Array.newBuilder[UTF8String])
      val offsets = Array.newBuilder[Int]
      val lengths = Array.newBuilder[Int]
      var floats = if (double) null else new Array[Float](1024)
      var doubles = if (double) new Array[Double](1024) else null
      var used = 0
      var n = 0
      while (rows.hasNext && used < BlockElems) {
        val row = rows.next()
        var c = 0
        while (c < 4) {
          text(c) += (if (row.isNullAt(c)) null else row.getUTF8String(c).copy())
          c += 1
        }
        val vec =
          if (row.isNullAt(4)) null
          else if (binary) VectorKernels.decodeFloatVector(row.getBinary(4))
          else row.getArray(4)
        val len = if (vec == null) -1 else vec.numElements()
        var i = 0
        while (i < len && !vec.isNullAt(i)) i += 1
        offsets += used
        if (len < 0 || i < len) lengths += -1
        else {
          lengths += len
          val need = used + len
          if (double) {
            if (need > doubles.length)
              doubles = java.util.Arrays.copyOf(doubles, math.max(need, doubles.length * 2))
            i = 0
            while (i < len) { doubles(used + i) = vec.getDouble(i); i += 1 }
          } else {
            if (need > floats.length)
              floats = java.util.Arrays.copyOf(floats, math.max(need, floats.length * 2))
            i = 0
            while (i < len) { floats(used + i) = vec.getFloat(i); i += 1 }
          }
          used = need
        }
        n += 1
      }
      packed.add(n)
      new Block(n, text.map(_.result()),
        if (double) null else java.util.Arrays.copyOf(floats, used),
        if (double) java.util.Arrays.copyOf(doubles, used) else null,
        offsets.result(), lengths.result())
    }
  }

  /** One ranked row; the strings stay UTF-8 until the driver's k. */
  private final case class Hit(id: UTF8String, title: UTF8String, vendor: UTF8String,
      description: UTF8String, score: java.lang.Double) {
    def toRow: Row = {
      def str(s: UTF8String) = if (s == null) null else s.toString
      Row(str(id), str(title), str(vendor), str(description), score)
    }
  }

  /** `orderBy(score <dir> NULLS LAST, id ASC)`: Spark's double order
    * (NaN largest, -0.0 = 0.0), ids in UTF-8 byte order, NULL id first. */
  private final case class HitOrder(descending: Boolean) extends Ordering[Hit] {
    def cmp(sa: java.lang.Double, ida: UTF8String, sb: java.lang.Double, idb: UTF8String): Int = {
      val byScore =
        if (sa == null) { if (sb == null) 0 else 1 }
        else if (sb == null) -1
        else {
          val c = SQLOrderingUtil.compareDoubles(sa.doubleValue(), sb.doubleValue())
          if (descending) -c else c
        }
      if (byScore != 0) byScore
      else if (ida == null) { if (idb == null) 0 else -1 }
      else if (idb == null) 1
      else ida.binaryCompare(idb)
    }
    def compare(a: Hit, b: Hit): Int = cmp(a.score, a.id, b.score, b.id)
  }

  /** The strategy's score of a packed row, rounded as
    * [[SearchStrategy.roundedScore]] rounds it when `scale` is set. */
  private final case class Scorer(strategy: SearchStrategy, scale: Option[Int]) {
    import SearchStrategy._
    // CosineDistance rounds the similarity, then subtracts
    private val metric =
      if (scale.isDefined && strategy == CosineDistance) CosineSimilarity else strategy

    def apply(b: Block, r: Int, q: Array[Float]): java.lang.Double = {
      val off = b.offsets(r)
      val n = b.lengths(r)
      val raw =
        if (b.doubles != null) metric match {
          case CosineSimilarity => VectorKernels.cosineSimilarity(b.doubles, off, n, q)
          case InnerProductSimilarity => VectorKernels.innerProduct(b.doubles, off, n, q)
          case CosineDistance => VectorKernels.cosineDistance(b.doubles, off, n, q)
          case EuclideanDistance => VectorKernels.euclideanDistance(b.doubles, off, n, q)
          case ManhattanDistance => VectorKernels.manhattanDistance(b.doubles, off, n, q)
        } else metric match {
          case CosineSimilarity => VectorKernels.cosineSimilarity(b.floats, off, n, q)
          case InnerProductSimilarity => VectorKernels.innerProduct(b.floats, off, n, q)
          case CosineDistance => VectorKernels.cosineDistance(b.floats, off, n, q)
          case EuclideanDistance => VectorKernels.euclideanDistance(b.floats, off, n, q)
          case ManhattanDistance => VectorKernels.manhattanDistance(b.floats, off, n, q)
        }
      (raw, scale) match {
        case (null, _) | (_, None) => raw
        case (_, Some(s)) if strategy == CosineDistance =>
          round(1.0 - round(raw.doubleValue(), s), s)
        case (_, Some(s)) => round(raw.doubleValue(), s)
      }
    }
  }

  /** Spark's `round` on a double: NaN and ±Inf pass through, anything
    * else is rounded HALF_UP from its shortest decimal form. */
  private def round(x: Double, s: Int): java.lang.Double =
    java.lang.Double.valueOf(
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x).setScale(s, java.math.RoundingMode.HALF_UP)
        .doubleValue())

  /** One task: filter, score and keep the k best rows of its blocks. */
  private def localTopK(blocks: Iterator[Block], q: Array[Float], k: Int,
      preds: Array[(Int, UTF8String)], scorer: Scorer, order: HitOrder): Array[Hit] = {
    // worst kept row at the head
    val kept = new java.util.PriorityQueue[Hit](order.reverse)
    blocks.foreach { b =>
      val ids = b.text(0)
      var r = 0
      while (r < b.rows) {
        var p = 0
        while (p < preds.length && preds(p)._2 == b.text(preds(p)._1)(r)) p += 1
        if (p == preds.length) {
          val s = scorer(b, r, q)
          if (kept.size < k || order.cmp(s, ids(r), kept.peek.score, kept.peek.id) < 0) {
            kept.add(Hit(ids(r), b.text(1)(r), b.text(2)(r), b.text(3)(r), s))
            if (kept.size > k) kept.poll()
          }
        }
        r += 1
      }
    }
    kept.toArray(new Array[Hit](0))
  }
}
