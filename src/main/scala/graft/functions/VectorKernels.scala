package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

/**
 * Scalar vector-distance kernels shared by the interpreted (`eval`) and
 * code-generated (`doGenCode`) paths of the `Knn*` Catalyst expressions.
 *
 * Semantics mirror the five YDB `Knn::` strategies the reference invokes
 * (reference: /root/reference/app.py:222, option list env.example:15-17):
 * CosineSimilarity, InnerProductSimilarity, CosineDistance,
 * EuclideanDistance, ManhattanDistance. Per the public Knn contract the
 * result is NULL on malformed input / dimension mismatch; we additionally
 * define zero-norm cosine as NULL (division by zero).
 *
 * All accumulation is sequential in Double (each float32 is promoted
 * exactly, products of two float32 values are exact in float64), which
 * makes results bit-reproducible regardless of partitioning and equal to
 * any engine using the same promotion + sequential-sum scheme.
 */
object VectorKernels {

  /** Trailing tag byte of the binary float-vector wire format
    * (reference: /root/reference/app.py:160-161 — packed little-endian
    * float32 values followed by 0x01 = "float vector"). */
  final val FloatVectorTag: Byte = 0x01

  // ---------------------------------------------------------------- metrics
  //
  // Each metric has a 4-arg form taking per-side element-type flags
  // (`aDouble`/`bDouble`: the ArrayData holds float64 elements — true
  // for `array<double>` inputs such as PCA-projected vectors or
  // centroid tables; false for `array<float>` and decoded wire-format
  // binaries). The flags are compile-time constants at every call site
  // (codegen emits literals, eval resolves them once per expression),
  // so the per-element branch is perfectly predicted and JIT-erased.
  // The 2-arg float32 forms are kept as the common-case entry points.

  @inline private def elem(v: ArrayData, isDouble: Boolean, i: Int): Double =
    if (isDouble) v.getDouble(i) else v.getFloat(i).toDouble

  /** Inner product: sum(a_i * b_i). Null on dim mismatch / null elements. */
  def innerProduct(a: ArrayData, b: ArrayData): java.lang.Double =
    innerProduct(a, false, b, false)

  def innerProduct(
      a: ArrayData, aDouble: Boolean, b: ArrayData, bDouble: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += elem(a, aDouble, i) * elem(b, bDouble, i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Cosine similarity: dot / (sqrt(|a|^2) * sqrt(|b|^2)).
    * Null on dim mismatch, null elements, or zero-norm input. */
  def cosineSimilarity(a: ArrayData, b: ArrayData): java.lang.Double =
    cosineSimilarity(a, false, b, false)

  def cosineSimilarity(
      a: ArrayData, aDouble: Boolean, b: ArrayData, bDouble: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = elem(a, aDouble, i)
      val y = elem(b, bDouble, i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) return null
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Cosine distance: 1 - cosineSimilarity. */
  def cosineDistance(a: ArrayData, b: ArrayData): java.lang.Double =
    cosineDistance(a, false, b, false)

  def cosineDistance(
      a: ArrayData, aDouble: Boolean, b: ArrayData, bDouble: Boolean): java.lang.Double = {
    val s = cosineSimilarity(a, aDouble, b, bDouble)
    if (s == null) null else java.lang.Double.valueOf(1.0 - s.doubleValue())
  }

  /** Euclidean (L2) distance: sqrt(sum((a_i - b_i)^2)). */
  def euclideanDistance(a: ArrayData, b: ArrayData): java.lang.Double =
    euclideanDistance(a, false, b, false)

  def euclideanDistance(
      a: ArrayData, aDouble: Boolean, b: ArrayData, bDouble: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = elem(a, aDouble, i) - elem(b, bDouble, i)
      s += d * d
      i += 1
    }
    java.lang.Double.valueOf(math.sqrt(s))
  }

  /** Manhattan (L1) distance: sum(|a_i - b_i|). */
  def manhattanDistance(a: ArrayData, b: ArrayData): java.lang.Double =
    manhattanDistance(a, false, b, false)

  def manhattanDistance(
      a: ArrayData, aDouble: Boolean, b: ArrayData, bDouble: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += math.abs(elem(a, aDouble, i) - elem(b, bDouble, i))
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  // ------------------------------------------------ primitive-array metrics
  //
  // The same five metrics over a packed store ([[graft.operators.PackedStore]]):
  // the stored vector is `a(off until off + n)` of a primitive block
  // (float32, or float64 for `array<double>` stores), the query `b` a
  // float32 array. The arithmetic is the ArrayData kernels' step for
  // step (promote to double, one sequential pass), so the scores are
  // bit-identical. A block holds no null elements: a vector with one is
  // packed with n = -1, which like any other dimension mismatch
  // (n != b.length) gives NULL.

  def innerProduct(a: Array[Float], off: Int, n: Int, b: Array[Float]): java.lang.Double = {
    if (n != b.length) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += a(off + i).toDouble * b(i).toDouble; i += 1 }
    java.lang.Double.valueOf(s)
  }

  def innerProduct(a: Array[Double], off: Int, n: Int, b: Array[Float]): java.lang.Double = {
    if (n != b.length) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += a(off + i) * b(i).toDouble; i += 1 }
    java.lang.Double.valueOf(s)
  }

  def cosineSimilarity(a: Array[Float], off: Int, n: Int, b: Array[Float]): java.lang.Double = {
    if (n != b.length) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(off + i).toDouble
      val y = b(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) return null
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  def cosineSimilarity(a: Array[Double], off: Int, n: Int, b: Array[Float]): java.lang.Double = {
    if (n != b.length) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(off + i)
      val y = b(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) return null
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  def cosineDistance(a: Array[Float], off: Int, n: Int, b: Array[Float]): java.lang.Double = {
    val s = cosineSimilarity(a, off, n, b)
    if (s == null) null else java.lang.Double.valueOf(1.0 - s.doubleValue())
  }

  def cosineDistance(a: Array[Double], off: Int, n: Int, b: Array[Float]): java.lang.Double = {
    val s = cosineSimilarity(a, off, n, b)
    if (s == null) null else java.lang.Double.valueOf(1.0 - s.doubleValue())
  }

  def euclideanDistance(a: Array[Float], off: Int, n: Int, b: Array[Float]): java.lang.Double = {
    if (n != b.length) return null
    var s = 0.0
    var i = 0
    while (i < n) { val d = a(off + i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    java.lang.Double.valueOf(math.sqrt(s))
  }

  def euclideanDistance(a: Array[Double], off: Int, n: Int, b: Array[Float]): java.lang.Double = {
    if (n != b.length) return null
    var s = 0.0
    var i = 0
    while (i < n) { val d = a(off + i) - b(i).toDouble; s += d * d; i += 1 }
    java.lang.Double.valueOf(math.sqrt(s))
  }

  def manhattanDistance(a: Array[Float], off: Int, n: Int, b: Array[Float]): java.lang.Double = {
    if (n != b.length) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += math.abs(a(off + i).toDouble - b(i).toDouble); i += 1 }
    java.lang.Double.valueOf(s)
  }

  def manhattanDistance(a: Array[Double], off: Int, n: Int, b: Array[Float]): java.lang.Double = {
    if (n != b.length) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += math.abs(a(off + i) - b(i).toDouble); i += 1 }
    java.lang.Double.valueOf(s)
  }

  /** Sign-bit binary sketch: bit i of the result is set iff vec(i) >= 0,
    * over the first min(dim, 64) dimensions. One-bit-per-dimension
    * quantization — 64-dim float32 vectors (256 B) compress to a single
    * long (8 B), and Hamming distance on the sketches approximates
    * angular distance (each bit is a fixed-axis random-hyperplane test).
    * Null on null elements. */
  def signBits64(a: ArrayData): java.lang.Long = {
    val n = math.min(a.numElements(), 64)
    var bits = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      if (a.getFloat(i) >= 0f) bits |= 1L << i
      i += 1
    }
    java.lang.Long.valueOf(bits)
  }

  /** Dense linear map with per-output offsets:
    * out(k) = Σᵢ vec(i)·flat(k·dim + i) − offsets(k). The projection
    * kernel behind [[graft.operators.Pca.project]] (components and
    * whitening scaling pre-folded into `flat`/`offsets` plan literals);
    * also fits random projections and any other fixed linear map.
    * Null on null elements or a flat-matrix size mismatch. */
  def matVec(vec: ArrayData, flat: ArrayData, offsets: ArrayData): ArrayData = {
    val d = offsets.numElements()
    val dim = vec.numElements()
    if (flat.numElements() != d * dim) return null
    val out = new Array[Double](d)
    var k = 0
    while (k < d) {
      val base = k * dim
      var s = 0.0
      var i = 0
      while (i < dim) {
        if (vec.isNullAt(i)) return null
        s += vec.getFloat(i).toDouble * flat.getDouble(base + i)
        i += 1
      }
      out(k) = s - offsets.getDouble(k)
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Nearest centroid under exact integer L2²: vectors pre-quantized to
    * micro-units (BIGINT), `flat` = k row-major centroids of the same
    * dimension. Returns `[cid, dist2]` (array<long>); the argmin keeps
    * the SMALLEST cid on distance ties (strict `<` while scanning
    * ascending), matching the oracle's `ORDER BY dist2, cid` pick.
    * Integer arithmetic end-to-end — the whole Lloyd's assignment is
    * bit-reproducible across engines and partitionings, which float
    * k-means (MLlib) cannot promise. Null on empty input or a
    * flat-length mismatch. Bound: |µ| ≤ 2²⁰ and dim ≤ 2¹² keep dist2
    * under 2⁵³ — embeddings quantized at 1e-6 are far inside. */
  def nearestCentroidL2(qv: ArrayData, flat: ArrayData): ArrayData = {
    val dim = qv.numElements()
    if (dim == 0) return null
    val total = flat.numElements()
    if (total == 0 || total % dim != 0) return null
    val k = total / dim
    var best = -1
    var bestD = Long.MaxValue
    var c = 0
    while (c < k) {
      val off = c * dim
      var d = 0L
      var j = 0
      while (j < dim) {
        if (qv.isNullAt(j) || flat.isNullAt(off + j)) return null
        val t = qv.getLong(j) - flat.getLong(off + j)
        d += t * t
        j += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(Array(best.toLong, bestD))
  }

  // ----------------------------------------------------------------- codec

  /** Encode a float vector to the reference wire format: n little-endian
    * float32 values + trailing tag byte 0x01 (app.py:157-162).
    * Returns null if the array contains null elements. */
  def encodeFloatVector(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    val out = new Array[Byte](n * 4 + 1)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      // raw bits: floatToIntBits would canonicalize NaN payloads,
      // breaking byte-fidelity of decode→encode round trips
      val bits = java.lang.Float.floatToRawIntBits(a.getFloat(i))
      val off = i * 4
      out(off) = bits.toByte
      out(off + 1) = (bits >>> 8).toByte
      out(off + 2) = (bits >>> 16).toByte
      out(off + 3) = (bits >>> 24).toByte
      i += 1
    }
    out(n * 4) = FloatVectorTag
    out
  }

  // --------------------------------------------------- cosine LSH keys

  /** Hyperplanes for [[cosineLshKeys]], lazily built once per
    * (dim, bits, tables, seed) per JVM — the planes are a pure function
    * of those parameters (SplitMix64 → Box-Muller), so every executor
    * derives the identical set with no broadcast. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int, Long), Array[Array[Double]]]()

  /** Standard-normal deviate k of the stream `seed`: Box-Muller over two
    * SplitMix64-derived uniforms in (0, 1). Gaussian components make the
    * hyperplane directions uniform on the sphere — the property the
    * sign-LSH collision bound P = (1 - θ/π)^bits relies on. */
  private def gaussian(seed: Long, k: Long): Double = {
    def unit(x: Long): Double =
      ((TextHashKernels.splitMix64(x) >>> 11) + 0.5) * (1.0 / (1L << 53).toDouble)
    val u1 = unit(seed + 2L * k)
    val u2 = unit(seed + 2L * k + 1L)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  private def lshPlanes(dim: Int, bits: Int, tables: Int, seed: Long): Array[Array[Double]] =
    planeCache.computeIfAbsent((dim, bits, tables, seed), { case (d, b, t, s) =>
      Array.tabulate(t * b) { p =>
        Array.tabulate(d)(c => gaussian(s, p.toLong * d + c))
      }
    })

  /**
   * Random-hyperplane LSH bucket keys for a cosine similarity join: for
   * each of `nTables` independent tables, the key packs the table id with
   * the sign pattern of the vector against that table's `bitsPerTable`
   * hyperplanes — so equality on the key alone means "same table, same
   * bucket". One kernel pass computes all `nTables * bitsPerTable` dot
   * products; null on null elements or empty input.
   *
   * Recall/cost contract: a pair at angle θ collides in one table with
   * p = (1 - θ/π)^bitsPerTable and in at least one of t tables with
   * 1 - (1 - p)^t — bitsPerTable controls candidate precision (bucket
   * granularity), nTables controls recall.
   */
  def cosineLshKeys(vec: ArrayData, bitsPerTable: Int, nTables: Int, seed: Long): ArrayData = {
    val dim = vec.numElements()
    if (dim == 0) return null
    var c = 0
    while (c < dim) { if (vec.isNullAt(c)) return null; c += 1 }
    val v = new Array[Double](dim)
    c = 0
    while (c < dim) { v(c) = vec.getFloat(c).toDouble; c += 1 }
    val planes = lshPlanes(dim, bitsPerTable, nTables, seed)
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var key = 0L
      var j = 0
      while (j < bitsPerTable) {
        val p = planes(t * bitsPerTable + j)
        var dot = 0.0
        var i = 0
        while (i < dim) { dot += v(i) * p(i); i += 1 }
        if (dot >= 0.0) key |= (1L << j)
        j += 1
      }
      out(t) = (t.toLong << bitsPerTable) | key
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // ------------------------------------------------ product quantization

  /**
   * PQ encode: split the vector into `m` contiguous subvectors of
   * dim/m components; each subvector becomes the index (one byte) of
   * its nearest codebook centroid — m bytes total, a 4·dim/m ×
   * compression of the stored representation. `codebook` is flattened
   * [subspace][centroid][component] (m·k·dsub floats). Null on
   * dimension mismatch or null elements.
   */
  def pqEncode(vec: ArrayData, codebook: ArrayData, m: Int, k: Int): Array[Byte] = {
    val dim = vec.numElements()
    if (dim % m != 0) return null
    val dsub = dim / m
    if (codebook.numElements() != m * k * dsub) return null
    var c = 0
    while (c < dim) { if (vec.isNullAt(c)) return null; c += 1 }
    val out = new Array[Byte](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var cent = 0
      while (cent < k) {
        var d = 0.0
        var t = 0
        val cbOff = (j * k + cent) * dsub
        while (t < dsub) {
          val diff = vec.getFloat(j * dsub + t).toDouble -
            codebook.getFloat(cbOff + t).toDouble
          d += diff * diff
          t += 1
        }
        if (d < bestD) { bestD = d; best = cent }
        cent += 1
      }
      out(j) = best.toByte
      j += 1
    }
    out
  }

  /**
   * Asymmetric-distance (ADC) score: approximate squared L2 distance
   * between the query and a PQ-encoded vector as the sum of
   * precomputed per-subspace distances — `lut` is the flattened m·k
   * table lut[j·k + c] = ‖q_j − centroid_{j,c}‖², built ONCE per query
   * ([[graft.operators.PqIndex.adcLut]]). Scoring a code is m array
   * lookups + adds: no float vector is ever touched at scan time.
   */
  def pqAdcScore(codes: Array[Byte], lut: ArrayData, k: Int): java.lang.Double = {
    val m = codes.length
    if (lut.numElements() != m * k) return null
    var s = 0.0
    var j = 0
    while (j < m) {
      s += lut.getDouble(j * k + (codes(j) & 0xff))
      j += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Decode the binary wire format back to a float vector; null if the
    * payload is malformed (wrong length modulus or missing/unknown tag). */
  def decodeFloatVector(bytes: Array[Byte]): ArrayData = {
    if (bytes == null || bytes.length < 1) return null
    val body = bytes.length - 1
    if (body % 4 != 0 || bytes(body) != FloatVectorTag) return null
    val n = body / 4
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val off = i * 4
      val bits = (bytes(off) & 0xff) |
        ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) |
        ((bytes(off + 3) & 0xff) << 24)
      out(i) = java.lang.Float.intBitsToFloat(bits)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** L2-normalize a float vector to unit length, in double precision
    * (sequential accumulation — deterministic under any partitioning).
    * Null on empty input, a null element, or zero/non-finite norm.
    * Normalize-at-ingest is the cosine fast path: over a unit-norm
    * store, inner product ≡ cosine similarity, so scans skip the two
    * norm loops per row. */
  def normalizeVector(v: ArrayData): ArrayData = {
    if (v == null) return null
    val n = v.numElements()
    if (n == 0) return null
    var sumSq = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val x = v.getFloat(i).toDouble
      sumSq += x * x
      i += 1
    }
    val norm = math.sqrt(sumSq)
    if (norm == 0.0 || java.lang.Double.isNaN(norm) || java.lang.Double.isInfinite(norm)) return null
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = v.getFloat(i).toDouble / norm; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // ------------------------------------------------ scalar quantization

  /**
   * SQ8 encode: per-dimension affine 8-bit quantization,
   * code(i) = clamp(rint((v(i) − mins(i)) / deltas(i)), 0, 255) with
   * deltas(i) = (max(i) − min(i))/255 fitted over the corpus
   * ([[graft.operators.SqAnn.fit]]). One byte per dimension — a 4×
   * compression of float32 storage, the faiss `SQ8` layout. Degenerate
   * dimensions (delta ≤ 0: constant across the corpus) encode as 0 and
   * reconstruct to their min — exact. Null on null elements or a
   * model-dimension mismatch.
   */
  def sq8Encode(vec: ArrayData, mins: ArrayData, deltas: ArrayData): Array[Byte] = {
    val dim = vec.numElements()
    if (mins.numElements() != dim || deltas.numElements() != dim) return null
    val out = new Array[Byte](dim)
    var i = 0
    while (i < dim) {
      if (vec.isNullAt(i)) return null
      val d = deltas.getDouble(i)
      val c =
        if (d <= 0.0) 0
        else {
          val t = math.rint((vec.getFloat(i).toDouble - mins.getDouble(i)) / d).toInt
          if (t < 0) 0 else if (t > 255) 255 else t
        }
      out(i) = c.toByte
      i += 1
    }
    out
  }

  /**
   * Reconstructed-cosine score of an SQ8 code against a per-query
   * coefficient table, without touching any float vector at scan time:
   * with v̂(i) = min(i) + c(i)·Δ(i),
   *   dot  = Σ v̂(i)·q(i) = biasDot + Σ c(i)·w(i)      (w = Δ·q)
   *   ‖v̂‖² = biasN + Σ c(i)·a(i) + Σ c(i)²·b(i)       (a = 2·min·Δ, b = Δ²)
   * score = dot/√‖v̂‖² — proportional to cosine(v̂, q) (the constant ‖q‖
   * drops out of the ranking). `flat` is [biasDot, biasN] ++ w ++ a ++ b
   * (2 + 3·dim doubles), built ONCE per query on the driver
   * ([[graft.operators.SqAnn.topK]]) — the SQ analogue of the ADC LUT.
   * Null on a size mismatch or non-positive reconstructed norm.
   */
  def sq8CosScore(codes: Array[Byte], flat: ArrayData): java.lang.Double = {
    if (codes == null) return null
    val m = codes.length
    if (flat.numElements() != 2 + 3 * m) return null
    var dot = flat.getDouble(0)
    var nrm = flat.getDouble(1)
    var i = 0
    while (i < m) {
      val c = (codes(i) & 0xff).toDouble
      dot += c * flat.getDouble(2 + i)
      nrm += c * flat.getDouble(2 + m + i) + c * c * flat.getDouble(2 + 2 * m + i)
      i += 1
    }
    if (nrm <= 0.0 || java.lang.Double.isNaN(nrm)) return null
    java.lang.Double.valueOf(dot / math.sqrt(nrm))
  }
}
