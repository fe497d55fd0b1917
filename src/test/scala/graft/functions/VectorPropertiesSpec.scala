package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants over the kernels (SURVEY §5 layer 2).
  * Raw ScalaCheck (no scalatestplus bridge in the offline cache). */
class VectorPropertiesSpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val finiteFloat: Gen[Float] = Gen.chooseNum(-1e6f, 1e6f)

  private val vecPair: Gen[(Array[Float], Array[Float])] = for {
    n <- Gen.chooseNum(1, 64)
    a <- Gen.listOfN(n, finiteFloat)
    b <- Gen.listOfN(n, finiteFloat)
  } yield (a.toArray, b.toArray)

  private def ad(a: Array[Float]): ArrayData = UnsafeArrayData.fromPrimitiveArray(a)

  test("cosine_distance == 1 - cosine_similarity (same code path)") {
    check("cosDist", Prop.forAll(vecPair) { case (a, b) =>
      val s = VectorKernels.cosineSimilarity(ad(a), ad(b))
      val d = VectorKernels.cosineDistance(ad(a), ad(b))
      if (s == null) d == null else d.doubleValue() == 1.0 - s.doubleValue()
    })
  }

  test("symmetry: all metrics are symmetric") {
    check("symmetry", Prop.forAll(vecPair) { case (a, b) =>
      def sym(f: (ArrayData, ArrayData) => java.lang.Double): Boolean = {
        val xy = f(ad(a), ad(b)); val yx = f(ad(b), ad(a))
        if (xy == null) yx == null else xy.doubleValue() == yx.doubleValue()
      }
      sym(VectorKernels.innerProduct) && sym(VectorKernels.cosineSimilarity) &&
        sym(VectorKernels.euclideanDistance) && sym(VectorKernels.manhattanDistance)
    })
  }

  test("identity: d(a,a) == 0; cos(a,a) == 1 within ulps") {
    check("identity", Prop.forAll(vecPair) { case (a, _) =>
      val cos = VectorKernels.cosineSimilarity(ad(a), ad(a))
      VectorKernels.euclideanDistance(ad(a), ad(a)).doubleValue() == 0.0 &&
        VectorKernels.manhattanDistance(ad(a), ad(a)).doubleValue() == 0.0 &&
        (cos == null || math.abs(cos.doubleValue() - 1.0) < 1e-9)
    })
  }

  test("non-negativity of distances; |cos| <= 1 + ulp slack") {
    check("bounds", Prop.forAll(vecPair) { case (a, b) =>
      val cos = VectorKernels.cosineSimilarity(ad(a), ad(b))
      VectorKernels.euclideanDistance(ad(a), ad(b)).doubleValue() >= 0.0 &&
        VectorKernels.manhattanDistance(ad(a), ad(b)).doubleValue() >= 0.0 &&
        (cos == null || math.abs(cos.doubleValue()) <= 1.0 + 1e-9)
    })
  }

  test("codec: decode(encode(v)) == v bit-for-bit, layout = 4n+1 LE + tag") {
    check("codec", Prop.forAll(Gen.listOf(finiteFloat)) { v =>
      val enc = VectorKernels.encodeFloatVector(ad(v.toArray))
      val dec = VectorKernels.decodeFloatVector(enc)
      dec.toFloatArray().toSeq == v &&
        enc.length == v.length * 4 + 1 &&
        enc.last == VectorKernels.FloatVectorTag
    })
  }

  test("decode never throws on arbitrary bytes: null or a NaN-stable round-trip") {
    check("decodeTotal", Prop.forAll(Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { bs =>
      val bytes = bs.toArray
      val dec = VectorKernels.decodeFloatVector(bytes)
      dec == null || {
        // byte-fidelity modulo NaN: the JVM may collapse NaN payloads
        // when a float passes through registers, so compare values
        // NaN-aware rather than raw bytes
        val re = VectorKernels.decodeFloatVector(VectorKernels.encodeFloatVector(dec))
        val (a, b) = (dec.toFloatArray(), re.toFloatArray())
        a.length == b.length &&
          a.indices.forall(i => a(i) == b(i) || (a(i).isNaN && b(i).isNaN))
      }
    })
  }

  test("minhash signatures are deterministic and order-independent across calls") {
    val text = org.apache.spark.unsafe.types.UTF8String.fromString(
      "alpha beta gamma delta epsilon zeta eta theta")
    val s1 = TextHashKernels.minhashSignature(text, 16).toLongArray().toSeq
    val s2 = TextHashKernels.minhashSignature(text, 16).toLongArray().toSeq
    assert(s1 === s2)
    assert(s1.length === 16)
  }

  test("cosine LSH keys: table-id fold, scale invariance, determinism") {
    val posVec: Gen[Array[Float]] = for {
      n <- Gen.chooseNum(2, 64)
      a <- Gen.listOfN(n, Gen.chooseNum(-100f, 100f))
    } yield a.toArray
    check("lshKeys", Prop.forAll(posVec) { a =>
      val bits = 4; val tables = 8
      val k1 = VectorKernels.cosineLshKeys(ad(a), bits, tables, 42L).toLongArray()
      val k2 = VectorKernels.cosineLshKeys(ad(a), bits, tables, 42L).toLongArray()
      // deterministic; table id folded into the high bits of each key
      val foldOk = k1.zipWithIndex.forall { case (k, t) => (k >> bits) == t.toLong }
      // positive scaling never changes sign patterns (cosine-invariance)
      val scaled = a.map(_ * 3.0f)
      val k3 = VectorKernels.cosineLshKeys(ad(scaled), bits, tables, 42L).toLongArray()
      k1.sameElements(k2) && foldOk && k1.sameElements(k3)
    })
  }

  test("gear CDC: chunk fingerprints cover the payload and respect min/max bounds") {
    val payload: Gen[Array[Byte]] =
      Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    check("cdc", Prop.forAll(payload) { bytes =>
      val hashes = TextHashKernels.gearChunkHashes(bytes, 5).toLongArray()
      if (bytes.isEmpty) hashes.isEmpty
      else hashes.nonEmpty && hashes.length <= bytes.length // >= 1 byte per chunk
    })
  }

  test("gear CDC edit tolerance: suffix edits are local; prefix edits realign") {
    val r = new java.util.Random(7)
    val base = new Array[Byte](8192); r.nextBytes(base)
    val h1 = TextHashKernels.gearChunkHashes(base, 5).toLongArray()
    // appending bytes can only change the FINAL chunk (which previously
    // ended at EOF): every earlier boundary and fingerprint is
    // bit-identical — the deterministic locality guarantee
    val appended = base ++ Array.fill[Byte](17)(99.toByte)
    val h2 = TextHashKernels.gearChunkHashes(appended, 5).toLongArray()
    assert(h2.take(h1.length - 1).toSeq === h1.dropRight(1).toSeq)
    // prepending bytes: the rolling hash never resets, so boundary
    // candidates are content-determined and realign within 64 bytes of
    // common content — nearly all fingerprints survive. (Known CDC
    // caveat, shared by every chunker of this family: strictly PERIODIC
    // content has phase-locked boundary orbits and can degrade toward
    // fixed-blocking behavior under shifts.)
    val prepended = Array.fill[Byte](17)(99.toByte) ++ base
    val h3 = TextHashKernels.gearChunkHashes(prepended, 5).toLongArray()
    assert(h1.takeRight(5).toSeq === h3.takeRight(5).toSeq)
    val survive = h1.toSet.intersect(h3.toSet).size.toDouble / h1.length
    assert(survive > 0.95, s"survival $survive")
  }

  test("primitive-array kernels are bit-identical to the ArrayData kernels") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val special: Gen[Double] = Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Float.MaxValue.toDouble, Float.MinPositiveValue.toDouble)
    val elem: Gen[Double] =
      Gen.frequency(8 -> Gen.chooseNum(-1e6, 1e6), 2 -> special)
    // a stored vector: elements (None = null), sometimes all zero
    def stored(n: Int): Gen[Seq[Option[Double]]] = Gen.frequency(
      8 -> Gen.listOfN(n, Gen.frequency(30 -> elem.map(Some(_)), 1 -> Gen.const(None))),
      1 -> Gen.const(Seq.fill(n)(Some(0.0))))
    val cases = for {
      n <- Gen.chooseNum(0, 24)
      m <- Gen.frequency(6 -> Gen.const(n), 1 -> Gen.chooseNum(0, 24))
      a <- stored(n)
      q <- Gen.listOfN(m, elem.map(_.toFloat))
      pad <- Gen.chooseNum(0, 3)
      double <- Gen.oneOf(false, true)
    } yield (a, q.toArray, pad, double)
    def same(x: java.lang.Double, y: java.lang.Double): Boolean =
      if (x == null) y == null
      else y != null &&
        java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    check("primitive", Prop.forAll(cases) { case (a, q, pad, double) =>
      val b = ad(q)
      val ref = new GenericArrayData(a.map(_.map(x =>
        if (double) java.lang.Double.valueOf(x) else java.lang.Float.valueOf(x.toFloat)).orNull))
      // packed as the store packs it: at an offset, n = -1 for a null element
      val n = if (a.contains(None)) -1 else a.length
      val vals = Seq.fill(pad)(7.0) ++ a.map(_.getOrElse(0.0)) ++ Seq(9.0)
      val fs = vals.map(_.toFloat).toArray
      val ds = vals.toArray
      Seq[((ArrayData, Boolean, ArrayData, Boolean) => java.lang.Double,
          (Array[Float], Int, Int, Array[Float]) => java.lang.Double,
          (Array[Double], Int, Int, Array[Float]) => java.lang.Double)](
        (VectorKernels.innerProduct, VectorKernels.innerProduct, VectorKernels.innerProduct),
        (VectorKernels.cosineSimilarity, VectorKernels.cosineSimilarity,
          VectorKernels.cosineSimilarity),
        (VectorKernels.cosineDistance, VectorKernels.cosineDistance,
          VectorKernels.cosineDistance),
        (VectorKernels.euclideanDistance, VectorKernels.euclideanDistance,
          VectorKernels.euclideanDistance),
        (VectorKernels.manhattanDistance, VectorKernels.manhattanDistance,
          VectorKernels.manhattanDistance)
      ).forall { case (arrayData, floats, doubles) =>
        val want = arrayData(ref, double, b, false)
        same(want, if (double) doubles(ds, pad, n, q) else floats(fs, pad, n, q))
      }
    })
  }
}
