package perfbench

import graft.functions.VectorKernels
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

/**
 * Microbench of the vector-kernel layer alone: the public `VectorKernels`
 * functions called on `UnsafeArrayData` float vectors — the form a
 * Parquet `array<float>` column reaches the codegen'd expression in —
 * with a constant query vector, as in a top-k scan. Reports ns per
 * scored row at d64 and d768, after a JIT warm-up.
 */
object Kernels {

  private type Kernel = (UnsafeArrayData, UnsafeArrayData) => java.lang.Double

  private val kernels: Seq[(String, Kernel)] = Seq(
    "cosine" -> ((a, b) => VectorKernels.cosineSimilarity(a, b)),
    "euclidean" -> ((a, b) => VectorKernels.euclideanDistance(a, b)),
    "inner" -> ((a, b) => VectorKernels.innerProduct(a, b)))

  @volatile private var sink = 0.0

  /** ns/row of one pass of `k` over `rows` against `q`. */
  private def pass(k: Kernel, rows: Array[UnsafeArrayData], q: UnsafeArrayData): Double = {
    var acc = 0.0
    val t0 = System.nanoTime()
    var i = 0
    while (i < rows.length) { acc += k(rows(i), q).doubleValue(); i += 1 }
    val ns = (System.nanoTime() - t0).toDouble / rows.length
    sink += acc
    ns
  }

  def run(seed: Long): Seq[Bench.Metric] = {
    val out = for {
      dim <- Seq(64, 768)
      c = DataGen.centers(seed, dim)
      nRows = 262144 / dim
      rows = Array.tabulate(nRows)(i => UnsafeArrayData.fromPrimitiveArray(
        DataGen.vector(seed, i.toLong, c)))
      q = UnsafeArrayData.fromPrimitiveArray(DataGen.vector(seed ^ 0x5EED, 0L, c))
      (name, k) <- kernels
    } yield {
      // Warm-up long enough for C2 to compile the loop, then the median
      // of many timed passes.
      (0 until 40).foreach(_ => pass(k, rows, q))
      val ns = Stats.median((0 until 60).map(_ => pass(k, rows, q)))
      Bench.Metric(s"functions.${name}_ns_row.d$dim", ns, "ns")
    }
    out
  }
}
