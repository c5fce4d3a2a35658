package perfbench

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.BinaryType

import graft.functions.{EditDist, Qdot8}

/** Microbenchmarks of the `graft.functions` kernels that board-mix
  * queries lean on (d13 → `EditDist.banded`, s20 → `Qdot8`), on seeded
  * inputs, so kernel cost shows apart from the queries that call it.
  *
  * `EditDist.banded` is timed in its three length bands: the 1-word
  * Myers path (pattern ≤ 64 bytes), the 2-word path (≤ 128) and the
  * banded-DP fallback (> 128). Each pair is a random ASCII string and
  * a copy with a few random edits, within the threshold, so every call
  * does the full computation instead of exiting on the length test.
  */
object Kernels {

  final case class Result(name: String, nsPerCall: Double, bytesPerCall: Double)

  private val Threshold = 8

  private def editPairs(rnd: java.util.Random, len: Int, n: Int): Array[(Array[Byte], Array[Byte])] =
    Array.fill(n) {
      val a = Array.fill(len)((32 + rnd.nextInt(95)).toByte)
      val b = a.clone()
      // Edits at both ends leave no common prefix or suffix to strip,
      // so the pattern keeps its full length and stays in its band.
      val at = Seq(0, len - 1) ++ Seq.fill(rnd.nextInt(Threshold / 2))(rnd.nextInt(len))
      for (i <- at) b(i) = (32 + (a(i) - 32 + 1 + rnd.nextInt(94)) % 95).toByte
      (a, b)
    }

  /** Results land here so the JIT cannot drop the timed sweeps. */
  @volatile private var sink = 0L

  /** Median ns per call over `rounds` timed sweeps of all inputs,
    * after half a second of untimed sweeps: on a workload whose
    * queries never call the kernel it starts out interpreted. */
  private def time(n: Int, rounds: Int)(sweep: => Long): Double = {
    val warmUntil = System.nanoTime() + 500000000L
    while (System.nanoTime() < warmUntil) sink += sweep
    val ns = Array.fill(rounds) {
      val t = System.nanoTime()
      sink += sweep
      (System.nanoTime() - t).toDouble / n
    }.sorted
    ns(rounds / 2)
  }

  def run(seed: Long): Seq[Result] = {
    val rnd = new java.util.Random(seed ^ 0x5deece66dL)
    val bands = Seq("editdist64" -> 56, "editdist128" -> 112, "editdist_dp" -> 240)
    val edit = bands.map { case (name, len) =>
      val pairs = editPairs(rnd, len, 2000)
      pairs.foreach { case (a, b) =>
        require(EditDist.banded(a, b, Threshold) >= 0, s"$name: generated pair outside threshold")
      }
      val ns = time(pairs.length, 15) {
        var s = 0L
        var i = 0
        while (i < pairs.length) { s += EditDist.banded(pairs(i)._1, pairs(i)._2, Threshold); i += 1 }
        s
      }
      Result(name, ns, pairs.iterator.map(p => p._1.length + p._2.length).sum.toDouble / pairs.length)
    }
    val dim = 64
    val vecs = Array.fill(2000)(Array.fill(dim)((rnd.nextInt(256) - 128).toByte))
    val expr = Qdot8(Literal(null, BinaryType), Literal(null, BinaryType))
    val qdotNs = time(vecs.length - 1, 15) {
      var s = 0L
      var i = 0
      while (i < vecs.length - 1) {
        s += expr.nullSafeEval(vecs(i), vecs(i + 1)).asInstanceOf[Long]
        i += 1
      }
      s
    }
    edit :+ Result("qdot8", qdotNs, 2.0 * dim)
  }
}
