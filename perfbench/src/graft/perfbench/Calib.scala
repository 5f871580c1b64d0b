package graft.perfbench

import scala.collection.mutable

/** The speed of the machine during a run, measured between operations.
  *
  * On a host shared with other tenants, the cores run at different speeds
  * from one minute to the next, and every operation of a run slows down
  * together. A sample times a fixed kernel (xorshift-indexed reads and
  * writes in a 1 MiB array, an L2-sized working set) on every core at once
  * and keeps the mean per-thread time. Samples are taken only while the
  * engine is idle: after set-up and after each operation and its output
  * check. [[scale]] turns a run's measured seconds into seconds at the
  * reference speed, the speed at which one kernel takes [[Calib.Reference]]
  * seconds.
  */
final class Calib(cores: Int) {
  private val arrays = Array.fill(cores)(new Array[Int](1 << 18))
  private val samples = mutable.ArrayBuffer.empty[Double]
  @volatile private var sink = 0

  private def kernel(a: Array[Int]): Long = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B9
    var acc = 0
    var i = 0
    val mask = a.length - 1
    while (i < Calib.Iterations) {
      x ^= x << 13; x ^= x >>> 17; x ^= x << 5
      val j = x & mask
      a(j) += x
      acc ^= a((j + 64) & mask)
      i += 1
    }
    sink ^= acc
    System.nanoTime() - t0
  }

  private def once(): Double = {
    val ns = new Array[Long](cores)
    val ts = (0 until cores).map(k => new Thread(() => ns(k) = kernel(arrays(k))))
    ts.foreach(_.start())
    ts.foreach(_.join())
    ns.sum / 1e9 / cores
  }

  // the first samples run while the kernel is being compiled
  (1 to 2).foreach(_ => once())

  /** Take three samples now. */
  def sample(): Unit = (1 to 3).foreach(_ => samples += once())

  def all: Seq[Double] = samples.toSeq

  /** Reference speed over the run's median speed. */
  def scale: Double = Calib.Reference / Util.median(samples.toSeq)
}

object Calib {
  val Iterations = 30000000
  /** Seconds of one kernel at the reference speed: the median of 19 runs
    * on a 4-core, 2.1 GHz shared cloud host. */
  val Reference = 0.125
}
