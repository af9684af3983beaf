package vsbench

import java.util.concurrent.{CountDownLatch, Executors, ThreadFactory}

/** A fixed vector-scan kernel (about 0.6 ms on the reference host) that measures how
  * fast this host runs right now. Every timed operation is paired with a
  * probe run just before it, and reported as raw × reference / probe: the
  * host's speed drifts by tens of percent within seconds, and CPU time does
  * not escape the drift.
  *
  * `single` runs the kernel on the calling thread (the one that serves
  * in-process requests); `all` runs it on `threads` threads at once (the
  * cores a Spark job or build runs on). */
final class Probe(threads: Int) extends AutoCloseable {
  import Probe._

  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "vsbench-probe"); t.setDaemon(true); t
    }
  })
  @volatile private var sink = 0.0f

  /** Nanoseconds for one kernel run on this thread. */
  def single(): Long = {
    val t0 = System.nanoTime()
    sink += kernel()
    System.nanoTime() - t0
  }

  /** Nanoseconds for one kernel run while every thread runs it at once:
    * the median of the threads' own timings, so a thread that is woken late
    * does not count as a slow host. */
  def all(): Long = {
    val go = new CountDownLatch(1)
    val done = new CountDownLatch(threads)
    val ns = new Array[Long](threads)
    (0 until threads).foreach { i =>
      pool.execute { () =>
        go.await()
        val t0 = System.nanoTime()
        sink += kernel()
        ns(i) = System.nanoTime() - t0
        done.countDown()
      }
    }
    go.countDown()
    done.await()
    java.util.Arrays.sort(ns)
    ns(threads / 2)
  }

  def close(): Unit = pool.shutdownNow()
}

object Probe {
  private val Dims = 64
  private val Rows = 2048 // 512 KiB of floats: the shape of a vector scan
  private val Passes = 4
  private val data: Array[Float] = Array.tabulate(Rows * Dims)(i => ((i * 7919) % 1013) / 1013f)
  private val query: Array[Float] = Array.tabulate(Dims)(i => (i % 7) / 7f)

  /** Squared L2 distances from a fixed query to every row of a fixed
    * matrix, the inner loop of a brute-force scan; the work is fixed, never
    * calibrated at run time. */
  def kernel(): Float = {
    var best = Double.MaxValue; var p = 0
    while (p < Passes) {
      var r = 0
      while (r < Rows) {
        var s = 0.0; var i = 0; val off = r * Dims
        while (i < Dims) { val d = query(i) - data(off + i); s += d * d; i += 1 }
        if (s < best) best = s
        r += 1
      }
      p += 1
    }
    best.toFloat
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
