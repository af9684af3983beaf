package vsbench

import java.util.concurrent.{Executors, TimeUnit}

/** A mutable corpus held by the benchmark (ids + row-major vectors) and its
  * exact L2 top-k, accumulated in double: the ground truth every check and
  * recall figure is measured against. */
final class Corpus(val dims: Int) {
  private var ids = new Array[Long](1024)
  private var vecs = new Array[Float](1024 * dims)
  private var n = 0
  private val slot = new java.util.HashMap[Long, Integer]()

  def size: Int = n
  def contains(id: Long): Boolean = slot.containsKey(id)
  def idAt(i: Int): Long = ids(i)
  def liveIds: Set[Long] = (0 until n).map(ids(_)).toSet

  def vector(id: Long): Array[Float] = {
    val s = slot.get(id)
    java.util.Arrays.copyOfRange(vecs, s * dims, (s + 1) * dims)
  }

  def upsert(id: Long, v: Array[Float]): Unit = {
    val s = slot.get(id)
    if (s != null) System.arraycopy(v, 0, vecs, s * dims, dims)
    else {
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, n * 2)
        vecs = java.util.Arrays.copyOf(vecs, n * 2 * dims)
      }
      ids(n) = id
      System.arraycopy(v, 0, vecs, n * dims, dims)
      slot.put(id, n)
      n += 1
    }
  }

  def delete(id: Long): Unit = {
    val s: Int = slot.remove(id)
    val last = n - 1
    if (s != last) {
      ids(s) = ids(last)
      System.arraycopy(vecs, last * dims, vecs, s * dims, dims)
      slot.put(ids(s), s)
    }
    n -= 1
  }

  /** Exact L2 distance of `q` to the stored vector of `id`. */
  def distance(id: Long, q: Array[Float]): Double = Exact.l2(q, vecs, slot.get(id) * dims)

  /** Exact top-k of `q`, ascending (distance, id). */
  def topK(q: Array[Float], k: Int): Array[(Long, Double)] = {
    // bounded max-heap on (distance, id)
    val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
      (a: (Double, Long), b: (Double, Long)) => {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(b._2, a._2)
      })
    var i = 0
    while (i < n) {
      val d = Exact.l2(q, vecs, i * dims)
      if (heap.size < k) heap.add((d, ids(i)))
      else {
        val w = heap.peek()
        if (d < w._1 || (d == w._1 && ids(i) < w._2)) { heap.poll(); heap.add((d, ids(i))) }
      }
      i += 1
    }
    val out = new Array[(Long, Double)](heap.size)
    var j = out.length - 1
    while (j >= 0) { val (d, id) = heap.poll(); out(j) = (id, d); j -= 1 }
    out
  }

  /** [[topK]] for many queries, spread over `threads` threads. */
  def topKAll(qs: IndexedSeq[Array[Float]], k: Int, threads: Int): IndexedSeq[Array[(Long, Double)]] = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val fs = qs.map(q => pool.submit(() => topK(q, k)))
      fs.map(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }
}

object Exact {
  def l2(q: Array[Float], flat: Array[Float], off: Int): Double = {
    var s = 0.0; var i = 0
    while (i < q.length) { val d = q(i).toDouble - flat(off + i); s += d * d; i += 1 }
    math.sqrt(s)
  }
}
