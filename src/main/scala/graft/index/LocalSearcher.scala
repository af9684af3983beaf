package graft.index

import graft.operators.DistanceMetric

/** Serving-mode snapshot of an index: the whole (merged) corpus held in
  * driver/process memory, answering single queries in pure JVM with ZERO
  * Spark jobs per query.
  *
  * The reference serves low-latency queries by loading index arrays into the
  * process and running the query kernels locally (`Index.query` with
  * `driver_mode=None` / memory-budget local execution, index.py:221-296 —
  * only explicitly-requested batch queries go through the task graph). A
  * Spark job per query costs ~100 ms of scheduling regardless of data size,
  * which is the wrong tool for point lookups; this class is the
  * complementary serving path, size-gated by `spark.graft.maxLocalServeBytes`
  * so it can never be asked to materialize an unbounded corpus.
  *
  * Obtained via [[VectorIndex.localSearcher]], which snapshots base +
  * updates-log at the handle's read timestamp: deleted/overwritten ids are
  * masked, additions live in an always-scanned extra block (exactly the
  * distributed query's two-branch merge, so results match it for any
  * nprobe). IVF_FLAT snapshots keep the partition blocking + centroids for
  * sub-linear probes; every other index type serves exact brute force (the
  * corpus fits in memory by the gate, where exact IS the reference-quality
  * answer).
  *
  * Thread safety: immutable after construction — share one instance across
  * request threads.
  */
final class LocalSearcher private[index] (
    val metric: DistanceMetric,
    val dims: Int,
    blockIds: Array[Array[Long]],
    blockVecs: Array[Array[Float]], // row-major flattened, aligned with blockIds
    centroids: Array[Array[Float]], // empty -> no probe pruning (scan all)
    alwaysScan: Array[Int], // block indexes scanned for every query (extras)
    normalizedStore: Boolean, // cosine non-FLAT: vectors stored normalized
    defaultNprobe: Int) { // nprobe <= 0 probes this many (the index's default)

  def numVectors: Long = blockIds.map(_.length.toLong).sum

  /** Top-k for one query vector; ascending (distance, id), no Spark jobs.
    * `nprobe <= 0` = the index's own default; ignored when the snapshot has
    * no centroid blocking. */
  def query(qvec: Array[Float], k: Int, nprobe: Int = 0): Array[(Long, Float)] =
    queryImpl(qvec, k, nprobe, allow = null)

  /** Attribute-filtered top-k: hits drawn only from ids satisfying `allow`
    * — the serving-path counterpart of [[VectorIndex.queryFiltered]].
    * Pre-filter (ids are skipped before scoring/heap entry), so all k
    * slots fill from the allowed set. The filter adds NO approximation of
    * its own: results are exact relative to the blocks the probe scans —
    * exhaustive for FLAT/PQ/VAMANA snapshots (no centroid blocking) and
    * for IVF at probe-all; an IVF snapshot at nprobe < partitions keeps
    * its usual pruning approximation, filtered or not. The predicate runs
    * once per candidate row — for an allowlist, pass a set membership
    * (`ids.contains`), not a linear scan. */
  def queryFiltered(qvec: Array[Float], k: Int, allow: Long => Boolean,
      nprobe: Int = 0): Array[(Long, Float)] = {
    require(allow != null, "graft: allow predicate must not be null")
    queryImpl(qvec, k, nprobe, allow)
  }

  private def queryImpl(qvec: Array[Float], k: Int, nprobe: Int,
      allow: Long => Boolean): Array[(Long, Float)] = {
    require(k > 0, s"k must be positive, got $k")
    require(qvec.length == dims,
      s"graft: query dimension ${qvec.length} != index dimension $dims")
    val q =
      if (normalizedStore || metric == DistanceMetric.Cosine) normalize(qvec)
      else qvec
    // heap of the k best (score, id), max on top for O(log k) replacement
    val heap = new java.util.PriorityQueue[(Float, Long)](k,
      (a: (Float, Long), b: (Float, Long)) => {
        val c = java.lang.Float.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(b._2, a._2)
      })
    def offer(score: Float, id: Long): Unit =
      if (heap.size < k) heap.add((score, id))
      else {
        val worst = heap.peek()
        if (score < worst._1 || (score == worst._1 && id < worst._2)) {
          heap.poll(); heap.add((score, id))
        }
      }
    scanBlocks(q, nprobe).foreach { b =>
      val ids = blockIds(b); val vecs = blockVecs(b)
      var i = 0
      while (i < ids.length) {
        if (allow == null || allow(ids(i)))
          offer(score(q, vecs, i * dims), ids(i))
        i += 1
      }
    }
    val out = new Array[(Long, Float)](heap.size)
    var i = out.length - 1
    while (i >= 0) {
      val (s, id) = heap.poll()
      out(i) = (id, reportedDistance(s))
      i -= 1
    }
    out
  }

  /** Convenience batch form (serial; share the instance across threads for
    * concurrent serving). */
  def queryBatch(qvecs: Array[Array[Float]], k: Int, nprobe: Int = 0)
      : Array[Array[(Long, Float)]] = qvecs.map(query(_, k, nprobe))

  private def scanBlocks(q: Array[Float], nprobe0: Int): Array[Int] =
    if (centroids.isEmpty) blockIds.indices.toArray
    else {
      val nprobe = if (nprobe0 <= 0) defaultNprobe else math.min(nprobe0, centroids.length)
      // argmin top-nprobe over the same centroid set the distributed probe
      // uses — FLOAT accumulation to mirror NearestCentroids.topN exactly,
      // so near-tied centroids order identically and the probed partition
      // sets match the distributed query's at any nprobe
      val dist = centroids.map { c =>
        var s = 0.0f; var i = 0
        while (i < dims) { val d = q(i) - c(i); s += d * d; i += 1 }
        s
      }
      val order = centroids.indices.sortBy(i => (dist(i), i)).take(nprobe)
      (order ++ alwaysScan).toArray
    }

  private def score(q: Array[Float], flat: Array[Float], off: Int): Float =
    metric match {
      case DistanceMetric.SumOfSquares => sqDist(q, flat, off).toFloat
      case DistanceMetric.L2 => math.sqrt(sqDist(q, flat, off)).toFloat
      case DistanceMetric.InnerProduct => (-dot(q, flat, off)).toFloat
      case DistanceMetric.Cosine =>
        if (normalizedStore) sqDist(q, flat, off).toFloat
        else {
          var na = 0.0; var i = 0
          while (i < dims) { na += flat(off + i) * flat(off + i); i += 1 }
          (1.0 - dot(q, flat, off) / math.sqrt(na)).toFloat // q pre-normalized
        }
    }

  /** Mirror of [[DistanceMetric.reportedDistance]] + the IVF cosine sos/2
    * mapping ([[IvfIndex.search]]). */
  private def reportedDistance(s: Float): Float = metric match {
    case DistanceMetric.InnerProduct =>
      val d = -s
      if (d == 0.0f) Float.MaxValue else 1.0f / d
    case DistanceMetric.Cosine if normalizedStore => s / 2.0f
    case _ => s
  }

  private def sqDist(q: Array[Float], flat: Array[Float], off: Int): Double = {
    var s = 0.0; var i = 0
    while (i < q.length) { val d = q(i) - flat(off + i); s += d * d; i += 1 }
    s
  }

  private def dot(q: Array[Float], flat: Array[Float], off: Int): Double = {
    var s = 0.0; var i = 0
    while (i < q.length) { s += q(i) * flat(off + i); i += 1 }
    s
  }

  private def normalize(v: Array[Float]): Array[Float] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    if (n == 0.0) return v.clone()
    val inv = 1.0 / math.sqrt(n)
    val out = new Array[Float](v.length)
    i = 0
    while (i < v.length) { out(i) = (v(i) * inv).toFloat; i += 1 }
    out
  }
}

object LocalSearcher {
  val MaxLocalServeBytesKey = "spark.graft.maxLocalServeBytes"
  val DefaultMaxLocalServeBytes: Long = 1L << 30 // 1 GiB
}
