package graft.index

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DistanceMetric, Knn}

/** Vamana / DiskANN-style graph kernels (reference:
  * src/include/index/vamana_index.h:321-410 build;
  * detail/graph/greedy_search.h:59-330 search;
  * robust_prune in vamana_index.h).
  *
  * Pure-Scala kernels operating on positional arrays; each SHARD's build
  * runs inside one executor task (the reference builds the whole index in
  * one DAG node — `ingest_vamana`, ingestion.py:2572-2595 — because
  * per-point inserts mutate the shared graph; sharding is our scale path:
  * k-means shards → independent per-shard builds → merged search).
  */
object VamanaKernels {

  @inline private def sos(a: Array[Float], b: Array[Float]): Float = {
    var s = 0.0f; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  def medoid(points: Array[Array[Float]]): Int = {
    val d = points(0).length
    val mean = new Array[Float](d)
    points.foreach { p => var i = 0; while (i < d) { mean(i) += p(i); i += 1 } }
    var i = 0
    while (i < d) { mean(i) /= points.length; i += 1 }
    var best = 0; var bestD = Float.MaxValue
    var j = 0
    while (j < points.length) {
      val dd = sos(points(j), mean)
      if (dd < bestD) { bestD = dd; best = j }
      j += 1
    }
    best
  }

  /** Best-first beam search with beam width L (reference:
    * greedy_search.h:59-330). Returns (topL sorted candidates, visited). */
  def greedySearch(
      points: Array[Array[Float]],
      adj: Array[Array[Int]],
      start: Int,
      q: Array[Float],
      L: Int): (Array[(Float, Int)], Array[Int]) =
    greedySearchF(points, i => adj(i), start, q, L)

  /** Accessor-based variant so the build can search over its mutable
    * adjacency without copying it per insert (the copy made builds
    * O(n^2 * R) and dominated bench time). */
  def greedySearchF(
      points: Array[Array[Float]],
      adj: Int => Iterable[Int],
      start: Int,
      q: Array[Float],
      L: Int): (Array[(Float, Int)], Array[Int]) =
    greedySearchDist(points.length, i => sos(points(i), q), adj, start, L)

  /** Distance-accessor variant: the walk only ever needs d(node, query), so
    * an index->distance function generalizes the kernel to compressed
    * representations (PQ asymmetric lookups in [[searchShardPq]]) without
    * touching the float hot path's semantics. */
  /** Sortable-int transform of a float's IEEE bits: signed-int order of
    * the key equals `Float.compare` order for every float (negatives keep
    * the sign bit — below all non-negatives — and flip their magnitude
    * bits so more-negative sorts lower; non-negatives are identity, which
    * also preserves the -0.0 < +0.0 edge). XOR makes it self-inverse
    * ([[unpackDist]]). Property-pinned against the old boxed comparator in
    * R13OptimizationSpec, including negative distances. NaN: floatToIntBits
    * (unlike floatToRawIntBits) CANONICALIZES every NaN — sign bit
    * included — to 0x7fc00000, which is positive and above +Inf's
    * 0x7f800000, so a NaN distance sorts WORST exactly like Float.compare
    * (a corrupt point goes to the frontier tail, never the head);
    * spec-pinned alongside the comparator property. */
  @inline private def sortableBits(f: Float): Int = {
    val b = java.lang.Float.floatToIntBits(f)
    if (b < 0) b ^ 0x7fffffff else b
  }
  @inline private def packKey(d: Float, idx: Int): Long =
    (sortableBits(d).toLong << 32) | (idx.toLong & 0xffffffffL)
  @inline private def unpackIdx(key: Long): Int = (key & 0xffffffffL).toInt
  @inline private def unpackDist(key: Long): Float = {
    val b0 = (key >>> 32).toInt
    java.lang.Float.intBitsToFloat(if (b0 < 0) b0 ^ 0x7fffffff else b0)
  }

  def greedySearchDist(
      n: Int,
      dist: Int => Float,
      adj: Int => Iterable[Int],
      start: Int,
      L: Int): (Array[(Float, Int)], Array[Int]) = {
    // frontier capacity in LONG arithmetic: 2 * (1 << 30) overflows Int to
    // a NEGATIVE bound, making `size > bound` always true and the trim
    // loop spin on an empty frontier forever — the probe-all idiom
    // (lSearch = 1 << 30) reached exactly that. A beam can also never
    // usefully exceed the point count, so clamp there first.
    val lEff = math.min(L.toLong, math.max(1L, n.toLong)).toInt
    val cap = math.min(2L * lEff, Int.MaxValue.toLong).toInt
    // primitive-keyed frontier: (sortableDistBits << 32 | idx) longs order
    // exactly like the old (dist, id) tuple comparator, without the boxed
    // tuple + comparator indirection on the kernel's hottest structure;
    // seen/expanded become BitSets over the shard's node space (guide
    // §1.2 step 2, per-task work)
    val seen = new java.util.BitSet(n)
    val expanded = new java.util.BitSet(n)
    val visited = mutable.ArrayBuffer.empty[Int]
    val frontier = new java.util.TreeSet[java.lang.Long]()
    frontier.add(packKey(dist(start), start))
    seen.set(start)
    var done = false
    while (!done) {
      // nearest unexpanded within the top-L frontier
      var next = 0L
      var found = false
      val it = frontier.iterator()
      var rank = 0
      while (!found && it.hasNext && rank < lEff) {
        val c = it.next().longValue()
        if (!expanded.get(unpackIdx(c))) { next = c; found = true }
        rank += 1
      }
      if (!found) done = true
      else {
        val node = unpackIdx(next)
        expanded.set(node)
        visited += node
        val it2 = adj(node).iterator
        while (it2.hasNext) {
          val nb = it2.next()
          if (!seen.get(nb)) {
            seen.set(nb)
            frontier.add(packKey(dist(nb), nb))
            if (frontier.size() > cap) { frontier.pollLast(); () }
          }
        }
        while (frontier.size() > cap) frontier.pollLast()
      }
    }
    val top = frontier.iterator()
    val out = mutable.ArrayBuffer.empty[(Float, Int)]
    while (top.hasNext && out.size < lEff) {
      val c = top.next().longValue()
      out += ((unpackDist(c), unpackIdx(c)))
    }
    (out.toArray, visited.toArray)
  }

  /** RobustPrune (reference: vamana_index.h robust_prune): greedily keep
    * nearest candidates, dropping any candidate occluded by a kept one
    * (alpha-slack triangle test). */
  def robustPrune(
      points: Array[Array[Float]],
      p: Int,
      candidates: Iterable[Int],
      alpha: Float,
      r: Int): Array[Int] = {
    // Primitive formulation of "sort by (distance, id), keep nearest alive,
    // drop occluded" — the prune runs O(inserts × reverse-edges) times per
    // shard build and the boxed-tuple sort + O(n) ArrayBuffer.remove made
    // it the build's hot path (guide §1.2 step 2, per-task work). sos
    // distances are non-negative, so their raw IEEE-754 bits are
    // order-preserving and (distBits << 32 | idx) longs sort exactly like
    // the old (dist, idx) tuples, including the id tie-break.
    val distinct = new java.util.HashSet[Integer]()
    val it0 = candidates.iterator
    var m = 0
    val tmp = new Array[Int](candidates.size)
    while (it0.hasNext) {
      val c = it0.next()
      if (c != p && distinct.add(c)) { tmp(m) = c; m += 1 }
    }
    val key = new Array[Long](m)
    var i = 0
    while (i < m) {
      val c = tmp(i)
      // packKey: total float order even though sos is non-negative here
      key(i) = packKey(sos(points(c), points(p)), c)
      i += 1
    }
    java.util.Arrays.sort(key)
    val dead = new Array[Boolean](m)
    val kept = new Array[Int](math.min(r, m))
    var taken = 0
    i = 0
    while (i < m && taken < r) {
      if (!dead(i)) {
        val c = (key(i) & 0xffffffffL).toInt
        kept(taken) = c; taken += 1
        val pc = points(c)
        // drop occluded: alpha * d(c, c') <= d(p, c')
        var j = i + 1
        while (j < m) {
          if (!dead(j)) {
            val cp = (key(j) & 0xffffffffL).toInt
            val dP = unpackDist(key(j))
            if (alpha * sos(pc, points(cp)) <= dP) dead(j) = true
          }
          j += 1
        }
      }
      i += 1
    }
    java.util.Arrays.copyOf(kept, taken)
  }

  /** Sequential Vamana build (reference: vamana_index.h:321-410): two
    * alpha passes of insert (greedy search from medoid → robust prune →
    * reverse edges with degree-capped re-prune). */
  def build(
      points: Array[Array[Float]],
      lBuild: Int,
      rMaxDegree: Int,
      alpha: Float = 1.2f): (Int, Array[Array[Int]]) = {
    val n = points.length
    val med = medoid(points)
    val adj = Array.fill(n)(mutable.LinkedHashSet.empty[Int])
    // initial ring so the graph is connected before the first pass
    var i = 0
    while (i < n) { if (i != med) adj(i) += med; i += 1 }

    for (pass <- 0 until 2) {
      val a = if (pass == 0) 1.0f else alpha
      var p = 0
      while (p < n) {
        if (p != med) {
          val (_, visited) = greedySearchF(points, i => adj(i), med, points(p), lBuild)
          val pruned = robustPrune(points, p, visited ++ adj(p), a, rMaxDegree)
          adj(p).clear(); adj(p) ++= pruned
          pruned.foreach { j =>
            adj(j) += p
            if (adj(j).size > rMaxDegree) {
              val rp = robustPrune(points, j, adj(j), a, rMaxDegree)
              adj(j).clear(); adj(j) ++= rp
            }
          }
        }
        p += 1
      }
    }
    (med, adj.map(_.toArray))
  }

  /** Per-shard graph build with ONE TASK PER SHARD (optimization guide
    * §2.5: AQE sizes post-shuffle partitions by BYTES, so the tiny shuffle
    * of a sharded build coalesces to 1-2 partitions and serializes the
    * CPU-heavy graph kernels — measured 6.3 s on 2 tasks for a 16-shard
    * build that parallelizes to under a second. An explicit shard_id →
    * partition mapping keeps the build embarrassingly parallel at every
    * scale; at production shard counts the mapping is what a byte-sized
    * coalesce would pick anyway, since each shard's rows are large).
    *
    * Rows are sorted by external_id inside each shard before the kernel
    * runs: [[build]]'s insertion order shapes the graph, and pinning it to
    * the id order makes the topology reproducible regardless of upstream
    * partitioning (previously it followed shuffle-arrival order).
    *
    * MEMORY BOUND (documented invariant, r13 VERDICT item): the task
    * materializes its whole shard (`it.toArray`) — one shard's vectors
    * must fit in task memory, the same bound the reference's single-node
    * builder has per shard and the same posture the previous
    * groupByKey.flatMapGroups shape had. Sizing rule: shards ≈
    * corpus_bytes / shard_count ≤ (executor memory / cores) with
    * headroom; [[VamanaIndex.autoShards]] picks counts that respect it at
    * the design point, and an oversized explicit `partitions` choice
    * fails with the executor's OOM, not silent spill (a spill-aware
    * kernel would have to re-stream the graph per insertion — the
    * sequential-insert algorithm fundamentally wants the shard resident).
    *
    * Input columns: (shard_id, external_id, vector); output:
    * (shard_id, external_id, neighbors, is_medoid). */
  def buildShardGraphs(rows: DataFrame, numShards: Int, lBuild: Int,
      rMaxDegree: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val parts = math.max(1, numShards)
    rows.select(col("shard_id"), col("external_id"), col("vector"))
      .as[(Int, Long, Array[Float])].rdd
      .map { case (sid, id, v) => (sid, (id, v)) }
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = parts
        override def getPartition(key: Any): Int =
          ((key.asInstanceOf[Int] % parts) + parts) % parts
      })
      .mapPartitions { it =>
        it.toArray.groupBy(_._1).iterator.flatMap { case (sid, grp) =>
          val arr = grp.map(_._2).sortBy(_._1)
          val ids = arr.map(_._1)
          val pts = arr.map(_._2)
          val (med, adj) = build(pts, lBuild, rMaxDegree)
          adj.indices.iterator.map { i =>
            (sid, ids(i), adj(i).map(ids(_)).toSeq, i == med)
          }
        }
      }
      .toDF("shard_id", "external_id", "neighbors", "is_medoid")
  }

  /** Per-shard beam search over (ids, points, adj) built from grouped rows:
    * returns (qid, external_id, sosScore) for the shard's top candidates. */
  def searchShard(
      rows: Array[(Long, Array[Float], Array[Long], Boolean)],
      queries: Array[(Long, Array[Float])],
      lSearch: Int,
      k: Int): Iterator[(Long, Long, Float)] = {
    if (rows.isEmpty) return Iterator.empty
    val ids = rows.map(_._1)
    val pos = ids.zipWithIndex.toMap
    val points = rows.map(_._2)
    val adj = rows.map(_._3.flatMap(l => pos.get(l)))
    val med = rows.indexWhere(_._4) match { case -1 => 0; case m => m }
    queries.iterator.flatMap { case (qid, qv) =>
      val (top, _) = greedySearchF(points, i => adj(i), med, qv, lSearch)
      top.take(k).map { case (score, p) => (qid, ids(p), score) }
    }
  }

  /** PQ-compressed per-shard beam search (the DiskANN §3 memory layout:
    * graph walk over m-int codes, exactness restored by the caller's
    * full-vector re-rank). `rows` carry PQ codes instead of float vectors;
    * each query's asymmetric distance TABLE is built INSIDE the task from
    * the (dims-float) query vector and the closure-shipped flat codebook —
    * the table is m x codesPer floats, so shipping the query instead of the
    * table cuts the replicated-query shuffle by that ratio. A beam step
    * then costs m array lookups instead of a dims-float subtraction, and a
    * shard task holds dims/m-fold less vector data than [[searchShard]],
    * the lever that fits 100 TB of graph in executor memory. */
  def searchShardPq(
      rows: Array[(Long, Array[Int], Array[Long], Boolean)],
      queries: Array[(Long, Array[Float])],
      flatCb: Array[Float],
      mSub: Int,
      codesPer: Int,
      subDim: Int,
      lSearch: Int,
      k: Int): Iterator[(Long, Long, Float)] = {
    if (rows.isEmpty) return Iterator.empty
    val ids = rows.map(_._1)
    val pos = ids.zipWithIndex.toMap
    val codes = rows.map(_._2)
    val adj = rows.map(_._3.flatMap(l => pos.get(l)))
    val med = rows.indexWhere(_._4) match { case -1 => 0; case m => m }
    queries.iterator.flatMap { case (qid, qv) =>
      val dtable = graft.functions.PqDistanceTable.table(qv, flatCb, mSub, codesPer, subDim)
      val adc = (i: Int) => {
        val c = codes(i); var s = 0.0f; var j = 0
        while (j < c.length) { s += dtable(j * codesPer + c(j)); j += 1 }
        s
      }
      val (top, _) = greedySearchDist(rows.length, adc, i => adj(i), med, lSearch)
      top.take(k).map { case (score, p) => (qid, ids(p), score) }
    }
  }
}

/** VAMANA index (reference:
  * apis/python/src/tiledb/vector_search/vamana_index.py; C++
  * src/include/index/vamana_index.h). Defaults l_build=100,
  * r_max_degree=64, l_search=100 (vamana_index.py:30-32).
  *
  * Storage: `base/v=<ts>` partitioned by shard_id (external_id, vector),
  * `graph/v=<ts>` adjacency rows (shard_id, external_id, neighbors,
  * is_medoid), `centroids/v=<ts>` (the shard map) when sharded. One shard = the
  * reference's single-node build; multiple shards = the 100 TB scale path
  * (independent per-shard builds, per-shard search tasks, global top-k
  * merge — each task holds one shard's graph only; queries broadcast).
  */
class VamanaIndex(spark: SparkSession, uri: String, meta: IndexMeta, ts: Long,
    val nprobeShards: Int = 0, val pqKFactor: Float = 0f,
    range: Option[VectorIndex.ReadWindow] = None)
    extends VectorIndex(spark, uri, meta, ts, range) {

  override def baseVectors(): DataFrame = {
    if (historyIdx < 0) return StoredVectors.empty(spark)
    val b = residentRows(readVersioned(s"$uri/base/v=$baseTimestamp"))
      .select("external_id", "vector")
    // boundary-replicated builds store each vector in several shards; the
    // logical base is one row per id (copies are bit-identical)
    if (meta.shardReplicas > 1) b.dropDuplicates("external_id") else b
  }

  /** Drop the boundary exchange's search-only portal copies
    * (`imported = true`) from a base read — every portal id is resident in
    * at least one other shard, so the logical base loses nothing and the
    * replica dedup stops scanning rows it would discard anyway. Versions
    * written before the flag existed (or whose files mix presence after an
    * old-format consolidation) read the column as absent/null → resident. */
  private def residentRows(df: DataFrame): DataFrame =
    if (df.columns.contains("imported"))
      df.where(!coalesce(col("imported"), lit(false)))
    else df

  /** Replica-deduped base whose vector column IS the scan's own attribute,
    * for SQL view registration: [[baseVectors]]'s dropDuplicates compiles
    * to an Aggregate that re-aliases vector as first(vector), which hides
    * the scan from [[graft.plans.IndexProbeRewrite]]'s attribute-to-scan
    * matching. The window row_number dedup keeps scan attributes, so an
    * injected `shard_id IN (...)` filter lands directly above the scan and
    * prunes physically; the surviving copy per id is then the lowest
    * probed shard's (copies are bit-identical). */
  private[graft] def baseVectorsStableAttrs(): DataFrame = {
    if (historyIdx < 0 || meta.shardReplicas <= 1) return baseVectors()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("external_id")).orderBy(col("shard_id"))
    residentRows(readVersioned(s"$uri/base/v=$baseTimestamp"))
      .select("external_id", "vector", "shard_id")
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select("external_id", "vector")
  }

  /** Labeled alias for the reference's `l_search` query parameter
    * (vamana_index.py:30-32): the generic `query(..., nprobe)` third
    * argument doubles as l_search for graph indexes. */
  def queryLSearch(queries: DataFrame, k: Int, lSearch: Int): DataFrame =
    query(queries, k, nprobe = lSearch)

  /** Shard-routed variant: per query, rank shards by distance to their
    * k-means shard centroid and beam-search only the nearest `nprobeShards`
    * (the IVF nprobe trick applied to the graph shards; reference analogue:
    * detail/ivf/partition.h:57-65 — the reference has no counterpart for the
    * all-shard fan-out because it builds ONE graph, ingestion.py:2572-2595).
    * `nprobeShards` > 0 routes; < 0 FORCES the exactness-preserving
    * all-shard search regardless of the session conf; 0 inherits
    * `spark.graft.vamana.nprobeShards` (default: all shards). Routed
    * searches keep full updates-merge semantics. */
  def queryLSearch(queries: DataFrame, k: Int, lSearch: Int, nprobeShards: Int): DataFrame =
    withNprobeShards(nprobeShards).query(queries, k, nprobe = lSearch)

  /** Same index and read window, queries routed to the top-`s` shards per
    * query. */
  def withNprobeShards(s: Int): VamanaIndex =
    new VamanaIndex(spark, uri, meta, readTimestamp, s, pqKFactor, Some(window))

  /** Same index, base searches traversing PQ CODES instead of float
    * vectors (DiskANN's memory layout — Subramanya et al., NeurIPS'19 §3:
    * walk on compressed codes, exact re-rank of the merged candidates from
    * the full vectors). A shard task then holds m ints per vector instead
    * of dims floats, the lever that keeps a 100 TB graph's search tasks
    * inside executor memory; the full vectors are read once at the end for
    * only the k x kFactor merged candidates per query. Requires
    * [[buildPqCodes]] to have attached codes to this version (checked at
    * query time with a named error). Composes with shard routing
    * ([[withNprobeShards]]) and with the standard updates-merge/masking in
    * [[VectorIndex.query]], which rides on top of queryBase unchanged. */
  def withPqTraversal(kFactor: Float = 0f): VamanaIndex = {
    // 0 = resolve the default: the build-time calibrated knee when one is
    // persisted ([[calibratePqKFactor]] → meta.pqKFactor), else the
    // compiled constant; an explicit kFactor always wins
    val kf = if (kFactor > 0f) kFactor
      else if (meta.pqKFactor > 0f) meta.pqKFactor
      else VamanaIndex.DefaultPqKFactor
    require(kf >= 1f,
      s"graft: withPqTraversal kFactor must be >= 1 (got $kf)")
    new VamanaIndex(spark, uri, meta, readTimestamp, nprobeShards, kf, Some(window))
  }

  /** Measure the PQ-traversal k_factor knee for THIS corpus at THIS
    * handle's routing config and persist it as the traversal default
    * ([[KFactorCalibration]]): nq held-out base vectors run the PQ beam
    * per grid step against the saturated-pool twin — at routed fan-out S
    * the knee captures exactly the pool-saturation effect the 10M sweep
    * measured (recall falling as S widens at fixed k×kFactor). Call on a
    * handle configured like the serving path (e.g.
    * `withNprobeShards(s).calibratePqKFactor()`), after [[buildPqCodes]]. */
  def calibratePqKFactor(k: Int = 100, nq: Int = KFactorCalibration.DefaultNq,
      lSearch: Int = VamanaIndex.DefaultLSearch,
      persist: Boolean = true): Float = {
    require(historyIdx >= 0, "graft: calibratePqKFactor needs an ingested base")
    require(pqCodebooks.nonEmpty,
      "graft: calibratePqKFactor needs PQ codes — run buildPqCodes() first")
    KFactorCalibration.calibrateIndex(this, "calibratePqKFactor", k, nq, persist)(
      (qs, kEff, g) => withPqTraversal(g).queryLSearch(qs, kEff, lSearch, nprobeShards))
  }

  /** The PERF.md-sweep default probe width for THIS build's persisted
    * geometry: see [[VamanaIndex.autoNprobeShards]]. 0 = all-shard. */
  def autoNprobeShards: Int =
    VamanaIndex.autoNprobeShards(shardCentroids.length,
      math.max(1, meta.shardReplicas), meta.boundaryExchanged)

  /** Routed search at the auto-picked probe width — callers get the
    * sweep-validated configuration without knowing the sweep: with
    * boundary replication ≥ 3 the query probes ~shards/4 (recall 0.927 on
    * the adversarial near-uniform fixture, ≥ 0.996 on clustered corpora —
    * PERF.md round-5 audit); with fewer replicas routing cannot clear the
    * 0.85 reference gate at any measured S, so the search FORCES the
    * exactness-preserving all-shard merge instead. */
  def queryRouted(
      queries: DataFrame,
      k: Int,
      lSearch: Int = VamanaIndex.DefaultLSearch): DataFrame = {
    val s = autoNprobeShards
    queryLSearch(queries, k, lSearch, if (s == 0) -1 else s)
  }

  /** Shard k-means centroids, in shard_id order; empty for single-shard
    * builds (which write no centroids). Existence checked through the
    * Hadoop FS API — a java.nio check would silently disable routing and
    * incremental consolidation for non-local index URIs. */
  /** Attach PQ codes to this base version (the [[withPqTraversal]]
    * prerequisite): train per-subspace codebooks on the stored base (the
    * shared central/distributed k-means dispatch,
    * [[Ingest.trainPqCodebooks]]), encode every base row — INCLUDING
    * boundary-exchange portal copies, which participate in beam distances —
    * and write `pq/v=<ts>` partitioned by shard_id (so routed queries prune
    * code files exactly like base/graph files) plus `pq_codebooks/v=<ts>`
    * in the IVF_PQ layout. Idempotent per version; float dtypes only (byte
    * bases are already 4x packed — compressing a compressed base is the
    * IVF_PQ u8 path's job). */
  def buildPqCodes(mSubspaces: Int = 0): Unit = {
    require(historyIdx >= 0,
      "graft: buildPqCodes needs an ingested base at this timestamp")
    require(meta.dtype == "float32",
      s"graft: buildPqCodes supports float32 bases (got ${meta.dtype})")
    // 0 = auto: dims/4 subspaces, the IVF_PQ ingest default (ingestion.py
    // num_subspaces) — 16x smaller traversal vectors
    val mSub = if (mSubspaces > 0) mSubspaces else math.max(1, meta.dimensions / 4)
    require(meta.dimensions % mSub == 0,
      s"graft: buildPqCodes mSubspaces=$mSub must divide " +
        s"dimensions=${meta.dimensions}")
    if (Storage.exists(s"$uri/pq/v=$baseTimestamp")) return
    val base = readVersioned(s"$uri/base/v=$baseTimestamp")
    val n = meta.baseSizes(historyIdx)
    val subDim = meta.dimensions / mSub
    val cbs = Ingest.trainPqCodebooks(base.select("vector"), mSub, subDim,
      Ingest.autoTrainingSize(n, 256), totalRows = n)
    Ingest.writePqCodebooks(spark, uri, baseTimestamp, cbs)
    val flatCb = Ingest.flattenCodebooks(cbs, subDim)
    import org.apache.spark.sql.graftshim.{toColumn, toExpression}
    base.select(col("shard_id"), col("external_id"),
        toColumn(graft.functions.PqEncode(toExpression(col("vector")), flatCb,
          mSub, cbs(0).length, subDim)).as("codes"))
      .write.mode("overwrite").partitionBy("shard_id")
      .parquet(s"$uri/pq/v=$baseTimestamp")
  }

  /** PQ codebooks attached to this version by [[buildPqCodes]];
    * codebooks(subspace)(code) = sub-centroid. Empty when none exist. */
  lazy val pqCodebooks: Array[Array[Array[Float]]] =
    if (historyIdx < 0 || !Storage.exists(s"$uri/pq_codebooks/v=$baseTimestamp"))
      Array.empty
    else graft.SessionCache.get(spark, s"$uri/pq_codebooks/v=$baseTimestamp", "codebooks") {
      val rows = readVersioned(s"$uri/pq_codebooks/v=$baseTimestamp")
        .orderBy("subspace", "code").collect()
      rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
        rs.sortBy(_.getInt(1)).map(r => r.getSeq[Float](2).toArray).toArray
      }.toArray
    }

  lazy val shardCentroids: Array[Array[Float]] =
    if (historyIdx < 0 || !Storage.exists(s"$uri/centroids/v=$baseTimestamp"))
      Array.empty
    else Ingest.storedCentroids(spark, uri, baseTimestamp)

  /** Incremental consolidation: a sharded VAMANA rebuild only needs to
    * re-run the (sequential, expensive) graph kernel for shards whose vector
    * MEMBERSHIP changed — deleted/updated ids' home shards plus the shards
    * additions land in. Untouched shards' base and graph partitions are
    * copied into the new version byte-identical (spec-gated). At the 100 TB
    * design point this turns a full-corpus graph rebuild into work
    * proportional to the touched shards — the dominant consolidation cost
    * for a trickle of updates. Falls back to the full re-ingest
    * ([[VectorIndex.consolidateUpdates]]) when the shard count changes, the
    * build is single-shard, or there is nothing to fold in. */
  override def consolidateUpdates(
      newTs: Long,
      partitions: Option[Int] = None,
      reuseCentroids: Boolean = false): VectorIndex = {
    requirePointInTime("consolidateUpdates")
    val currentShards = if (historyIdx >= 0) meta.partitionHistory(historyIdx) else 0
    // visibleUpdates is None when the window holds no log row, so a log
    // holding only already-consolidated entries takes the full re-ingest
    // (which then folds nothing) instead of copying every shard into a new
    // version; a non-empty window always masks at least one id.
    val upd = visibleUpdates(stored = true)
    val incrementalOk = historyIdx >= 0 && currentShards > 1 && meta.lBuild > 0 &&
      upd.nonEmpty && partitions.forall(_ == currentShards) &&
      shardCentroids.length == currentShards
    if (!incrementalOk) return super.consolidateUpdates(newTs, partitions, reuseCentroids)
    require(meta.ingestionTimestamps.forall(_ < newTs),
      s"consolidation timestamp $newTs must exceed prior ${meta.ingestionTimestamps}")

    import spark.implicits._
    import org.apache.spark.sql.graftshim.{toColumn, toExpression}
    val touchedIds = upd.get.masked.cache()
    // carry the portal flag through when the active version has it — the
    // affected-shard rewrite must keep every file's schema identical to the
    // byte-copied untouched shards' (a mixed-presence column is resolved
    // from whichever footer Spark samples, i.e. nondeterministically)
    val oldBaseRaw = spark.read.parquet(s"$uri/base/v=$baseTimestamp")
    val hasImportedCol = oldBaseRaw.columns.contains("imported")
    val oldBase =
      if (hasImportedCol)
        oldBaseRaw.select(col("shard_id"), col("external_id"), col("vector"),
          coalesce(col("imported"), lit(false)).as("imported"))
      else oldBaseRaw.select("shard_id", "external_id", "vector")

    // additions in the stored float form, assigned to their shardReplicas
    // nearest shards
    val addsFloat = upd.get.additions
    val reps = math.max(1, meta.shardReplicas)
    val addsAssigned = (if (reps > 1)
      addsFloat.withColumn("shard_id",
        explode(toColumn(graft.functions.NearestCentroids(
          toExpression(col("vector")), shardCentroids, reps))))
    else
      addsFloat.withColumn("shard_id",
        toColumn(graft.functions.NearestCentroid(
          toExpression(col("vector")), shardCentroids)))).cache()

    val removalShards = oldBase.join(touchedIds, Seq("external_id"), "left_semi")
      .select("shard_id").distinct().as[Int].collect()
    val addShards = addsAssigned.select("shard_id").distinct().as[Int].collect()
    val affected = (removalShards ++ addShards).distinct.sorted.toSeq
    val untouched = (0 until currentShards).filterNot(affected.contains)

    // A FAILED prior attempt at this timestamp (crash after some writes,
    // before the meta commit) must not poison the retry: the appends below
    // would otherwise duplicate every affected shard's rows. The version
    // becomes visible only at the meta write, so reclaiming the partial
    // output is safe.
    Seq("base", "graph", "centroids").foreach { layer =>
      Storage.deleteRecursively(s"$uri/$layer/v=$newTs")
    }

    // 1. untouched shards: byte-identical copies of base + graph partitions.
    // PARALLEL, not a driver loop: per-directory FS overhead (~35 ms of
    // open/list/create per dir through the Hadoop API) dominates the bytes
    // at production shard counts — sequentially, 3960 untouched shards × 2
    // layers measured ~270 s of the 10M fold, a FIXED floor that hid the
    // touched-proportional kernel cost entirely (MAINT arm, PERF.md
    // round 13). Hadoop FileSystem instances are thread-safe; each task
    // touches disjoint directories.
    {
      import scala.collection.parallel.CollectionConverters._
      import scala.collection.parallel.ForkJoinTaskSupport
      val copies = for (sid <- untouched; layer <- Seq("base", "graph"))
        yield (sid, layer)
      val pool = new java.util.concurrent.ForkJoinPool(16)
      try {
        val par = copies.par
        par.tasksupport = new ForkJoinTaskSupport(pool)
        par.foreach { case (sid, layer) =>
          val src = s"$uri/$layer/v=$baseTimestamp/shard_id=$sid"
          if (Storage.exists(src))
            Storage.copyRecursively(src, s"$uri/$layer/v=$newTs/shard_id=$sid")
        }
      } finally pool.shutdown()
    }
    Storage.copyRecursively(s"$uri/centroids/v=$baseTimestamp",
      s"$uri/centroids/v=$newTs")

    // 2. affected shards: new membership = kept old rows + packed additions
    if (affected.nonEmpty) {
      val keptOld = oldBase.where(col("shard_id").isin(affected: _*))
        .join(touchedIds, Seq("external_id"), "left_anti")
      val addsStored = StoredVectors.pack(addsAssigned, meta.dtype)
      val baseCols =
        if (hasImportedCol) Seq("shard_id", "external_id", "vector", "imported")
        else Seq("shard_id", "external_id", "vector")
      val newAffected = keptOld.select(baseCols.head, baseCols.tail: _*)
        .unionByName(
          (if (hasImportedCol) addsStored.withColumn("imported", lit(false))
           else addsStored).select(baseCols.head, baseCols.tail: _*))
      newAffected.write.mode("append").partitionBy("shard_id")
        .parquet(s"$uri/base/v=$newTs")

      // 3. rebuild graphs for affected shards only (same kernel + params)
      val floatView = StoredVectors.unpack(newAffected, meta.dtype)
      val lb = meta.lBuild
      val rd = meta.rMaxDegree
      // one task per shard + id-sorted insertion order (see
      // VamanaKernels.buildShardGraphs); partitioner sized to the full
      // shard count so affected-only rebuilds still map shard → task
      val g = VamanaKernels.buildShardGraphs(
        floatView.select(col("shard_id"), col("external_id"), col("vector")),
        currentShards, lb, rd)
      g.write.mode("append").partitionBy("shard_id")
        .parquet(s"$uri/graph/v=$newTs")
    }

    // 4. metadata: logical size = old − removed (distinct ids present in the
    // old base) + additions
    val removedCnt = oldBase.join(touchedIds, Seq("external_id"), "left_semi")
      .select("external_id").distinct().count()
    val addCnt = addsFloat.count()
    touchedIds.unpersist()
    addsAssigned.unpersist()
    // extend the CURRENT on-disk metadata, not this handle's copy — other
    // handles may have appended versions since it was opened
    val cur = IndexMeta.read(uri)
    require(cur.ingestionTimestamps.forall(_ < newTs),
      s"consolidation timestamp $newTs must exceed on-disk ${cur.ingestionTimestamps}")
    val newMeta = cur.copy(
      ingestionTimestamps = cur.ingestionTimestamps :+ newTs,
      baseSizes = cur.baseSizes :+ (meta.baseSizes(historyIdx) - removedCnt + addCnt),
      partitionHistory = cur.partitionHistory :+ currentShards)
    IndexMeta.write(uri, newMeta)
    graft.plans.GraftSql.onIndexMutated(spark, uri)
    VectorIndex.open(spark, uri)
  }

  override protected def queryBase(queries: DataFrame, k: Int, lSearch0: Int,
      allow: Option[DataFrame]): DataFrame = {
    if (historyIdx < 0) {
      return Knn.bruteForce(restrictTo(baseVectors(), allow), queries, k, metric,
        idCol = "external_id", vecCol = "vector")
    }
    if (pqKFactor > 0f) return queryBasePq(queries, k, lSearch0, allow)
    // Filtered graph search = overfetch-then-filter (the reference object
    // layer's fetch_k strategy, object_index.py): constraining the greedy
    // traversal itself to allowed nodes could disconnect the graph, so the
    // beam search runs unfiltered, each shard returns its full beam (not
    // just top-k), and the allow-list semi-joins the merged beam before the
    // final top-k. Approximate exactly like the unfiltered VAMANA path —
    // gated by the same recall spec, with the beam width as the overfetch.
    val lSearch = math.max(if (lSearch0 <= 0) VamanaIndex.DefaultLSearch else lSearch0,
      if (allow.isDefined) 4 * k else k)

    import spark.implicits._
    val qn0 = queries.select(col("qid").cast("long").as("qid"),
      col("qvec").cast("array<float>").as("qvec"))
    val qn = metric match {
      case DistanceMetric.Cosine => qn0.select(col("qid"),
        graft.functions.vector_normalize(col("qvec")).as("qvec"))
      case _ => qn0
    }

    // Collect-free query path: replicate each query to its target shards and
    // cogroup with the shard's graph — arbitrarily large query batches never
    // touch the driver. Only the shard-id list (one int per shard) is
    // collected. With shard routing (nprobeShards > 0) the targets are the
    // query's top-S shards by shard-centroid distance — the per-query
    // top-nprobe centroid list is a codegen'd expression in the plan, so
    // fan-out is S per query instead of O(total shards); without routing
    // every shard is searched (exact merge of all shard beams).
    val shardIds = readVersioned(s"$uri/graph/v=$baseTimestamp")
      .select("shard_id").distinct().as[Int].collect().sorted.toSeq
    // > 0 routes; < 0 forces all-shard (overriding the conf); 0 inherits
    // the session conf (default all-shard)
    val effProbe =
      if (nprobeShards > 0) nprobeShards
      else if (nprobeShards < 0) 0
      else graft.Conf.int(spark, VamanaIndex.NprobeShardsKey, 0)
    val routed = effProbe > 0 && shardCentroids.length > 1 && effProbe < shardIds.length
    val qRep0 = (if (routed) {
      import org.apache.spark.sql.graftshim.{toColumn, toExpression}
      qn.select(col("qid"), col("qvec"),
          explode(toColumn(graft.functions.NearestCentroids(
            toExpression(col("qvec")), shardCentroids, effProbe))).as("shard_id"))
        .select(col("shard_id"), col("qid"), col("qvec"))
    } else {
      qn.withColumn("shard_id", explode(typedlit(shardIds)))
        .select(col("shard_id"), col("qid"), col("qvec"))
    }).as[(Int, Long, Array[Float])]
    // Routed path evaluates qRep TWICE (active-shard collect + cogroup);
    // localCheckpoint materializes the (batch-sized) probe frame once so a
    // derived/expensive query source isn't recomputed, and the ContextCleaner
    // releases the blocks when the plan is unreferenced.
    val qRep = if (routed) qRep0.localCheckpoint() else qRep0

    // Routed queries only touch their probed shards' FILES: base and graph
    // are disk-partitioned by shard_id, so a `shard_id IN (...)` over the
    // batch's distinct probe targets becomes physical partition pruning —
    // a small query batch against a 40k-shard corpus reads S×|batch| shards,
    // not the whole index (the same pruning the IVF path gets from
    // partition_id). Only the distinct probed-shard ids come to the driver.
    val activeShards: Option[Seq[Int]] =
      if (routed) Some(qRep.map(_._1).distinct().collect().sorted.toSeq)
      else None
    def pruneShards(df: DataFrame): DataFrame =
      activeShards.map(s => df.where(col("shard_id").isin(s: _*))).getOrElse(df)

    // per-shard search: one task per shard holds only that shard's graph.
    // Byte dtypes widen the packed base back to float for the in-task
    // kernels (distances on widened values = the asymmetric byte metric).
    val baseFloat = StoredVectors.unpack(
      pruneShards(readVersioned(s"$uri/base/v=$baseTimestamp")), meta.dtype)
    val graph = baseFloat
      .join(pruneShards(readVersioned(s"$uri/graph/v=$baseTimestamp")),
        Seq("shard_id", "external_id"))
      .select(col("shard_id"), col("external_id"), col("vector"),
        col("neighbors"), col("is_medoid"))
      .as[(Int, Long, Array[Float], Array[Long], Boolean)]

    // filtered queries keep each shard's full beam so the post-filter has
    // lSearch (≥ 4k) candidates per shard to repack from, not k
    val kLocal = if (allow.isDefined) lSearch else k
    val lLocal = lSearch
    val perShard = graph
      .groupByKey(_._1)
      .cogroup(qRep.groupByKey(_._1)) { (_, git, qit) =>
        val qs = qit.map { case (_, qid, qv) => (qid, qv) }.toArray
        if (qs.isEmpty) Iterator.empty
        else {
          val rows = git.map { case (_, id, v, nbs, med) => (id, v, nbs, med) }.toArray
          VamanaKernels.searchShard(rows, qs, lLocal, kLocal)
        }
      }
      .toDF("qid", "id", "__sos")

    val m = metric
    val scored0 = perShard.select(col("qid").as("__qid"), col("id").as("__id"),
      col("__sos").as("__score"))
    // boundary-replicated builds can surface the same id from several probed
    // shards (identical scores); keep one so duplicates never occupy top-k
    // slots. Keyed map-side-combinable aggregate, only paid when replicated.
    val scored = if (meta.shardReplicas > 1)
      scored0.groupBy("__qid", "__id").agg(min("__score").as("__score"))
    else scored0
    val masked = restrictTo(scored, allow, idCol = "__id")
    val merged = Knn.topKFromScores(masked, k, DistanceMetric.SumOfSquares)
    merged.select(col("qid"), col("rank"), col("id"),
      VamanaIndex.reportDistance(m, col("distance")).as("distance"))
  }

  /** PQ-traversal base search ([[withPqTraversal]]): the same
    * route/prune/cogroup skeleton as [[queryBase]], but each shard task
    * walks the graph over `pq/v=<ts>` CODES with the query's asymmetric
    * distance table (computed as an expression on the replicated query
    * rows, exactly like the IVF probe's pairs, [[IvfIndex.probe]] —
    * arbitrarily large batches never build tables on the driver), and the
    * float vectors are touched only by the final exact re-rank of the
    * k x kFactor merged candidates.
    * Approximation is two-layered (beam + ADC), compensated by lSearch and
    * kFactor; the re-rank makes reported distances exact and the result
    * gate is the same 0.85 recall floor the float path carries. */
  private def queryBasePq(queries: DataFrame, k: Int, lSearch0: Int,
      allow: Option[DataFrame]): DataFrame = {
    require(pqCodebooks.nonEmpty,
      s"graft: PQ traversal requested but no codes exist at v=$baseTimestamp " +
        "— run buildPqCodes() on this version first")
    require(Storage.exists(s"$uri/pq/v=$baseTimestamp"),
      s"graft: pq_codebooks exist but pq codes are missing at v=$baseTimestamp " +
        "(partial buildPqCodes write?) — re-run buildPqCodes()")
    val mSub = pqCodebooks.length
    val codesPer = pqCodebooks(0).length
    val subDim = meta.dimensions / mSub
    val lSearch = math.max(if (lSearch0 <= 0) VamanaIndex.DefaultLSearch else lSearch0,
      if (allow.isDefined) 4 * k else k)
    val kCand = math.min(meta.baseSizes(historyIdx),
      math.max(k.toLong, math.ceil(k.toDouble * pqKFactor).toLong)).toInt

    import spark.implicits._
    import org.apache.spark.sql.graftshim.{toColumn, toExpression}
    val qn0 = queries.select(col("qid").cast("long").as("qid"),
      col("qvec").cast("array<float>").as("qvec"))
    val qn = metric match {
      case DistanceMetric.Cosine => qn0.select(col("qid"),
        graft.functions.vector_normalize(col("qvec")).as("qvec"))
      case _ => qn0
    }
    val shardIds = readVersioned(s"$uri/graph/v=$baseTimestamp")
      .select("shard_id").distinct().as[Int].collect().sorted.toSeq
    val effProbe =
      if (nprobeShards > 0) nprobeShards
      else if (nprobeShards < 0) 0
      else graft.Conf.int(spark, VamanaIndex.NprobeShardsKey, 0)
    val routed = effProbe > 0 && shardCentroids.length > 1 && effProbe < shardIds.length
    val flatCb = Ingest.flattenCodebooks(pqCodebooks, subDim)
    // query replication frame, dims-float per row (the ADC tables build
    // inside the shard tasks — see searchShardPq); always checkpointed: it
    // feeds the active-shard collect, the cogroup AND the re-rank's qvecs,
    // and must pin a nondeterministic query source
    val pairs = (if (routed) {
      qn.select(col("qid"), col("qvec"),
        explode(toColumn(graft.functions.NearestCentroids(
          toExpression(col("qvec")), shardCentroids, effProbe))).as("shard_id"))
    } else {
      qn.withColumn("shard_id", explode(typedlit(shardIds)))
    }).select(col("shard_id"), col("qid"), col("qvec"))
      .localCheckpoint()

    val activeShards: Option[Seq[Int]] =
      if (routed)
        Some(pairs.select("shard_id").distinct().as[Int].collect().sorted.toSeq)
      else None
    def pruneShards(df: DataFrame): DataFrame =
      activeShards.map(s => df.where(col("shard_id").isin(s: _*))).getOrElse(df)

    // shard task input: codes + adjacency — no float vectors
    val graph = pruneShards(readVersioned(s"$uri/pq/v=$baseTimestamp"))
      .join(pruneShards(readVersioned(s"$uri/graph/v=$baseTimestamp")),
        Seq("shard_id", "external_id"))
      .select(col("shard_id"), col("external_id"), col("codes"),
        col("neighbors"), col("is_medoid"))
      .as[(Int, Long, Array[Int], Array[Long], Boolean)]
    val qRep = pairs.select(col("shard_id"), col("qid"), col("qvec"))
      .as[(Int, Long, Array[Float])]
    // per-shard candidate count: kCand suffices for the global top-kCand
    // (top-kCand global is contained in the union of per-shard top-kCand);
    // filtered queries keep the full beam for the post-filter repack
    val kLocal = math.max(math.min(kCand, lSearch),
      if (allow.isDefined) lSearch else 0)
    val perShard = graph
      .groupByKey(_._1)
      .cogroup(qRep.groupByKey(_._1)) { (_, git, qit) =>
        val qs = qit.map { case (_, qid, qv) => (qid, qv) }.toArray
        if (qs.isEmpty) Iterator.empty
        else {
          val rows = git.map { case (_, id, cs, nbs, med) => (id, cs, nbs, med) }.toArray
          VamanaKernels.searchShardPq(rows, qs, flatCb, mSub, codesPer, subDim,
            lSearch, kLocal)
        }
      }
      .toDF("qid", "id", "__adc")

    val scored0 = perShard.select(col("qid").as("__qid"), col("id").as("__id"),
      col("__adc").as("__score"))
    val scored = if (meta.shardReplicas > 1)
      scored0.groupBy("__qid", "__id").agg(min("__score").as("__score"))
    else scored0
    val candidates = Knn.topKFromScores(
        restrictTo(scored, allow, idCol = "__id"), kCand, DistanceMetric.SumOfSquares)
      .select(col("qid"), col("id"))

    // exact re-rank from the full vectors, pruned to the probed shards
    // (every candidate id has a copy — resident or portal — in a probed
    // shard, so the pruned read covers it; duplicate copies collapse in the
    // min aggregate, scores being bit-identical)
    val nq = math.max(1L, pairs.select("qid").distinct().count())
    val rerankBase = pruneShards(readVersioned(s"$uri/base/v=$baseTimestamp"))
      .select("external_id", "vector")
    val qvecs = pairs.select("qid", "qvec").dropDuplicates("qid")
    val candBytes = nq * kCand * 24L
    val qvecsBytes = nq * (24L + 4L * meta.dimensions)
    val rescored = rerankBase
      .join(VectorIndex.sizedJoinSide(spark, candidates, candBytes),
        rerankBase("external_id") === candidates("id"))
      .join(VectorIndex.sizedJoinSide(spark, qvecs, qvecsBytes), Seq("qid"))
      .select(col("qid").as("__qid"), col("external_id").as("__id"),
        DistanceMetric.score(DistanceMetric.SumOfSquares)(
          col("vector"), col("qvec")).as("__score"))
      .groupBy("__qid", "__id").agg(min("__score").as("__score"))
    val merged = Knn.topKFromScores(rescored, k, DistanceMetric.SumOfSquares)
    merged.select(col("qid"), col("rank"), col("id"),
      VamanaIndex.reportDistance(metric, col("distance")).as("distance"))
  }
}

object VamanaIndex {
  val DefaultLBuild = 100 // reference: vamana_index.py:30-32
  val DefaultRMaxDegree = 64
  val DefaultLSearch = 100
  /** Candidate inflation before the exact re-rank. The 250k kFactor audit
    * (PERF.md, `VamanaPqKFactorAudit`) measured the PQ-traversal arm
    * matching the float beam at routed fan-out from kFactor 8 and exact
    * at probe-all from 16, with query wall-clock FLAT across 4→32 (the
    * re-rank joins k×kFactor rows per probed shard — noise next to the
    * traversal); 16 is the measured knee, and per-shard re-rank breadth
    * is capped at lSearch anyway so the default can't outgrow the beam. */
  val DefaultPqKFactor = 16.0f

  /** Cross-shard neighbor exchange for boundary-replicated builds (the
    * sharded sibling of the reference's single-graph merge,
    * vamana_index.h:321-410; the merge shape follows DiskANN's
    * overlapping-shard construction, Subramanya et al. NeurIPS'19 §4):
    * a point replicated into several shards was built into each with only
    * that shard's view of its neighborhood. This pass unions each such
    * point's out-edges ACROSS its copies and re-prunes the union inside
    * every hosting shard (RobustPrune, same α and degree cap as the
    * build) — and, crucially, KEEPS cross-shard edges by importing the
    * missing endpoint's (id, vector) into the shard as a search-only
    * "portal" row (empty out-adjacency, never a medoid). Filtering the
    * union to already-resident endpoints instead is measurably a no-op:
    * a resident candidate was already visible to that shard's own build,
    * so the prune reproduces the local adjacency (audited — recall
    * unchanged to 4 decimals). The portals are what let a routed query
    * that probes one side of a boundary still reach true neighbors the
    * build discovered from the other side.
    *
    * Distributed shape: bounded joins assemble per-(shard, point)
    * candidate lists and the foreign endpoints' vectors (volume ≤
    * boundary points × replicas × rMaxDegree), then one cogroup per
    * shard re-prunes inside the same task geometry as the build. Only
    * portals some pruned adjacency actually kept are emitted. Returns
    * (graph with merged boundary rows + portal rows, portal base rows to
    * append). Single-replica builds exchange nothing (no copies). */
  def exchangeBoundaryEdges(
      spark: SparkSession,
      sharded: DataFrame,
      g: DataFrame,
      rMaxDegree: Int,
      alpha: Float = 1.2f): (DataFrame, DataFrame) = {
    import spark.implicits._
    val residency = sharded.select(col("shard_id"), col("external_id"))
    // ONE aggregation keyed on the replicated point id does what a
    // groupBy-count (multi-copy ids) + semi-join + explode + distinct +
    // re-join + collect_set chain did (the r14 stage-count cut, VERDICT
    // item 4): the graph holds exactly one row per resident copy, so the
    // per-id row count IS the copy count, and the union-of-neighbors-
    // across-copies is an array fold in the same aggregate. Candidate
    // SETS are identical (array_distinct ≡ collect_set of the exploded
    // form); robustPrune canonicalizes candidate order, so the pruned
    // adjacency is unchanged row-for-row.
    val cands0 = g.select(col("external_id"), col("neighbors"))
      .groupBy("external_id")
      .agg(count(lit(1)).as("__copies"),
        array_distinct(flatten(collect_list(col("neighbors")))).as("__union_nbs"))
      .where(col("__copies") > 1)
      .select(col("external_id"),
        filter(col("__union_nbs"), n => n =!= col("external_id")).as("cand_nbs"))
    // (shard, boundary point, candidates) for every shard hosting the point
    val cands = residency.join(cands0, Seq("external_id"))
      .select("shard_id", "external_id", "cand_nbs")
    // endpoints NOT resident in the shard: ship their vectors in as portals.
    // Restrict the corpus to the needed ids BEFORE deduplicating copies —
    // a dropDuplicates over the full corpus would shuffle everything to
    // serve a boundary-sized id set
    val foreignIds = cands
      .select(col("shard_id"), explode(col("cand_nbs")).as("nb"))
      .distinct()
      .join(residency.select(col("shard_id"), col("external_id").as("nb")),
        Seq("shard_id", "nb"), "left_anti")
    val neededVecs = sharded.select(col("external_id").as("nb"), col("vector"))
      .join(foreignIds.select("nb").distinct(), Seq("nb"), "left_semi")
      .dropDuplicates("nb")
    val foreign = foreignIds.join(neededVecs, Seq("nb"))
      .select(col("shard_id"), col("nb").as("external_id"), col("vector"))
    // one tagged point stream per shard: residents (imported = false) +
    // portal candidates (imported = true); ids are disjoint within a shard
    val points = sharded
      .select(col("shard_id"), col("external_id"), col("vector"), lit(false).as("imported"))
      .unionByName(foreign.withColumn("imported", lit(true)))
      .as[(Int, Long, Array[Float], Boolean)]
      .groupByKey(_._1)
    val candDs = cands.select(col("shard_id"), col("external_id"), col("cand_nbs"))
      .as[(Int, Long, Seq[Long])].groupByKey(_._1)
    // emit kind 0 = merged adjacency for a boundary point, kind 1 = a
    // portal actually kept by some pruned adjacency
    val out = points.cogroup(candDs) { (sid, pit, cit) =>
      val cs = cit.toArray
      if (cs.isEmpty) Iterator.empty
      else {
        val arr = pit.map { case (_, id, v, imp) => (id, v, imp) }.toArray
        val pos = arr.iterator.map(_._1).zipWithIndex.toMap
        val pts = arr.map(_._2)
        val keptImports = mutable.LinkedHashSet.empty[Int]
        val merged = cs.map { case (_, p, nbs) =>
          val pi = pos(p)
          val cand = nbs.iterator.flatMap(pos.get).filter(_ != pi).toSeq
          val pruned = VamanaKernels.robustPrune(pts, pi, cand, alpha, rMaxDegree)
          pruned.foreach(i => if (arr(i)._3) keptImports += i)
          (0, sid, p, pruned.map(i => arr(i)._1).toSeq, Array.empty[Float])
        }
        merged.iterator ++ keptImports.iterator.map(i =>
          (1, sid, arr(i)._1, Seq.empty[Long], arr(i)._2))
      }
    }.toDF("kind", "shard_id", "external_id", "nbs", "vec")
      .localCheckpoint() // one pass feeds both splits below
    val mergedAdj = out.where(col("kind") === 0)
      .select(col("shard_id"), col("external_id"), col("nbs").as("__merged"))
    val portals = out.where(col("kind") === 1)
    val gx = g
      .join(mergedAdj, Seq("shard_id", "external_id"), "left")
      .select(col("shard_id"), col("external_id"),
        coalesce(col("__merged"), col("neighbors")).as("neighbors"),
        col("is_medoid"))
      .unionByName(portals.select(col("shard_id"), col("external_id"),
        col("nbs").cast("array<bigint>").as("neighbors"), lit(false).as("is_medoid")))
    val portalBase = portals.select(col("external_id"), col("vec").as("vector"),
      col("shard_id"))
    (gx, portalBase)
  }

  /** Session-conf default for [[VamanaIndex.nprobeShards]] (0 = search every
    * shard). The PERF.md sweep picks a safe S for a given shard count; the
    * conf lets serving sessions set it once without threading the parameter
    * through callers. */
  val NprobeShardsKey = "spark.graft.vamana.nprobeShards"

  /** Probe width the PERF.md routing sweeps validate for a build's
    * persisted geometry (shard count × boundary-replication factor), so
    * callers don't have to know the sweep. With the round-10
    * [[exchangeBoundaryEdges]] portal pass, replicas ≥ 2 make S ≈ shards/4
    * clear the 0.85 reference recall gate even on the adversarial
    * near-uniform fixture (0.913 at S=4 of 16×2; 0.989 at ×3; 1.000 at
    * ×4 — round-5 pre-exchange numbers were 0.835/0.927/0.973); with no
    * replication there is nothing to exchange and no measured S below
    * all-shard clears the gate (×1: 0.734 at S=shards/4), so the pick is
    * 0 = the exact all-shard merge. Floor of 2: S=1 forfeits the
    * boundary-replica safety net entirely. */
  def autoNprobeShards(shards: Int, replicas: Int): Int =
    autoNprobeShards(shards, replicas, exchanged = true)

  /** `exchanged` = the persisted graph carries the portal merge
    * (IndexMeta.boundaryExchanged). A LEGACY replicated index built before
    * the exchange existed has only the round-5 recall (×2 at S=shards/4:
    * 0.835 < gate), so auto-routing demands ≥ 3 replicas there — the
    * pre-exchange sweep's clearing point — instead of silently serving
    * below the gate. */
  def autoNprobeShards(shards: Int, replicas: Int, exchanged: Boolean): Int = {
    val minReplicas = if (exchanged) 2 else 3
    if (shards <= 1 || replicas < minReplicas) 0
    else math.min(shards, math.max(2, (shards + 3) / 4))
  }

  /** Target vectors per shard for the default (auto) shard count. The
    * reference builds ONE global graph on one node (ingestion.py:2572-2595);
    * a sequential build of a large corpus inside a single executor task is
    * the scale-killer, so past this size the build defaults to the sharded
    * path (independent per-shard builds, merged search — recall gate
    * spec-tested). */
  val DefaultShardTarget = 25000

  /** Below this size a shard buys no build-time win but still costs query
    * fan-out (merged search visits every shard), so auto-sharding never
    * shrinks shards past it; sub-[[MinShardSize]] corpora build single-shard
    * (= exact reference behavior). */
  val MinShardSize = 500

  def autoShards(n: Long): Int = autoShards(n, 1)

  /** Shard count for an `n`-vector build on a cluster offering `parallelism`
    * task slots: enough shards to cap each at [[DefaultShardTarget]] (the
    * build is sequential WITHIN a shard — the scale constraint), and, when
    * slots are idle, enough to use them (the per-shard graph build is the
    * only single-threaded stage in an index build; leaving 31 of 32 slots
    * idle dominated bench build time). The recall audit in PERF.md shows
    * merged all-shard search holds recall 1.0 across every swept shard
    * count, so extra shards trade only query fan-out. */
  def autoShards(n: Long, parallelism: Int): Int = {
    val byTarget = math.ceil(n.toDouble / DefaultShardTarget).toInt
    val byParallel = math.min(parallelism.toLong, n / MinShardSize).toInt
    math.max(1, math.max(byTarget, byParallel))
  }

  /** Graph search scores in SOS over (possibly normalized) vectors; map to
    * the reported metric distance. */
  def reportDistance(m: DistanceMetric, sos: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = m match {
    case DistanceMetric.L2 => sqrt(sos.cast("double")).cast("float")
    case DistanceMetric.Cosine => (sos / 2.0f).cast("float") // normalized vectors
    case _ => sos.cast("float")
  }
}
