package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{DistanceMetric, Knn}

/** A queryable vector index version, the Spark-side analogue of the
  * reference's `Index` base class (reference:
  * apis/python/src/tiledb/vector_search/index.py:57-598).
  *
  * Storage layout under `uri` (all Parquet; see FIXTURES.md §2):
  *   - `index.json`                       group metadata ([[IndexMeta]])
  *   - `base/v=<ts>/`                     vectors of the ingestion at <ts>
  *   - `centroids/v=<ts>/`                IVF centroids of that ingestion
  *   - `updates/`                         updates log, append-only until
  *                                        [[VectorIndex.clearHistory]] or
  *                                        [[VectorIndex.vacuum]]
  *
  * Time travel (reference: index.py:94-177): a read at `ts` sees the base
  * version with the latest ingestion timestamp ≤ ts plus updates-log entries
  * in (base_ts, ts]; a read before the oldest kept version is empty.
  */
abstract class VectorIndex(
    val spark: SparkSession,
    val uri: String,
    val meta: IndexMeta,
    val readTimestamp: Long,
    range: Option[VectorIndex.ReadWindow] = None) {

  protected val historyIdx: Int = meta.historyIndex(readTimestamp)
  protected val baseTimestamp: Long =
    if (historyIdx >= 0) meta.ingestionTimestamps(historyIdx) else -1L

  /** What this handle reads. A point-in-time open reads the base version
    * plus the log in (base_ts, read_ts]; a range open
    * ([[VectorIndex.openRange]]) passes its own window. Fixed at
    * construction. */
  protected val window: VectorIndex.ReadWindow = range.getOrElse(pointInTime)

  /** Before the oldest kept version the view is empty, as a range that
    * closes before it is ([[VectorIndex.openRange]]): the log rows such a
    * read would reach are the ones [[clearHistory]] drops. An index with
    * no version at all reads its log alone. */
  private def pointInTime =
    if (historyIdx < 0 && meta.ingestionTimestamps.nonEmpty)
      VectorIndex.ReadWindow(readTimestamp + 1, readTimestamp, withBase = true)
    else VectorIndex.ReadWindow(baseTimestamp + 1, readTimestamp, withBase = true)

  /** Maintenance entry points fold "everything visible now" back into
    * storage — on a windowed view that would silently drop out-of-window
    * history, so they refuse range handles. */
  protected def requirePointInTime(op: String): Unit =
    require(window == pointInTime,
      s"graft: $op on a range-opened handle would fold only the windowed " +
        "updates; re-open point-in-time (VectorIndex.open) first")

  def metric: DistanceMetric = meta.metric

  /** The active base version's vectors: (external_id, vector[, partition_id]).
    * Empty (with correct schema) when the read predates the first ingestion. */
  def baseVectors(): DataFrame

  /** k-NN over the base version only (no updates merge). `allow` is an
    * optional candidate PRE-filter: a single-column frame of permitted
    * external ids (normalized to `__allow_id: long` by [[queryFiltered]]).
    * Subclasses restrict their candidate set BEFORE ranking, so a filtered
    * query still fills k slots from the allowed set instead of returning
    * however many of the unfiltered top-k happen to survive. */
  protected def queryBase(queries: DataFrame, k: Int, nprobe: Int,
      allow: Option[DataFrame]): DataFrame

  /** Left-semi restrict `candidates` to the allow-list; no-op when None.
    * A semi join (not `isin`) so the list can be arbitrarily large —
    * Catalyst broadcasts it when stats say it is small and shuffles
    * otherwise, the same size discipline as every other query-side join. */
  protected def restrictTo(candidates: DataFrame, allow: Option[DataFrame],
      idCol: String = "external_id"): DataFrame =
    allow match {
      case Some(a) =>
        candidates.join(a, candidates(idCol) === a("__allow_id"), "left_semi")
      case None => candidates
    }

  /** Full query semantics with updates merge (reference: index.py:338-416):
    * when the updates log has entries in-window, the base is queried for 2k
    * candidates, hits whose id was updated/deleted are masked out
    * (anti join — the reference overwrites with MAX sentinels, index.py:376-388),
    * the additions are brute-forced, and both branches re-merge to top-k.
    *
    * @param queries (qid: Long, qvec: Array[Float])
    * @return (qid, rank, id, distance)
    */
  def query(queries: DataFrame, k: Int, nprobe: Int = 0): DataFrame =
    queryImpl(queries, k, nprobe, allow = None)

  /** Attribute-filtered k-NN: hits are drawn only from `allowIds` (first
    * column, cast to long). The filter is applied to the base candidates
    * AND the updates-log additions BEFORE ranking (pre-filter), so each
    * query returns up to k allowed neighbors — not the survivors of an
    * unfiltered top-k. The reference core index has no attribute filter;
    * its object layer post-filters with a fetch_k overfetch
    * (object_index.py metadata_array_cond + repack). The Spark-native form
    * is this semi join. The filter itself adds NO approximation: results
    * are exact whenever the underlying probe is exhaustive (FLAT always,
    * IVF at probe-all, PQ at candidate-covering kFactor) and otherwise
    * inherit exactly the path's usual nprobe/ADC approximation; the VAMANA
    * graph path overfetches the beam and post-filters (the reference's own
    * strategy), since a traversal constrained to allowed nodes could
    * disconnect the graph. */
  def queryFiltered(queries: DataFrame, k: Int, allowIds: DataFrame,
      nprobe: Int = 0): DataFrame = {
    require(allowIds.columns.nonEmpty, "graft: allowIds needs an id column")
    val idColName = allowIds.columns.head
    // type gate up front: a non-numeric allow column (binary, struct,
    // boolean…) must fail with a named error here, not cast to all-NULLs
    // and return empty results that masquerade as "no allowed neighbors"
    allowIds.schema.head.dataType match {
      case _: org.apache.spark.sql.types.NumericType |
           org.apache.spark.sql.types.StringType =>
      case other => throw new IllegalArgumentException(
        s"graft: allowIds column '$idColName' must be numeric or a numeric " +
          s"string (external ids are int64), got ${other.catalogString}")
    }
    // no .distinct(): left-semi join semantics already ignore duplicate
    // right-side rows, and a dedup would add a full shuffle of the
    // allow-list to every filtered query for nothing. String ids that fail
    // the long cast raise at execution instead of vanishing; NULL ids are
    // dropped (an explicit NULL allows nothing).
    val src = col(idColName)
    val norm = allowIds
      .select(when(src.isNull, lit(null).cast("long"))
        .when(src.cast("long").isNull,
          raise_error(concat(lit(s"graft: allowIds value '"), src.cast("string"),
            lit(s"' in column '$idColName' is not castable to long"))).cast("long"))
        .otherwise(src.cast("long")).as("__allow_id"))
      .where(col("__allow_id").isNotNull)
    queryImpl(queries, k, nprobe, allow = Some(norm))
  }

  private def queryImpl(queries: DataFrame, k: Int, nprobe: Int,
      allow: Option[DataFrame]): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // shape/dims validation up front (reference: index.py:298-312)
    queries.schema("qvec").dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) =>
      case other => throw new IllegalArgumentException(
        s"graft: queries.qvec must be array<float> (float32 queries, " +
          s"reference index.py:309-312), got ${other.catalogString}")
    }
    val q = queries.select(col("qid").cast("long").as("qid"), col("qvec"))
    val upd = visibleUpdates()
    lazy val additions = upd.map(_.additions.select(col("external_id").as("id"), col("vector")))
      .getOrElse(StoredVectors.empty(spark, idCol = "id"))
    def addHits = Knn.bruteForce(restrictTo(additions, allow, idCol = "id"),
      q, k, metric, idCol = "id", vecCol = "vector", qidCol = "qid", qvecCol = "qvec")
    // range open with start past every ingestion: only the writes in the
    // window count (reference index.py:123-128) — a consolidated base
    // cannot attribute its rows to a write time, so it is excluded
    // entirely and the windowed additions are brute-forced.
    if (!window.withBase) return addHits
    if (upd.isEmpty) return queryBase(q, k, nprobe, allow)

    val masked = upd.get.masked
    // retrieval_k = 2k when updates are present (reference: index.py:352-364).
    // No broadcast hint: the updates-id set is usually tiny (stats/AQE pick
    // a broadcast anti join) but can grow arbitrarily between
    // consolidations, where a forced broadcast would break at scale.
    val baseHits = queryBase(q, 2 * k, nprobe, allow)
      .join(masked, col("id") === masked("external_id"), "left_anti")
    val merged = baseHits.select("qid", "id", "distance")
      .unionByName(addHits.select("qid", "id", "distance"))
      .select(col("qid").as("__qid"), col("id").as("__id"),
        distanceToScore(col("distance")).as("__score"))
    Knn.topKFromScores(merged, k, metric)
  }

  /** Inverse of [[DistanceMetric.reportedDistance]] for re-merging branches. */
  private def distanceToScore(distance: org.apache.spark.sql.Column) = metric match {
    case DistanceMetric.InnerProduct =>
      when(distance === lit(Float.MaxValue), lit(0.0f)).otherwise(lit(-1.0f) / distance)
    case _ => distance.cast("float")
  }

  /** Read of an IMMUTABLE version artifact (`base/v=<ts>`, `graph/v=<ts>`,
    * ...: a version directory never changes after its meta commit). Never
    * for the updates log, which changes in place between queries. */
  protected def readVersioned(path: String): DataFrame =
    graft.SessionCache.parquet(spark, path)

  // ----- updates log (reference: index.py:418-501, 764-814) -----

  private def updatesPath: String = s"$uri/updates"

  /** The updates log, None when it holds no fragment. Every log mutator
    * invalidates [[updatesPath]], re-arming this and the window probe
    * below. */
  private def updatesLog(): Option[DataFrame] =
    graft.SessionCache.get(spark, updatesPath, "updatesLog") {
      if (Storage.hasParquet(updatesPath)) Some(spark.read.parquet(updatesPath))
      else None
    }

  /** Log rows with ts in [[window]] (both bounds inclusive), None when
    * there are none. The emptiness probe is one isEmpty job, so it is
    * memoized per window. */
  private def updatesInWindow(): Option[DataFrame] = {
    val VectorIndex.ReadWindow(lo, hi, _) = window
    if (lo > hi) None
    else updatesLog().flatMap { log =>
      val w = log.where(col("ts") >= lo && col("ts") <= hi)
      if (graft.SessionCache.get(spark, updatesPath, ("windowEmpty", lo, hi))(w.isEmpty)) None
      else Some(w)
    }
  }

  /** The in-window log resolved last-write-wins per external id (the
    * reference's sparse-array overwrite, index.py:876-897), None when the
    * window holds no row. `stored` brings the additions to the base's
    * stored float form ([[StoredVectors]]), as a merge into the stored base
    * needs; the query path scores them raw. */
  protected def visibleUpdates(stored: Boolean = false): Option[VectorIndex.VisibleUpdates] =
    updatesInWindow().map { upd =>
      val w = Window.partitionBy(col("external_id")).orderBy(col("ts").desc)
      val latest = upd.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
      val additions = latest.where(col("vector").isNotNull).select("external_id", "vector")
      VectorIndex.VisibleUpdates(latest.select("external_id"),
        if (stored) StoredVectors.normalize(additions, meta.indexType, metric) else additions)
    }

  /** Upsert a batch of (external_id, vector) at `ts`
    * (reference: index.py:418-462 `update_batch`). */
  def updateBatch(vectors: DataFrame, ts: Long): Unit =
    appendLog(vectors.select(col("external_id"), col("vector"), lit(ts).as("ts")))

  /** Tombstone a batch of ids at `ts`: vector = null
    * (reference: index.py:464-501 — empty vector ⇒ delete). */
  def deleteBatch(ids: DataFrame, ts: Long): Unit =
    appendLog(tombstones(ids, ts))

  /** Upserts + tombstones in ONE log append: `upserts` rows
    * (external_id, vector) and `deleteIds` rows (external_id) land as a
    * single write job at `ts` — row-identical to an [[updateBatch]]
    * followed by a [[deleteBatch]] (the log is resolved by
    * last-write-per-id, never by file or row order), at half the job and
    * metadata-flip count. Callers holding several logical batches for one
    * maintenance window buffer them into one append instead of paying a
    * Spark job per call. */
  def updateDeleteBatch(upserts: DataFrame, deleteIds: DataFrame, ts: Long): Unit =
    appendLog(upserts.select(col("external_id"), col("vector"), lit(ts).as("ts"))
      .unionByName(tombstones(deleteIds, ts)))

  /** Append MANY logical batches as one write job that still lays each
    * batch down as its own fragment file (the shape a sequence of
    * individual appends produces, minus the per-append job + commit +
    * metadata flip): `rows` carry (external_id, vector nullable, ts,
    * `__frag` in [0, fragments)). Row content is identical to `fragments`
    * separate update/delete appends — the log is resolved per-id by ts, so
    * only the file geometry is at stake, and callers that NEED the
    * multi-fragment geometry (auto-compaction thresholds) keep it. */
  private[graft] def appendLogFragments(rows: DataFrame, fragments: Int): Unit =
    appendLog(rows, fragments = math.max(1, fragments))

  private def tombstones(ids: DataFrame, ts: Long): DataFrame =
    ids.select(col("external_id"), lit(null).cast("array<float>").as("vector"),
      lit(ts).as("ts"))

  /** The one updates-log append: `rows` (external_id, vector — null for a
    * tombstone —, ts) cast to the log schema and written as one job; with
    * `fragments` > 0 an explicit `__frag` → task partitioner gives every
    * fragment its own output file. Then `hasUpdates` is set and the
    * memoized log reads are re-armed. The metadata flip re-reads
    * index.json rather than rewriting this handle's in-memory copy: a
    * consolidation through ANOTHER handle may have appended versions since
    * this one was opened, and a stale-meta write would silently orphan
    * them. */
  private def appendLog(rows: DataFrame, fragments: Int = 0): Unit = {
    import spark.implicits._
    val logCols = VectorIndex.LogSchema.map(f => col(f.name).cast(f.dataType))
    val out =
      if (fragments <= 0) rows.select(logCols: _*)
      else spark.createDataset(rows.select(logCols :+ col("__frag").cast("int"): _*)
          .as[(Long, Array[Float], Long, Int)].rdd
          .map { case (id, v, t, f) => (f, (id, v, t)) }
          .partitionBy(new org.apache.spark.Partitioner {
            override def numPartitions: Int = fragments
            override def getPartition(key: Any): Int =
              ((key.asInstanceOf[Int] % fragments) + fragments) % fragments
          })
          .map(_._2))
        .toDF("external_id", "vector", "ts")
    out.write.mode("append").parquet(updatesPath)
    IndexMeta.write(uri, IndexMeta.read(uri).copy(hasUpdates = true))
    graft.SessionCache.invalidateUnder(updatesPath)
  }

  /** Merge base + updates into a fresh base version at `newTs`
    * (reference: index.py:503-577 `consolidate_updates`). Re-trains /
    * re-partitions per index type via [[Ingest]]. */
  def consolidateUpdates(
      newTs: Long,
      partitions: Option[Int] = None,
      reuseCentroids: Boolean = false): VectorIndex = {
    requirePointInTime("consolidateUpdates")
    // byte-dtype bases widen to their float view: the merge and the
    // re-ingest run on floats, and Ingest re-packs under the same dtype
    val base = StoredVectors.unpack(baseVectors().select("external_id", "vector"), meta.dtype)
    val merged = visibleUpdates(stored = true) match {
      case None => base
      case Some(u) =>
        base.join(u.masked, Seq("external_id"), "left_anti").unionByName(u.additions)
    }
    // copy-centroids path (reference: index.py:503-577): reuse the active
    // version's centroids instead of re-training k-means.
    val preset = this match {
      case ivf: IvfIndex if reuseCentroids => Some(ivf.centroids)
      case _ => None
    }
    // VAMANA re-ingests with the SAME build shape as the active version
    // (lBuild / rMaxDegree / shard count persisted in IndexMeta) — a graph
    // built with custom parameters must not silently revert to defaults or
    // auto-sharding on consolidation (reference re-ingests with stored
    // config, index.py:503-577).
    // Guard on lBuild > 0: metas written before the params were persisted
    // recorded the IVF-style autoPartitions value in partitionHistory, not
    // the shard count — pinning to it would rebuild with the wrong shape.
    val effParts =
      if (meta.indexType == "VAMANA" && meta.lBuild > 0)
        partitions.orElse(meta.partitionHistory.lastOption.filter(_ > 0))
      else partitions
    Ingest.ingest(spark, uri, merged, meta.indexType, metric,
      dtype = meta.dtype, timestamp = newTs,
      partitions = effParts,
      numSubspaces = if (meta.numSubspaces > 0) Some(meta.numSubspaces) else None,
      lBuild = if (meta.lBuild > 0) Some(meta.lBuild) else None,
      rMaxDegree = if (meta.rMaxDegree > 0) Some(meta.rMaxDegree) else None,
      shardReplicas = if (meta.shardReplicas > 1) Some(meta.shardReplicas) else None,
      normalizeDone = true, appendMeta = true,
      presetCentroids = preset)
    // SQL surface: views registered over this uri re-point to the new
    // version (fresh base path + centroids in the probe catalog)
    graft.plans.GraftSql.onIndexMutated(spark, uri)
    VectorIndex.open(spark, uri)
  }

  /** Snapshot this index (base + updates at the read timestamp) into an
    * in-memory [[LocalSearcher]] for zero-job serving. Size-gated by
    * `spark.graft.maxLocalServeBytes` (default 1 GiB): serving a corpus past
    * the gate is a batch problem — use [[query]]. IVF_FLAT keeps its
    * partition blocking + centroids (sub-linear probes); other index types
    * serve exact brute force over the snapshot.
    *
    * Equivalence to [[query]]: deleted/overwritten ids are masked from the
    * base and the additions live in an always-scanned extra block — the same
    * two-branch merge the distributed path runs, so results match at any
    * nprobe. */
  def localSearcher(): LocalSearcher = {
    val gate = graft.Conf.long(spark, LocalSearcher.MaxLocalServeBytesKey,
      LocalSearcher.DefaultMaxLocalServeBytes)
    val baseCount =
      if (historyIdx >= 0 && window.withBase) meta.baseSizes(historyIdx) else 0L
    // the updates log counts too: between consolidations it can grow
    // arbitrarily, and a gate that ignores it would not actually bound the
    // snapshot (the count is one cheap job over the log window)
    val updCount = updatesInWindow().map(_.count()).getOrElse(0L)
    val estBytes = (baseCount + updCount) * meta.dimensions * 4L
    require(estBytes <= gate,
      s"graft: serving snapshot would hold $baseCount base + $updCount logged " +
        s"vectors (~$estBytes bytes) > ${LocalSearcher.MaxLocalServeBytesKey}=$gate; " +
        "consolidate updates or query through Spark instead")

    val (centroids, blocked, defaultNprobe) = this match {
      case ivf: IvfFlatIndex if historyIdx >= 0 && window.withBase =>
        (ivf.centroids, true, ivf.defaultNprobe(ivf.centroids.length))
      case _ => (Array.empty[Array[Float]], false, 1)
    }
    val baseCols =
      if (blocked) Seq("external_id", "vector", "partition_id")
      else Seq("external_id", "vector")
    val upd = visibleUpdates(stored = true)
    val base = StoredVectors.unpack(
      baseVectors().select(baseCols.head, baseCols.tail: _*), meta.dtype)
    val baseRows =
      if (!window.withBase) Array.empty[org.apache.spark.sql.Row]
      else upd.fold(base)(u => base.join(u.masked, Seq("external_id"), "left_anti")).collect()
    val additions = upd.map(_.additions.collect())
      .getOrElse(Array.empty[org.apache.spark.sql.Row])

    val dims = meta.dimensions
    def toBlock(rows: Seq[org.apache.spark.sql.Row]): (Array[Long], Array[Float]) = {
      val ids = new Array[Long](rows.length)
      val flat = new Array[Float](rows.length * dims)
      var i = 0
      rows.foreach { r =>
        ids(i) = r.getLong(0)
        val v = r.getSeq[Float](1)
        var d = 0
        while (d < dims) { flat(i * dims + d) = v(d); d += 1 }
        i += 1
      }
      (ids, flat)
    }
    val blocks: Seq[(Array[Long], Array[Float])] =
      if (blocked) {
        val byPart = baseRows.groupBy(_.getInt(2))
        // block index i aligned with centroid i; missing partitions -> empty
        centroids.indices.map(p => toBlock(byPart.getOrElse(p, Array.empty).toSeq))
      } else Seq(toBlock(baseRows.toSeq))
    val extras = toBlock(additions.toSeq)
    val all = blocks :+ extras
    // extras always scanned; in the unblocked case every block is anyway
    val alwaysScan =
      if (blocked) Array(all.length - 1)
      else all.indices.toArray
    new LocalSearcher(metric, dims,
      all.map(_._1).toArray, all.map(_._2).toArray,
      if (blocked) centroids else Array.empty,
      alwaysScan,
      normalizedStore = StoredVectors.normalized(meta.indexType, metric),
      defaultNprobe = defaultNprobe)
  }

  /** Compact the updates log when it has accumulated many small fragment
    * files (reference: index.py:837-858 auto-consolidates the updates array
    * after >10 fragments since the last ingest). Only the fragments newer
    * than the newest base count and are rewritten: a fragment whose rows
    * that base already folded in stays as it is until [[clearHistory]] or
    * [[vacuum]] drops it. The rewrite targets ~128 MB output files — one
    * file while the log is small, parallel writers once it grows, so
    * compaction never funnels a large log through a single task. */
  def consolidateUpdatesLog(maxFragments: Int = 10): Boolean = {
    val newest = meta.ingestionTimestamps.lastOption.getOrElse(Long.MinValue)
    val unfolded = Storage.logFragments(updatesPath).filter(_.maxTs > newest)
    // already at (or below) the target layout → rewriting would produce
    // the same file count again for a full read+write of the log; skip.
    // This makes vacuum() after a compaction a no-op instead of a
    // second identical rewrite.
    val rewrite = unfolded.length > maxFragments && unfolded.length > outFiles(unfolded)
    if (rewrite)
      Storage.replaceFiles(updatesPath, unfolded.map(_.name), Some(stage(unfolded, after = None)))
    rewrite
  }

  /** Remove obsolete storage (reference: index.py:579-598 `vacuum`): drops
    * the log fragments no read can reach, those whose rows all lie at or
    * before the oldest kept version (an index whose history an earlier
    * release cleared still holds them), then compacts what is left. */
  def vacuum(): Unit = {
    meta.ingestionTimestamps.headOption.foreach { cut =>
      if (!truncateLog(cut)) {
        val m = IndexMeta.read(uri)
        if (m.hasUpdates) IndexMeta.write(uri, m.copy(hasUpdates = false))
      }
    }
    consolidateUpdatesLog(maxFragments = 0)
    ()
  }

  /** Output file count for rewriting `frags`: one per ~128 MB. */
  private def outFiles(frags: Seq[Storage.LogFragment]): Int =
    math.max(1, (frags.map(_.bytes).sum / (128L << 20)).toInt)

  /** Write the rows of the log fragments `frags` (those with ts > `after`,
    * all of them when None) as [[outFiles]] new fragments into a staging
    * directory beside the log, and return it; the rest of the log is not
    * read. [[Storage.replaceFiles]] then swaps them in. */
  private def stage(frags: Seq[Storage.LogFragment], after: Option[Long]): String = {
    val staged = s"$uri/updates_compact"
    val rows = spark.read.schema(VectorIndex.LogSchema)
      .parquet(frags.map(f => s"$updatesPath/${f.name}"): _*)
    after.fold(rows)(t => rows.where(col("ts") > t))
      .repartition(outFiles(frags)).write.mode("overwrite").parquet(staged)
    staged
  }

  /** Drop the log rows with ts ≤ `cut`, the oldest kept ingestion: no read
    * reaches them — a point-in-time read at a kept timestamp starts past
    * its base, an earlier one is empty, and [[VectorIndex.openRange]] pins
    * to the first kept base (reference index.py:626-735 deletes the update
    * fragments before the timestamp too). Fragments wholly at or before
    * `cut` are deleted, fragments straddling it are rewritten with their
    * later rows, the others are left as they are; with no fragment left
    * the log directory goes. Returns whether any fragment is left. */
  private def truncateLog(cut: Long): Boolean = {
    val (gone, kept) = Storage.logFragments(updatesPath).partition(_.maxTs <= cut)
    val straddling = kept.filter(_.minTs <= cut)
    if (kept.isEmpty) Storage.deleteRecursively(updatesPath)
    else if (gone.nonEmpty || straddling.nonEmpty)
      Storage.replaceFiles(updatesPath, (gone ++ straddling).map(_.name),
        if (straddling.isEmpty) None else Some(stage(straddling, after = Some(cut))))
    kept.nonEmpty
  }

  /** Per-partition vector counts + CSR-style cumulative offsets — the
    * partition stats the reference materializes as `partition_indexes`
    * (reference: detail/ivf/index.h:61-88 compute_indices;
    * ingestion.py:2119-2168). In Spark the offsets are derivable on demand:
    * one hash aggregate + a window cumulative sum. */
  def partitionHistogram(): DataFrame = {
    val base = baseVectors()
    if (!base.columns.contains("partition_id")) {
      return base.groupBy(lit(0).as("partition_id"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("offset", lit(0L))
    }
    val counts = base.groupBy(col("partition_id")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("partition_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    counts.withColumn("offset",
      coalesce(sum(col("cnt")).over(w), lit(0L)))
  }

  /** Drop base versions strictly older than `ts` and the log rows no kept
    * version reaches ([[truncateLog]]), and rewrite metadata (reference:
    * index.py:626-735 `clear_history`). */
  def clearHistory(ts: Long): Unit = {
    val keep = meta.ingestionTimestamps.zipWithIndex.filter { case (t, _) => t >= ts }
    val dropTs = meta.ingestionTimestamps.filter(_ < ts)
    dropTs.foreach { t =>
      Storage.deleteRecursively(s"$uri/base/v=$t")
      Storage.deleteRecursively(s"$uri/centroids/v=$t")
      Storage.deleteRecursively(s"$uri/graph/v=$t") // VAMANA adjacency
      Storage.deleteRecursively(s"$uri/pq_codebooks/v=$t") // IVF_PQ codebooks
      Storage.deleteRecursively(s"$uri/sketch/v=$t") // BINARY sign sketch
      Storage.deleteRecursively(s"$uri/sq_params/v=$t") // IVF_SQ8 quantizer
    }
    val logLeft = keep.headOption.fold(meta.hasUpdates) { case (cut, _) => truncateLog(cut) }
    val keepIdx = keep.map(_._2).toSet
    IndexMeta.write(uri, meta.copy(
      ingestionTimestamps = keep.map(_._1),
      baseSizes = meta.baseSizes.zipWithIndex.collect { case (s, i) if keepIdx(i) => s },
      partitionHistory = meta.partitionHistory.zipWithIndex.collect { case (p, i) if keepIdx(i) => p },
      hasUpdates = logLeft))
  }
}

object VectorIndex {

  /** The view a handle reads: updates-log rows with `lo` ≤ ts ≤ `hi`, over
    * the handle's base version when `withBase` (a range open whose start
    * excludes every base reads the log alone — reference index.py:123-128
    * query_base_array = False). */
  final case class ReadWindow(lo: Long, hi: Long, withBase: Boolean)

  /** The in-window log after last-write-wins: `masked` (external_id) is
    * every id the window wrote, whose base rows it hides; `additions`
    * (external_id, vector) are the ids whose last write is an upsert. */
  final case class VisibleUpdates(masked: DataFrame, additions: DataFrame)

  /** The updates log's columns; a null `vector` is a tombstone. */
  private val LogSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "external_id BIGINT, vector ARRAY<FLOAT>, ts BIGINT")

  /** Pick the join strategy for a query-derived build side from its estimated
    * size: up to `spark.graft.maxBroadcastBytes` → broadcast hint; over →
    * `shuffle_hash` hint so the planner partitions both sides on the join
    * key instead of replicating the per-query probe pairs (and PQ distance
    * tables) to every executor, a scale-killer at nq=10⁶×nprobe=100
    * (reference streams query blocks instead, detail/ivf/qv.h:99-153). The
    * explicit hint also stops Catalyst's own size estimator from
    * re-broadcasting a side we know is large at scale. */
  private[index] def sizedJoinSide(
      spark: SparkSession, df: DataFrame, estBytes: Long): DataFrame = {
    val max = graft.Conf.long(spark, graft.Conf.MaxBroadcastBytesKey,
      graft.Conf.DefaultMaxBroadcastBytes)
    if (estBytes <= max) broadcast(df) else df.hint("shuffle_hash")
  }

  /** Open an index, optionally at a historical timestamp
    * (reference: index.py:94-177). */
  def open(spark: SparkSession, uri: String, timestamp: Option[Long] = None): VectorIndex =
    construct(spark, uri, IndexMeta.read(uri), timestamp.getOrElse(Long.MaxValue), None)

  private def construct(spark: SparkSession, uri: String, meta: IndexMeta, ts: Long,
      range: Option[ReadWindow]): VectorIndex = {
    graft.functions.Simd.syncOnce(spark) // no-op unless spark.graft.simd is set
    meta.indexType match {
      case "FLAT" => new FlatIndex(spark, uri, meta, ts, range)
      case "BINARY" => new BinaryIndex(spark, uri, meta, ts, range)
      case "IVF_FLAT" => new IvfFlatIndex(spark, uri, meta, ts, range)
      case "IVF_SQ8" => new IvfSq8Index(spark, uri, meta, ts, range)
      case "IVF_PQ" => new IvfPqIndex(spark, uri, meta, ts, range)
      case "VAMANA" => new VamanaIndex(spark, uri, meta, ts, range = range)
      case other => throw new IllegalArgumentException(s"unsupported index_type $other")
    }
  }

  /** Open an index over a TIME RANGE — the reference's
    * `timestamp=(start, end)` tuple form (index.py:115-177): the view of
    * the writes that landed in [start, end] (bounds inclusive; None =
    * unbounded).
    *
    *  - start ≤ first ingestion (or None): the FIRST base version plus
    *    updates in (first_ingestion, end]. The reference pins the base to
    *    the first ingestion rather than the latest ≤ end (index.py:130-138)
    *    because later, consolidated bases cannot attribute their rows to
    *    write times; the int form's latest-≤-ts base is explicitly a
    *    perf shortcut unavailable to ranges (its NOTE, index.py:152-156).
    *  - start > first ingestion: updates-log entries in [start, end] ONLY —
    *    no base version is attributable entirely to the window, so
    *    query_base_array is false (index.py:123-128).
    *  - end < first ingestion: an empty view (index.py:139-144).
    *
    * Range handles are read-only views: consolidation refuses them
    * ([[VectorIndex.requirePointInTime]]). */
  def openRange(
      spark: SparkSession,
      uri: String,
      start: Option[Long] = None,
      end: Option[Long] = None): VectorIndex = {
    require(start.forall(s => end.forall(s <= _)),
      s"graft: openRange start $start must be <= end $end")
    val meta = IndexMeta.read(uri)
    val endTs = end.getOrElse(Long.MaxValue)
    val (ts, range) = meta.ingestionTimestamps.headOption match {
      case Some(first) if start.exists(_ > first) =>
        // updates-only window (reference index.py:123-128)
        (endTs, ReadWindow(start.get, endTs, withBase = false))
      case Some(first) if endTs < first =>
        // window closes before anything existed (reference index.py:139-144):
        // no base at endTs and an empty log window
        (endTs, ReadWindow(endTs + 1, endTs, withBase = true))
      case Some(first) =>
        // first base + updates through end (reference index.py:130-138)
        (first, ReadWindow(first + 1, endTs, withBase = true))
      case None =>
        // nothing ingested yet: the log alone, within the window
        (endTs, ReadWindow(start.getOrElse(0L), endTs, withBase = true))
    }
    construct(spark, uri, meta, ts, Some(range))
  }
}

/** Index-storage file operations through the Hadoop FileSystem API, so
  * every index URI scheme Spark can read (file://, hdfs://, s3a://, ...)
  * also supports the maintenance paths (updates-log compaction, history
  * clearing, incremental consolidation copies). nio.Files would silently
  * restrict these to the local filesystem — the 100 TB design point keeps
  * indexes on shared storage. */
private[graft] object Storage {
  private def conf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def fsOf(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(conf())

  def exists(p: String): Boolean = {
    val h = new org.apache.hadoop.fs.Path(p)
    fsOf(h).exists(h)
  }

  /** Directory exists and holds at least one entry. */
  def nonEmptyDir(p: String): Boolean = {
    val h = new org.apache.hadoop.fs.Path(p)
    val fs = fsOf(h)
    fs.exists(h) && fs.listStatus(h).nonEmpty
  }

  /** (name, length) of the plain files directly under `p`. */
  def listFiles(p: String): Seq[(String, Long)] =
    files(p).map(s => (s.getPath.getName, s.getLen))

  private def files(p: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val h = new org.apache.hadoop.fs.Path(p)
    val fs = fsOf(h)
    if (!fs.exists(h)) Seq.empty
    else fs.listStatus(h).filter(_.isFile).toSeq
  }

  private def parquetFiles(p: String): Seq[org.apache.hadoop.fs.FileStatus] =
    files(p).filter(_.getPath.getName.endsWith(".parquet"))

  /** Whether `p` holds a `.parquet` file directly: what Spark needs to
    * read it. A directory holding only `_SUCCESS`/`.crc` files is
    * non-empty but has no schema to infer. */
  def hasParquet(p: String): Boolean = parquetFiles(p).nonEmpty

  /** One updates-log fragment: a `.parquet` file directly under the log
    * directory, its length, and the range of its `ts` column. */
  final case class LogFragment(name: String, bytes: Long, minTs: Long, maxTs: Long) {
    /** No rows: a write task whose partition was empty still leaves a file. */
    def isEmpty: Boolean = minTs > maxTs
  }

  /** The updates-log fragments under `dir`: one listing, and each
    * fragment's ts range from its footer statistics, read on the driver
    * (no Spark job). The footers open with the session's Hadoop conf; the
    * no-options open builds a fresh `Configuration` per file, ~7 ms each.
    * A fragment with no ts statistics reports the widest range, so no
    * maintenance step drops or skips it unread; one with no rows reports
    * an empty range and counts as folded. */
  def logFragments(dir: String): Seq[LogFragment] = {
    import scala.jdk.CollectionConverters._
    val c = conf()
    val opts = org.apache.parquet.HadoopReadOptions.builder(c).build()
    parquetFiles(dir).map { st =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, c), opts)
      val ranges =
        try reader.getFooter.getBlocks.asScala.filter(_.getRowCount > 0).map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == "ts").map(_.getStatistics)
            .filter(s => s != null && s.hasNonNullValue)
            .map(s => (s.genericGetMin.asInstanceOf[java.lang.Long].longValue,
              s.genericGetMax.asInstanceOf[java.lang.Long].longValue))
            .getOrElse((Long.MinValue, Long.MaxValue))
        }
        finally reader.close()
      LogFragment(st.getPath.getName, st.getLen,
        ranges.map(_._1).foldLeft(Long.MaxValue)(math.min),
        ranges.map(_._2).foldLeft(Long.MinValue)(math.max))
    }
  }

  /** Swap files of `dir`: move every `.parquet` file of `staged` into
    * `dir`, then delete the files named `drop` there, then `staged`. In
    * this order a crash can leave a rewritten row twice — identical
    * copies, which last-write-wins resolves to the same answer — but never
    * lose it. Invalidates the session cache under `dir` once. */
  def replaceFiles(dir: String, drop: Seq[String], staged: Option[String]): Unit = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(d)
    staged.foreach { s =>
      parquetFiles(s).map(_.getPath).foreach { f =>
        require(fs.rename(f, new org.apache.hadoop.fs.Path(d, f.getName)),
          s"graft: rename $f -> $dir failed")
      }
    }
    drop.foreach(n => fs.delete(new org.apache.hadoop.fs.Path(d, n), false))
    staged.foreach(s => fs.delete(new org.apache.hadoop.fs.Path(s), true))
    graft.SessionCache.invalidateUnder(dir)
  }

  def deleteRecursively(p: String): Unit = {
    val h = new org.apache.hadoop.fs.Path(p)
    val fs = fsOf(h)
    if (fs.exists(h)) { fs.delete(h, true); () }
    graft.SessionCache.invalidateUnder(p)
  }

  def move(src: String, dst: String): Unit = {
    val s = new org.apache.hadoop.fs.Path(src)
    val d = new org.apache.hadoop.fs.Path(dst)
    require(fsOf(s).rename(s, d), s"graft: rename $src -> $dst failed")
    // a move changes what both prefixes serve
    graft.SessionCache.invalidateUnder(src)
    graft.SessionCache.invalidateUnder(dst)
  }

  /** Byte-preserving directory copy (incremental VAMANA consolidation copies
    * untouched shard partitions into the new version verbatim). */
  def copyRecursively(src: String, dst: String): Unit = {
    val s = new org.apache.hadoop.fs.Path(src)
    val d = new org.apache.hadoop.fs.Path(dst)
    val fs = fsOf(s)
    require(org.apache.hadoop.fs.FileUtil.copy(fs, s, fsOf(d), d,
      false /* deleteSource */, true /* overwrite */, conf()),
      s"graft: copy $src -> $dst failed")
  }
}

/** FLAT index: exact brute-force scan (reference:
  * apis/python/src/tiledb/vector_search/flat_index.py:115-147; C++ kernel
  * detail/flat/vq.h:40-120). The Spark plan IS the vq loop: partition-at-a-
  * time scan with per-partition bounded heaps, then a k-bounded merge. */
class FlatIndex(spark: SparkSession, uri: String, meta: IndexMeta, ts: Long,
    range: Option[VectorIndex.ReadWindow] = None)
    extends VectorIndex(spark, uri, meta, ts, range) {

  override def baseVectors(): DataFrame =
    if (historyIdx < 0) StoredVectors.empty(spark)
    else readVersioned(s"$uri/base/v=$baseTimestamp").select("external_id", "vector")

  override protected def queryBase(queries: DataFrame, k: Int, nprobe: Int,
      allow: Option[DataFrame]): DataFrame = {
    val base = restrictTo(baseVectors(), allow)
    meta.dtype match {
      case "uint8" | "int8" =>
        graft.operators.ByteKnn.bruteForce(base, queries, k, metric,
          signed = meta.dtype == "int8",
          idCol = "external_id", vecCol = "vector", qidCol = "qid", qvecCol = "qvec")
      case _ =>
        Knn.bruteForce(base, queries, k, metric,
          idCol = "external_id", vecCol = "vector", qidCol = "qid", qvecCol = "qvec")
    }
  }
}

/** BINARY sign-sketch index: the engine's 1-bit quantization
  * ([[graft.operators.BinaryKnn]]) as a full index type. Base vectors are
  * stored raw like FLAT (the exact re-rank side and the updates-merge
  * substrate), plus a versioned `(external_id, bits)` sketch table the
  * candidate stage scans at 1 bit/dim — 32× less IO than the float scan.
  * `nprobe` doubles as the re-rank budget `fetchK` (the type's one knob,
  * like IVF's probe count: ≤ 0 → 16k default; ≥ |base| → exact by
  * construction). Updates, deletes, time travel, range opens, filtered
  * queries, and consolidation all ride the shared [[VectorIndex]]
  * machinery unchanged — consolidation re-ingests through the BINARY
  * path, which regenerates the sketch for the new base version. No
  * reference analogue (its quantization story is IVF_PQ); this is the
  * sign-sketch classic on the same lifecycle contract. */
class BinaryIndex(spark: SparkSession, uri: String, meta: IndexMeta, ts: Long,
    range: Option[VectorIndex.ReadWindow] = None)
    extends VectorIndex(spark, uri, meta, ts, range) {

  private def sketch(): DataFrame =
    readVersioned(s"$uri/sketch/v=$baseTimestamp")

  override def baseVectors(): DataFrame =
    new FlatIndex(spark, uri, meta, ts).baseVectors()

  override protected def queryBase(queries: DataFrame, k: Int, nprobe0: Int,
      allow: Option[DataFrame]): DataFrame = {
    val base = baseVectors()
    if (historyIdx < 0) {
      return Knn.bruteForce(restrictTo(base, allow), queries, k, metric,
        idCol = "external_id", vecCol = "vector", qidCol = "qid", qvecCol = "qvec")
    }
    // cap at the recorded base size: fetchK >= |base| IS probe-all, and the
    // cap keeps the shortlist aggregate's capacity honest for huge requests
    val baseN = meta.baseSizes(historyIdx)
    val fetchK = math.min(
      if (nprobe0 <= 0) 16L * k else math.max(k.toLong, nprobe0.toLong),
      math.max(k.toLong, baseN)).toInt
    // the allow-list restricts the SKETCH side, so a filtered query fills
    // its shortlist from allowed candidates (pre-filter semantics); the
    // re-rank join then only ever sees allowed ids
    graft.operators.BinaryKnn.searchFrames(
      restrictTo(sketch(), allow)
        .select(col("external_id").as("id"), col("bits")),
      base.select(col("external_id").as("id"), col("vector")),
      queries, k, fetchK, metric)
  }
}
