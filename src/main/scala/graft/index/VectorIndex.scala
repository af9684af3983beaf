package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{dist_sos, vector_normalize}
import graft.operators.{DistanceMetric, Knn}

/** A queryable vector index version, the Spark-side analogue of the
  * reference's `Index` base class (reference:
  * apis/python/src/tiledb/vector_search/index.py:57-598).
  *
  * Storage layout under `uri` (all Parquet; see FIXTURES.md §2):
  *   - `index.json`                       group metadata ([[IndexMeta]])
  *   - `base/v=<ts>/`                     vectors of the ingestion at <ts>
  *   - `centroids/v=<ts>/`                IVF centroids of that ingestion
  *   - `updates/`                         append-only updates log
  *
  * Time travel (reference: index.py:94-177): a read at `ts` sees the base
  * version with the latest ingestion timestamp ≤ ts plus updates-log entries
  * in (base_ts, ts].
  */
abstract class VectorIndex(
    val spark: SparkSession,
    val uri: String,
    val meta: IndexMeta,
    val readTimestamp: Long) {

  protected val historyIdx: Int = meta.historyIndex(readTimestamp)
  protected val baseTimestamp: Long =
    if (historyIdx >= 0) meta.ingestionTimestamps(historyIdx) else -1L

  /** Inclusive updates-log window for this handle. A point-in-time open
    * reads (base_ts, read_ts]; a RANGE open ([[VectorIndex.openRange]],
    * reference index.py:115-177 tuple form) re-pins it to the requested
    * window. Set only by the companion's open methods, before the handle
    * escapes the constructor thread. */
  @volatile private[index] var updateWindow: (Long, Long) =
    (baseTimestamp + 1, readTimestamp)

  /** False when a range open's start bound excludes every base version:
    * only updates-log entries in the window contribute (reference
    * index.py:123-128 sets query_base_array = False). */
  @volatile private[index] var queryBaseArray: Boolean = true

  private def isPointInTime: Boolean =
    queryBaseArray && updateWindow == (baseTimestamp + 1, readTimestamp)

  /** Maintenance entry points fold "everything visible now" back into
    * storage — on a windowed view that would silently drop out-of-window
    * history, so they refuse range handles. */
  protected def requirePointInTime(op: String): Unit =
    require(isPointInTime,
      s"graft: $op on a range-opened handle would fold only the windowed " +
        "updates; re-open point-in-time (VectorIndex.open) first")

  def metric: DistanceMetric = meta.metric

  /** True when the base version stores RAW (un-normalized) vectors. FLAT
    * keeps raw floats so exact re-scoring matches brute force; BINARY keeps
    * raw floats alongside the sign sketch because the exact re-rank stage
    * (BinaryKnn) recomputes true distances from them (Ingest.scala
    * normalize-at-ingest excludes both). Everything cosine that is NOT a
    * raw store was normalized at ingest, so merge/serve paths must mirror
    * that split — a BINARY+Cosine snapshot scored as if normalized would
    * silently produce wrong distances. */
  protected def rawVectorStore: Boolean =
    meta.indexType == "FLAT" || meta.indexType == "BINARY"

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
    val upd = updatesInWindow()
    if (!queryBaseArray) {
      // range open with start past every ingestion: only the writes in the
      // window count (reference index.py:123-128) — a consolidated base
      // cannot attribute its rows to a write time, so it is excluded
      // entirely and the windowed additions are brute-forced.
      val additions = upd.map(latestUpdatePerId(_)
          .where(col("vector").isNotNull)
          .select(col("external_id").as("id"), col("vector")))
        .getOrElse(emptyAdditions())
      return Knn.bruteForce(restrictTo(additions, allow, idCol = "id"), q, k,
        metric, idCol = "id", vecCol = "vector", qidCol = "qid", qvecCol = "qvec")
    }
    if (upd.isEmpty) return queryBase(q, k, nprobe, allow)

    val latest = latestUpdatePerId(upd.get)
    val updatedIds = latest.select(col("external_id"))
    // retrieval_k = 2k when updates are present (reference: index.py:352-364).
    // No broadcast hint: the updates-id set is usually tiny (stats/AQE pick
    // a broadcast anti join) but can grow arbitrarily between
    // consolidations, where a forced broadcast would break at scale.
    val baseHits = queryBase(q, 2 * k, nprobe, allow)
      .join(updatedIds, col("id") === updatedIds("external_id"), "left_anti")
    val additions = latest.where(col("vector").isNotNull)
      .select(col("external_id").as("id"), col("vector"))
    val addHits = Knn.bruteForce(restrictTo(additions, allow, idCol = "id"),
      q, k, metric, idCol = "id", vecCol = "vector", qidCol = "qid", qvecCol = "qvec")
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

  /** Empty (id: Long, vector: array<float>) frame — the additions side of a
    * windowed read whose updates log has no in-window rows. */
  private def emptyAdditions(): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("id", LongType),
        StructField("vector", ArrayType(FloatType)))))
  }

  // ----- updates log (reference: index.py:418-501, 764-814) -----

  protected def updatesPath: String = s"$uri/updates"

  /** The updates log, None when its directory is missing or empty. Every
    * log mutator invalidates [[updatesPath]], re-arming this and the
    * window probe below. */
  protected def updatesLog(): Option[DataFrame] =
    graft.SessionCache.get(spark, updatesPath, "updatesLog") {
      if (Storage.nonEmptyDir(updatesPath)) Some(spark.read.parquet(updatesPath))
      else None
    }

  /** Updates visible at this read: ts within [[updateWindow]] (both bounds
    * inclusive; the point-in-time default (base_ts+1, read_ts) is exactly
    * the historical "ts in (base_ts, read_ts]"). The in-window emptiness
    * probe is one isEmpty job, so it is memoized per window. */
  protected def updatesInWindow(): Option[DataFrame] = updatesLog().flatMap { log =>
    val (lo, hi) = updateWindow
    val w = log.where(col("ts") >= lo && col("ts") <= hi)
    if (graft.SessionCache.get(spark, updatesPath, ("windowEmpty", lo, hi))(w.isEmpty)) None
    else Some(w)
  }

  /** Last-write-wins per external id (the reference's sparse-array
    * overwrite semantics, index.py:876-897). */
  protected def latestUpdatePerId(upd: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("external_id")).orderBy(col("ts").desc)
    upd.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Upsert a batch of (external_id, vector) at `ts`
    * (reference: index.py:418-462 `update_batch`).
    *
    * The metadata flip re-reads index.json rather than rewriting this
    * handle's in-memory copy: a consolidation through ANOTHER handle may
    * have appended versions since this one was opened, and a stale-meta
    * write would silently orphan them. */
  def updateBatch(vectors: DataFrame, ts: Long): Unit = {
    vectors.select(
        col("external_id").cast("long"),
        col("vector").cast("array<float>"),
        lit(ts).as("ts"))
      .write.mode("append").parquet(updatesPath)
    IndexMeta.write(uri, IndexMeta.read(uri).copy(hasUpdates = true))
    // re-arm the memoized log relation + window-emptiness probes
    graft.SessionCache.invalidateUnder(updatesPath)
  }

  /** Tombstone a batch of ids at `ts`: vector = null
    * (reference: index.py:464-501 — empty vector ⇒ delete). Metadata
    * handling as in [[updateBatch]]. */
  def deleteBatch(ids: DataFrame, ts: Long): Unit = {
    ids.select(
        col("external_id").cast("long"),
        lit(null).cast("array<float>").as("vector"),
        lit(ts).as("ts"))
      .write.mode("append").parquet(updatesPath)
    IndexMeta.write(uri, IndexMeta.read(uri).copy(hasUpdates = true))
    graft.SessionCache.invalidateUnder(updatesPath)
  }

  /** Upserts + tombstones in ONE log append: `upserts` rows
    * (external_id, vector) and `deleteIds` rows (external_id) land as a
    * single write job at `ts` — row-identical to an [[updateBatch]]
    * followed by a [[deleteBatch]] (the log is resolved by
    * last-write-per-id, never by file or row order), at half the job and
    * metadata-flip count. The r13 VERDICT's maintenance-op batching:
    * callers holding several logical batches for one maintenance window
    * buffer them into one append instead of paying a Spark job per call. */
  def updateDeleteBatch(upserts: DataFrame, deleteIds: DataFrame, ts: Long): Unit = {
    val up = upserts.select(
      col("external_id").cast("long"),
      col("vector").cast("array<float>"),
      lit(ts).as("ts"))
    val del = deleteIds.select(
      col("external_id").cast("long"),
      lit(null).cast("array<float>").as("vector"),
      lit(ts).as("ts"))
    up.unionByName(del).write.mode("append").parquet(updatesPath)
    IndexMeta.write(uri, IndexMeta.read(uri).copy(hasUpdates = true))
    graft.SessionCache.invalidateUnder(updatesPath)
  }

  /** Append MANY logical batches as one write job that still lays each
    * batch down as its own fragment file (the shape a sequence of
    * individual appends produces, minus the per-append job + commit +
    * metadata flip): `rows` carry (external_id, vector nullable, ts,
    * `__frag` in [0, fragments)), and an explicit fragment → task
    * partitioner gives every fragment its own output file. Row content is
    * identical to `fragments` separate update/delete appends — the log is
    * resolved per-id by ts, so only the file geometry is at stake, and
    * callers that NEED the multi-fragment geometry (auto-compaction
    * thresholds) keep it. */
  private[graft] def appendLogFragments(rows: DataFrame, fragments: Int): Unit = {
    import spark.implicits._
    val parts = math.max(1, fragments)
    val shaped = rows.select(
        col("external_id").cast("long"),
        col("vector").cast("array<float>"),
        col("ts").cast("long"),
        col("__frag").cast("int"))
      .as[(Long, Array[Float], Long, Int)].rdd
      .map { case (id, v, t, f) => (f, (id, v, t)) }
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = parts
        override def getPartition(key: Any): Int =
          ((key.asInstanceOf[Int] % parts) + parts) % parts
      })
      .map(_._2)
    spark.createDataset(shaped).toDF("external_id", "vector", "ts")
      .write.mode("append").parquet(updatesPath)
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
    import org.apache.spark.sql.graftshim.{toColumn, toExpression}
    requirePointInTime("consolidateUpdates")
    val upd = updatesInWindow()
    // Byte-dtype bases store BinaryType packed vectors; widen back to
    // array<float> so the merge + re-ingest run through the float path
    // (Ingest re-packs under the same dtype).
    val base = {
      val b = baseVectors().select("external_id", "vector")
      if (meta.dtype == "uint8" || meta.dtype == "int8")
        b.select(col("external_id"),
          toColumn(graft.functions.UnpackBytes(toExpression(col("vector")),
            signed = meta.dtype == "int8")).as("vector"))
      else b
    }
    val merged = upd match {
      case None => base
      case Some(u) =>
        val latest = latestUpdatePerId(u)
        // The updates log holds RAW vectors, but COSINE non-raw-store bases
        // (IVF/PQ/VAMANA/...) are stored normalized (normalizeDone=true below
        // skips re-normalizing the base) — normalize the additions so the
        // union is uniform. FLAT and BINARY bases stay raw (rawVectorStore),
        // so their additions must stay raw too.
        val addsRaw = latest.where(col("vector").isNotNull)
          .select("external_id", "vector")
        val adds =
          if (metric == DistanceMetric.Cosine && !rawVectorStore)
            addsRaw.select(col("external_id"),
              vector_normalize(col("vector")).as("vector"))
          else addsRaw
        base
          .join(latest.select("external_id"), Seq("external_id"), "left_anti")
          .unionByName(adds)
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
    import org.apache.spark.sql.graftshim.{toColumn, toExpression}
    val gate = graft.Conf.long(spark, LocalSearcher.MaxLocalServeBytesKey,
      LocalSearcher.DefaultMaxLocalServeBytes)
    val baseCount =
      if (historyIdx >= 0 && queryBaseArray) meta.baseSizes(historyIdx) else 0L
    // the updates log counts too: between consolidations it can grow
    // arbitrarily, and a gate that ignores it would not actually bound the
    // snapshot (the count is one cheap job over the log window)
    val updCount = updatesInWindow().map(_.count()).getOrElse(0L)
    val estBytes = (baseCount + updCount) * meta.dimensions * 4L
    require(estBytes <= gate,
      s"graft: serving snapshot would hold $baseCount base + $updCount logged " +
        s"vectors (~$estBytes bytes) > ${LocalSearcher.MaxLocalServeBytesKey}=$gate; " +
        "consolidate updates or query through Spark instead")
    val byteDtype = meta.dtype == "uint8" || meta.dtype == "int8"
    def floatView(df: DataFrame): DataFrame =
      if (byteDtype)
        df.withColumn("vector",
          toColumn(graft.functions.UnpackBytes(toExpression(col("vector")),
            signed = meta.dtype == "int8")))
      else df

    val (centroids, blocked) = this match {
      case ivf: IvfFlatIndex if historyIdx >= 0 && queryBaseArray => (ivf.centroids, true)
      case _ => (Array.empty[Array[Float]], false)
    }
    val baseCols =
      if (blocked) Seq("external_id", "vector", "partition_id")
      else Seq("external_id", "vector")
    val upd = updatesInWindow().map(latestUpdatePerId)
    val maskedBase = upd match {
      case Some(u) => floatView(baseVectors().select(baseCols.head, baseCols.tail: _*))
        .join(u.select("external_id"), Seq("external_id"), "left_anti")
      case None => floatView(baseVectors().select(baseCols.head, baseCols.tail: _*))
    }
    val baseRows =
      if (queryBaseArray) maskedBase.collect()
      else Array.empty[org.apache.spark.sql.Row]
    val additions = upd.map { u =>
      val addsRaw = u.where(col("vector").isNotNull)
      // cosine non-raw-store bases hold normalized vectors; match for the
      // extras (FLAT/BINARY bases are raw — extras stay raw there)
      val adds =
        if (metric == DistanceMetric.Cosine && !rawVectorStore)
          addsRaw.select(col("external_id"), vector_normalize(col("vector")).as("vector"))
        else addsRaw.select("external_id", "vector")
      adds.collect()
    }.getOrElse(Array.empty[org.apache.spark.sql.Row])

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
      normalizedStore = metric == DistanceMetric.Cosine && !rawVectorStore)
  }

  /** Compact the updates log when it has accumulated many small fragment
    * files (reference: index.py:837-858 auto-consolidates the updates array
    * after >10 fragments): rewrite the log directory into ~128 MB output
    * files — one file only while the log is small, parallel writers once it
    * grows, so compaction never funnels a large log through a single task. */
  def consolidateUpdatesLog(maxFragments: Int = 10): Boolean = {
    updatesLog() match {
      case Some(log) =>
        val frags = Storage.listFiles(updatesPath)
          .filter(_._1.endsWith(".parquet"))
        val totalBytes = frags.map(_._2).sum
        val nOut = math.max(1, (totalBytes / (128L << 20)).toInt)
        // already at (or below) the target layout → rewriting would produce
        // the same file count again for a full read+write of the log; skip.
        // This makes vacuum() after a compaction a no-op instead of a
        // second identical rewrite (r13 round profiled exactly that pair).
        if (frags.length > maxFragments && frags.length > nOut) {
          val tmp = s"$uri/updates_compact"
          log.repartition(nOut).write.mode("overwrite").parquet(tmp)
          Storage.deleteRecursively(updatesPath)
          Storage.move(tmp, updatesPath)
          true
        } else false
      case None => false
    }
  }

  /** Remove obsolete storage: compacts the updates log and is the hook for
    * dropping superseded fragments (reference: index.py:579-598 `vacuum`). */
  def vacuum(): Unit = { consolidateUpdatesLog(maxFragments = 0); () }

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

  /** Drop base versions strictly older than `ts` and rewrite metadata
    * (reference: index.py:626-735 `clear_history`). */
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
    val keepIdx = keep.map(_._2).toSet
    IndexMeta.write(uri, meta.copy(
      ingestionTimestamps = keep.map(_._1),
      baseSizes = meta.baseSizes.zipWithIndex.collect { case (s, i) if keepIdx(i) => s },
      partitionHistory = meta.partitionHistory.zipWithIndex.collect { case (p, i) if keepIdx(i) => p }))
  }
}

object VectorIndex {

  /** Conf key: estimated build-side bytes above which the IVF/PQ query joins
    * switch from `broadcast()` to a shuffled hash join. Broadcast replicates
    * the per-query probe pairs (and PQ distance tables) to every executor —
    * fine for interactive batches, a scale-killer at nq=10⁶×nprobe=100
    * (reference streams query blocks instead, detail/ivf/qv.h:99-153).
    * Canonical constants live in [[graft.Conf]] (shared with the FLAT
    * brute-force gate); these aliases keep the established call sites. */
  val MaxBroadcastBytesKey: String = graft.Conf.MaxBroadcastBytesKey
  val DefaultMaxBroadcastBytes: Long = graft.Conf.DefaultMaxBroadcastBytes

  /** Pick the join strategy for a query-derived build side from its estimated
    * size: under the threshold → broadcast hint; over → `shuffle_hash` hint so
    * the planner partitions both sides on the join key instead of replicating
    * (the explicit hint also stops Catalyst's own size estimator from
    * re-broadcasting a side we know is large at scale). */
  private[index] def sizedJoinSide(
      spark: SparkSession, df: DataFrame, estBytes: Long): DataFrame = {
    val max = graft.Conf.long(spark, MaxBroadcastBytesKey, DefaultMaxBroadcastBytes)
    if (estBytes <= max) broadcast(df) else df.hint("shuffle_hash")
  }

  /** Open an index, optionally at a historical timestamp
    * (reference: index.py:94-177). */
  def open(spark: SparkSession, uri: String, timestamp: Option[Long] = None): VectorIndex = {
    graft.functions.Simd.syncOnce(spark) // no-op unless spark.graft.simd is set
    val meta = IndexMeta.read(uri)
    val ts = timestamp.getOrElse(Long.MaxValue)
    meta.indexType match {
      case "FLAT" => new FlatIndex(spark, uri, meta, ts)
      case "BINARY" => new BinaryIndex(spark, uri, meta, ts)
      case "IVF_FLAT" => new IvfFlatIndex(spark, uri, meta, ts)
      case "IVF_SQ8" => new IvfSq8Index(spark, uri, meta, ts)
      case "IVF_PQ" => new IvfPqIndex(spark, uri, meta, ts)
      case "VAMANA" => new VamanaIndex(spark, uri, meta, ts)
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
    meta.ingestionTimestamps.headOption match {
      case Some(first) if start.exists(_ > first) =>
        // updates-only window (reference index.py:123-128)
        val idx = open(spark, uri, Some(endTs))
        idx.queryBaseArray = false
        idx.updateWindow = (start.get, endTs)
        idx
      case Some(first) if endTs < first =>
        // window closes before anything existed (reference index.py:139-144)
        val idx = open(spark, uri, Some(endTs)) // historyIdx < 0: empty base
        idx.updateWindow = (endTs + 1, endTs) // empty
        idx
      case Some(first) =>
        // first base + updates through end (reference index.py:130-138)
        val idx = open(spark, uri, Some(first))
        idx.updateWindow = (first + 1, endTs)
        idx
      case None =>
        // nothing ingested yet: the log alone, within the window
        val idx = open(spark, uri, Some(endTs))
        idx.updateWindow = (start.getOrElse(0L), endTs)
        idx
    }
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
  def listFiles(p: String): Seq[(String, Long)] = {
    val h = new org.apache.hadoop.fs.Path(p)
    val fs = fsOf(h)
    if (!fs.exists(h)) Seq.empty
    else fs.listStatus(h).filter(_.isFile)
      .map(s => (s.getPath.getName, s.getLen)).toSeq
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
class FlatIndex(spark: SparkSession, uri: String, meta: IndexMeta, ts: Long)
    extends VectorIndex(spark, uri, meta, ts) {

  override def baseVectors(): DataFrame =
    if (historyIdx < 0) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("external_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("vector",
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))))
    } else readVersioned(s"$uri/base/v=$baseTimestamp")
      .select("external_id", "vector")

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
class BinaryIndex(spark: SparkSession, uri: String, meta: IndexMeta, ts: Long)
    extends VectorIndex(spark, uri, meta, ts) {

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
