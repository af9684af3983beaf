package graft.objects

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.index.{Ingest, VectorIndex}
import graft.operators.DistanceMetric

/** Object/semantic search index (reference:
  * apis/python/src/tiledb/vector_search/object_api/object_index.py).
  *
  * create: reader → chunked objects → embeddings (mapPartitions with lazy
  * per-executor model init) → vector index + metadata table
  * (embeddings_ingestion.py:7-604 two-stage DAG collapses into one plan).
  *
  * query (object_index.py:281-559):
  *   1. embed query objects (possibly multi-embedding per query),
  *   2. fetch_k = min(50k, size) inflation when metadata filters are
  *      present (:451-453),
  *   3. vector k-NN,
  *   4. multi-embedding fusion per (query, object) (:561-635),
  *   5. metadata predicate pushdown (F4) / post-filter repack to k (F6),
  *   6. metadata + object materialization joins (J11/J12).
  */
class ObjectIndex(
    val spark: SparkSession,
    val uri: String,
    val reader: ObjectReader,
    val embedding: ObjectEmbedding) {

  lazy val index: VectorIndex = VectorIndex.open(spark, uri)

  /** Live object metadata: the `object_metadata` base merged with the
    * incremental-maintenance updates log (last write per external_id wins,
    * tombstones drop — [[ObjectIndex.mergedMetadata]]). A def, not a lazy
    * val, for the same reason [[VectorIndex.query]] re-reads its updates
    * log: a handle must see [[updateIndex]]/[[deleteObjects]] writes made
    * through itself or any other handle without re-opening. */
  def metadata: DataFrame = ObjectIndex.mergedMetadata(spark, uri)

  private lazy val indexSize: Long = index.meta.baseSizes.lastOption.getOrElse(0L)

  /** @param queryObjects (qid: Long, text: String)
    * @param metadataCond optional SQL predicate over metadata attributes,
    *        pushed into the metadata scan (reference F4 `metadata_array_cond`)
    * @param fusionMode multi-embedding score fusion
    *        (object_index.py:561-635): "reciprocal" = 1/(1+distance)
    *        (distance-aware, the default), "rank" = position scoring
    *        1 − rank/fetch_k per embedding run (distance-scale-free — the
    *        reference's mode for mixing embeddings whose distance ranges
    *        differ), "maxsim" = late-interaction raw-dot scoring for
    *        multi-vector models (ColPali; INNER_PRODUCT index required).
    *        All MAX over duplicate hits within one embedding and
    *        SUM across the query's embeddings — which for "maxsim" is
    *        exactly Σᵢ maxⱼ ⟨qᵢ, dⱼ⟩ over the surfaced candidates.
    * @param filterMode how `metadataCond` is applied.
    *        [[ObjectIndex.FilterPost]] (default) = the reference's
    *        strategy (object_index.py:451-453): fetch fetchFactor×k
    *        unfiltered hits, filter, repack — can under-fill k when the
    *        condition is more selective than the overfetch guess.
    *        [[ObjectIndex.FilterPre]] = the allowed ids (metadata rows
    *        satisfying the condition) semi-join the candidate scan BEFORE
    *        ranking ([[graft.index.VectorIndex.queryFiltered]]), so every
    *        per-embedding list holds k allowed hits with no inflation —
    *        no reference counterpart; arbitrarily selective conditions
    *        stay exact at exhaustive probes.
    * @param returnMetadata when false, results carry no metadata attrs and
    *        — absent a `metadataCond` — the metadata table is never even
    *        scanned (the reference's `return_metadata=False`,
    *        object_index.py:289,528). A condition still applies (as a
    *        semi join), it just doesn't project attrs. Note the
    *        attrs-returning default also acts as an existence filter: a
    *        hit with no metadata row drops (the doctor flags such
    *        indexes); with `returnMetadata=false` and no condition it
    *        survives.
    * @return (qid, rank, external_id, score[, metadata attrs...])
    */
  def query(
      queryObjects: DataFrame,
      k: Int,
      metadataCond: Option[String] = None,
      nprobe: Int = 0,
      fetchFactor: Int = 50,
      fusionMode: String = ObjectIndex.FusionReciprocal,
      filterMode: String = ObjectIndex.FilterPost,
      returnMetadata: Boolean = true): DataFrame = {
    import spark.implicits._
    require(fusionMode == ObjectIndex.FusionReciprocal ||
        fusionMode == ObjectIndex.FusionRank ||
        fusionMode == ObjectIndex.FusionMaxSim,
      s"graft: fusionMode must be ${ObjectIndex.FusionReciprocal}, " +
        s"${ObjectIndex.FusionRank} or ${ObjectIndex.FusionMaxSim}, got $fusionMode")
    require(fusionMode != ObjectIndex.FusionMaxSim ||
        index.metric == graft.operators.DistanceMetric.InnerProduct,
      s"graft: ${ObjectIndex.FusionMaxSim} fusion needs an INNER_PRODUCT " +
        s"index (dot is the late-interaction score), got ${index.metric}")
    require(filterMode == ObjectIndex.FilterPost ||
        filterMode == ObjectIndex.FilterPre,
      s"graft: filterMode must be ${ObjectIndex.FilterPost} or " +
        s"${ObjectIndex.FilterPre}, got $filterMode")
    val emb = embedQueries(queryObjects)
    val prefilter = metadataCond.isDefined && filterMode == ObjectIndex.FilterPre
    // fetch_k inflation before metadata filtering (object_index.py:451-453);
    // the pre-filter path needs none — its candidates are allowed already
    val fetchK = if (metadataCond.isDefined && !prefilter) {
      math.min(fetchFactor.toLong * k, math.max(indexSize, 1L)).toInt
    } else k

    // one vector query per embedding_seq batch; queries carry composite ids.
    // Integer `div` for the decode — `/` is double division and would
    // corrupt qids past double's 53-bit mantissa (the same pitfall
    // EventOps.loadEvents documents for nano timestamps); the encode side
    // validates qid >= 0 and seq < SeqStride in embedQueries.
    val q = emb.select(
      (col("qid") * ObjectIndex.SeqStride + col("embedding_seq")).as("qid"),
      col("qvec"))
    val rawHits =
      if (prefilter)
        index.queryFiltered(q, fetchK,
          metadata.where(expr(metadataCond.get)).select("external_id"), nprobe)
      else index.query(q, fetchK, nprobe)
    val hits = rawHits
      .select(expr(s"qid div ${ObjectIndex.SeqStride}L").as("qid"),
        pmod(col("qid"), lit(ObjectIndex.SeqStride)).cast("int").as("embedding_seq"),
        col("id").as("external_id"), col("distance"))

    // multi-embedding fusion (object_index.py:561-635): per-embedding score,
    // MAX over duplicate hits of one embedding, SUM across the query's
    // embeddings.
    val scored = fusionMode match {
      case ObjectIndex.FusionRank =>
        // position scoring over each embedding's ranked result list; the
        // window sorts tiny per-(query, embedding) hit lists, not the corpus
        val we = Window.partitionBy(col("qid"), col("embedding_seq"))
          .orderBy(col("distance").asc, col("external_id"))
        hits.withColumn("score",
          lit(1.0) - (row_number().over(we) - lit(1)).cast("double") / lit(fetchK.toDouble))
      case ObjectIndex.FusionMaxSim =>
        // late interaction: the per-hit score IS the raw dot, recovered
        // from the IP reported distance 1/dot (0-dot sentinel → 0). The
        // existing max-over-duplicate-hits × sum-across-embeddings fold
        // below then computes Σᵢ maxⱼ ⟨qᵢ, dⱼ⟩ over surfaced candidates.
        // The 1/(1/dot) float round trip can wobble one ulp — ranking
        // noise only; the exact-contract MaxSim path is
        // [[graft.operators.MaxSim]] over the raw vector table.
        hits.withColumn("score",
          when(col("distance") === lit(Float.MaxValue), lit(0.0))
            .otherwise(lit(1.0) / col("distance").cast("double")))
      case _ =>
        hits.withColumn("score",
          lit(1.0) / (lit(1.0) + col("distance").cast("double")))
    }
    val fused = scored
      .groupBy(col("qid"), col("embedding_seq"), col("external_id"))
      .agg(max(col("score")).as("score"))
      .groupBy(col("qid"), col("external_id"))
      .agg(sum(col("score")).as("score"))

    // metadata pushdown filter (F4): plain Catalyst predicate on the
    // metadata table, joined (broadcast — results are small) to survivors.
    // The merged view is RESTRICTED to the candidate ids before its
    // last-write-wins window, so a maintenance log never turns the hit
    // join into a corpus-sized metadata shuffle. returnMetadata=false
    // skips the metadata scan entirely when no condition needs it, and
    // degrades the join to a semi when one does.
    lazy val candMeta = ObjectIndex.mergedMetadata(spark, uri,
      Some(fused.select("external_id")))
    val withMeta =
      if (returnMetadata)
        fused.join(
          metadataCond.map(c => candMeta.where(expr(c))).getOrElse(candMeta),
          Seq("external_id"))
      else metadataCond match {
        case Some(c) => fused.join(candMeta.where(expr(c)).select("external_id"),
          Seq("external_id"), "left_semi")
        case None => fused
      }

    // post-filter repack: first k survivors per query (F6)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("external_id"))
    withMeta.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  // ----- incremental maintenance (reference: object_index.py:736-881
  // update_index + embeddings_ingestion.py:7-604 — embed only the NEW or
  // CHANGED objects and fold them through the updates array instead of
  // re-embedding the corpus) -----

  /** Upsert a batch of objects: embed ONLY `objects` (rows in the reader's
    * schema — `external_id` + the embedding's content column) and write the
    * vectors through the vector index's updates log
    * ([[graft.index.VectorIndex.updateBatch]] — the reference's
    * use_updates_array=True path); `metadataRows` (same schema as
    * `object_metadata`) append to a sibling metadata updates log with
    * last-write-wins semantics. Queries see the batch immediately — the
    * vector side merges base + additions per query, the metadata side reads
    * the merged view — and [[consolidate]] later folds both logs into fresh
    * base tables.
    *
    * Multi-vector embeddings are refused: the updates log is keyed one
    * vector per external_id (its last-write-wins overwrite would corrupt a
    * ColPali-style several-rows-per-id layout) — re-[[ObjectIndex.create]]
    * instead, the reference's own use_updates_array=False fallback. */
  def updateIndex(objects: DataFrame, metadataRows: DataFrame, ts: Long): Unit = {
    require(!embedding.multiVector,
      "graft: incremental updateIndex rides the one-vector-per-external_id " +
        "updates log; multi-vector layouts must re-create the index " +
        "(the reference's use_updates_array=False path)")
    val vecs = ObjectIndex.embedContent(objects, "external_id", embedding)
      .toDF("external_id", "embedding_seq", "vector")
      .select(col("external_id"), col("vector").cast("array<float>").as("vector"))
    // metadata FIRST: a crash between the two appends then leaves an
    // orphan metadata row (doctor WARN, joins ignore it) instead of a
    // vector whose hits silently drop from every result (doctor ERROR) —
    // the recoverable side of the non-atomic pair
    appendMetadata(metadataRows, ts, deleted = false)
    index.updateBatch(vecs, ts)
  }

  /** Delete objects: tombstone their vectors in the updates log
    * ([[graft.index.VectorIndex.deleteBatch]]) and their metadata rows in
    * the metadata log (all-attribute-NULL rows flagged deleted). */
  def deleteObjects(ids: DataFrame, ts: Long): Unit = {
    index.deleteBatch(ids.select(col("external_id")), ts)
    val baseSchema = spark.read.parquet(s"$uri/object_metadata").schema
    val tomb = baseSchema.filter(_.name != "external_id")
      .foldLeft(ids.select(col("external_id").cast("long").as("external_id"))) {
        (df, f) => df.withColumn(f.name, lit(null).cast(f.dataType))
      }
    appendMetadata(tomb, ts, deleted = true)
  }

  /** Reader-diff convenience (the reference's update_index() called after
    * the source grew, object_index.py:736-760): ids the reader now yields
    * that the index has never seen are embedded and upserted; everything
    * already indexed is untouched — ONE anti-join decides the diff, no
    * re-embedding of the existing corpus.
    *
    * Content CHANGES under an existing id are invisible to the plain diff
    * (ids are the identity). When the reader's metadata carries a content
    * fingerprint column, pass it as `contentHashCol`: ids whose CURRENT
    * fingerprint differs from the STORED metadata's re-embed too — the
    * join compares two metadata projections (id, hash), never document
    * payloads, so the change scan stays two-column at any corpus size.
    * No-op when nothing is new or changed. */
  def updateIndexFromReader(ts: Long, contentHashCol: Option[String] = None): Unit = {
    val existing = metadata.select(col("external_id"))
    val current = reader.readMetadata(spark)
    // ids normalized to long on both union branches — a reader declaring
    // int ids must not fail the unionByName below
    val newIds = current.select(col("external_id").cast("long").as("external_id"))
      .join(existing, Seq("external_id"), "left_anti")
    val changedIds = contentHashCol match {
      case Some(hc) =>
        require(current.columns.contains(hc),
          s"graft: contentHashCol '$hc' not in the reader's metadata " +
            s"columns ${current.columns.sorted.mkString(", ")}")
        require(metadata.columns.contains(hc),
          s"graft: contentHashCol '$hc' not in the stored object_metadata " +
            "— the index was created without a fingerprint column")
        current.select(col("external_id").cast("long").as("external_id"),
            col(hc).as("__h_now"))
          .join(metadata.select(col("external_id").cast("long").as("external_id"),
            col(hc).as("__h_idx")), Seq("external_id"))
          .where(!(col("__h_now") <=> col("__h_idx")))
          .select("external_id")
      case None => spark.emptyDataFrame.select(lit(0L).as("external_id")).limit(0)
    }
    val touched = newIds.unionByName(changedIds)
    if (touched.limit(1).isEmpty) return
    val objs = reader.readObjects(spark)
      .join(touched, Seq("external_id"), "left_semi")
    updateIndex(objs, current.join(touched, Seq("external_id"), "left_semi"), ts)
  }

  /** PARTITION-granular reader diff — the reference's per-partition
    * maintenance fan-out (embeddings_ingestion.py:201-343 embeds one
    * reader partition per task; update_index re-runs only the partitions
    * whose source changed). Spark-native form: `partitionCol` names the
    * reader-metadata column that identifies a source partition (a
    * directory, a file, a source bucket); a per-partition SIGNATURE —
    * row count + an order-insensitive xor-fold of per-row xxhash64 over
    * (external_id[, contentHashCol]) — is aggregated on BOTH sides (two
    * narrow scans, never a payload read), and only partitions whose
    * signatures differ are touched: every CURRENT member of a changed
    * partition re-embeds (upsert), and ids that left a changed partition
    * without reappearing anywhere tombstone. Embedding work is therefore
    * proportional to changed-partitions/total (spec-asserted with a
    * counting embedding), not corpus size.
    *
    * Use [[updateIndexFromReader]] when per-ROW identity/fingerprints
    * are reliable (strictly less re-embedding); use this when the change
    * signal is naturally partition-level — in-partition edits, adds AND
    * deletes are all caught from the metadata alone. Without
    * `contentHashCol`, only membership changes are visible (an in-place
    * edit that keeps ids needs a fingerprint column). No-op when no
    * signature moved. */
  def updateIndexFromReaderPartitions(
      ts: Long,
      partitionCol: String,
      contentHashCol: Option[String] = None): Unit = {
    val current = reader.readMetadata(spark)
    require(current.columns.contains(partitionCol),
      s"graft: partitionCol '$partitionCol' not in the reader's metadata " +
        s"columns ${current.columns.sorted.mkString(", ")}")
    require(metadata.columns.contains(partitionCol),
      s"graft: partitionCol '$partitionCol' not in the stored object_metadata")
    contentHashCol.foreach { hc =>
      require(current.columns.contains(hc) && metadata.columns.contains(hc),
        s"graft: contentHashCol '$hc' must exist in both the reader's " +
          "metadata and the stored object_metadata")
    }
    def sig(df: DataFrame): DataFrame = {
      val h = contentHashCol match {
        case Some(hc) => xxhash64(col("external_id").cast("long"), col(hc))
        case None => xxhash64(col("external_id").cast("long"))
      }
      // bit_xor, not sum: order-insensitive like sum but immune to ANSI
      // long overflow; duplicate-row cancellation is impossible because
      // external_id is unique within a partition
      df.select(col(partitionCol).cast("string").as("__part"), h.as("__h"))
        .groupBy("__part")
        .agg(count(lit(1)).as("__n"), expr("bit_xor(__h)").as("__sig"))
    }
    val changed = sig(current).as("n")
      .join(sig(metadata).as("s"), Seq("__part"), "full_outer")
      .where(!(col("n.__n") <=> col("s.__n")) || !(col("n.__sig") <=> col("s.__sig")))
      .select(col("__part"))
    if (changed.limit(1).isEmpty) return
    val curKeyed = current.select(
      col(partitionCol).cast("string").as("__part"),
      col("external_id").cast("long").as("external_id"))
    // ids that left a changed partition and appear NOWHERE current —
    // an id that merely MOVED partitions re-embeds under its new home
    // (its new partition's signature changed too), never tombstones
    val gone = metadata.select(
        col(partitionCol).cast("string").as("__part"),
        col("external_id").cast("long").as("external_id"))
      .join(changed, Seq("__part"), "left_semi")
      .select("external_id")
      .join(curKeyed.select("external_id"), Seq("external_id"), "left_anti")
    val touched = curKeyed.join(changed, Seq("__part"), "left_semi")
      .select("external_id")
    val objs = reader.readObjects(spark).join(touched, Seq("external_id"), "left_semi")
    // gone tombstones + touched upserts land through ONE vector-log append
    // and ONE metadata-log append (they were deleteObjects + updateIndex =
    // four write jobs plus a gone-emptiness probe job; the id sets are
    // disjoint by construction — gone appears nowhere current, touched IS
    // current — so one `ts` serves both and latest-per-id reads are
    // unchanged). Guide §6 job batching / the r13 VERDICT maintenance item.
    require(!embedding.multiVector,
      "graft: incremental updateIndex rides the one-vector-per-external_id " +
        "updates log; multi-vector layouts must re-create the index " +
        "(the reference's use_updates_array=False path)")
    val vecs = ObjectIndex.embedContent(objs, "external_id", embedding)
      .toDF("external_id", "embedding_seq", "vector")
      .select(col("external_id"), col("vector").cast("array<float>").as("vector"))
    // metadata first — the recoverable side of the non-atomic pair (an
    // orphan metadata row is a doctor WARN; a silently-masked vector is an
    // ERROR), same ordering rationale as updateIndex's
    appendMetadataMixed(current.join(touched, Seq("external_id"), "left_semi"),
      gone, ts)
    index.updateDeleteBatch(vecs, gone, ts)
  }

  /** Upsert rows + tombstone ids in ONE metadata-log append (the batched
    * sibling of two [[appendMetadata]] calls; row-identical — the merged
    * view resolves per-id by ts, never by file order). */
  private def appendMetadataMixed(
      rows: DataFrame, tombIds: DataFrame, ts: Long): Unit = {
    val baseSchema = spark.read.parquet(s"$uri/object_metadata").schema
    val want = baseSchema.map(f => f.name -> f.dataType).toMap
    val got = rows.schema.map(f => f.name -> f.dataType).toMap
    require(got == want,
      s"graft: metadata batch schema ${got.toSeq.sortBy(_._1).mkString("[", ",", "]")} " +
        s"differs from object_metadata's ${want.toSeq.sortBy(_._1).mkString("[", ",", "]")}")
    val up = rows.select(baseSchema.map(f => col(f.name)): _*)
      .withColumn(ObjectIndex.MetaTsCol, lit(ts))
      .withColumn(ObjectIndex.MetaDeletedCol, lit(false))
    val tomb = baseSchema.filter(_.name != "external_id")
      .foldLeft(tombIds.select(col("external_id").cast("long").as("external_id"))) {
        (df, f) => df.withColumn(f.name, lit(null).cast(f.dataType))
      }
      .select(baseSchema.map(f => col(f.name)): _*)
      .withColumn(ObjectIndex.MetaTsCol, lit(ts))
      .withColumn(ObjectIndex.MetaDeletedCol, lit(true))
    up.unionByName(tomb)
      .write.mode("append").parquet(ObjectIndex.metadataUpdatesPath(uri))
  }

  /** Fold both maintenance logs into fresh base tables: the vector side
    * re-ingests through [[graft.index.VectorIndex.consolidateUpdates]], the
    * metadata side compacts the merged view into a new `object_metadata`
    * and drops its updates log. The metadata swap is staged (write aside,
    * move into place) — a crash between the moves leaves the staged
    * directory on disk with the full merged table, recoverable by hand or
    * by re-running a consolidation. */
  def consolidate(
      newTs: Long,
      partitions: Option[Int] = None,
      reuseCentroids: Boolean = false): ObjectIndex = {
    index.consolidateUpdates(newTs, partitions, reuseCentroids)
    val updPath = ObjectIndex.metadataUpdatesPath(uri)
    if (graft.index.Storage.nonEmptyDir(updPath)) {
      val stage = s"$uri/object_metadata_stage_$newTs"
      ObjectIndex.mergedMetadata(spark, uri)
        .write.mode("overwrite").parquet(stage)
      graft.index.Storage.deleteRecursively(s"$uri/object_metadata")
      graft.index.Storage.move(stage, s"$uri/object_metadata")
      graft.index.Storage.deleteRecursively(updPath)
    }
    new ObjectIndex(spark, uri, reader, embedding)
  }

  /** Append rows to the metadata updates log after validating they carry
    * exactly the base table's columns and types — a drifted attr set would
    * otherwise union NULLs into every later merged read. */
  private def appendMetadata(rows: DataFrame, ts: Long, deleted: Boolean): Unit = {
    val baseSchema = spark.read.parquet(s"$uri/object_metadata").schema
    val want = baseSchema.map(f => f.name -> f.dataType).toMap
    val got = rows.schema.map(f => f.name -> f.dataType).toMap
    require(got == want,
      s"graft: metadata batch schema ${got.toSeq.sortBy(_._1).mkString("[", ",", "]")} " +
        s"differs from object_metadata's ${want.toSeq.sortBy(_._1).mkString("[", ",", "]")}")
    rows.select(baseSchema.map(f => col(f.name)): _*)
      .withColumn(ObjectIndex.MetaTsCol, lit(ts))
      .withColumn(ObjectIndex.MetaDeletedCol, lit(deleted))
      .write.mode("append").parquet(ObjectIndex.metadataUpdatesPath(uri))
  }

  /** Materialize original objects for a result set (J12). A semi-join
    * against the reader keeps this distributed for arbitrarily large result
    * sets (top-k results are small and auto-broadcast; a full-corpus result
    * set shuffles instead of funneling through a driver `isin` list). */
  def fetchObjects(results: DataFrame): DataFrame = {
    val ids = results.select(col("external_id")).distinct()
    reader.readObjects(spark).join(ids, Seq("external_id"), "left_semi")
  }

  private def embedQueries(queryObjects: DataFrame): DataFrame = {
    import spark.implicits._
    // composite-id encoding preconditions, checked where the rows stream
    // by anyway: a negative qid or a multi-vector model emitting >=
    // SeqStride embeddings per query (ColPali-scale) would silently bleed
    // into a neighboring query's id space
    ObjectIndex.embedContent(queryObjects, "qid", embedding)
      .map { case (qid, seq, vec) =>
        require(qid >= 0,
          s"graft: query ids must be non-negative for composite encoding, got $qid")
        require(seq >= 0 && seq < ObjectIndex.SeqStride,
          s"graft: embedding_seq $seq outside [0, ${ObjectIndex.SeqStride}) — " +
            "raise SeqStride for models emitting more embeddings per object")
        (qid, seq, vec)
      }
      .toDF("qid", "embedding_seq", "qvec")
      .select(col("qid"), col("embedding_seq"),
        col("qvec").cast("array<float>").as("qvec"))
  }
}

object ObjectIndex {
  /** Composite query-id stride for multi-embedding queries (max embeddings
    * per query object). */
  val SeqStride = 1000L

  /** Fusion modes (reference: object_index.py:561-635). [[FusionMaxSim]]
    * is the late-interaction scoring the reference's ColPali embeddings
    * are trained for (colpali_embedding.py:88-104 stores several vectors
    * per external id): raw dot per hit, so max-over-duplicate-hits ×
    * sum-across-query-embeddings computes
    * Σᵢ maxⱼ ⟨qᵢ, dⱼ⟩ over the surfaced candidates — requires an
    * INNER_PRODUCT index. */
  val FusionReciprocal = "reciprocal"
  val FusionRank = "rank"
  val FusionMaxSim = "maxsim"
  val FilterPost = "postfilter"
  val FilterPre = "prefilter"

  /** Internal columns of the metadata updates log. */
  private[graft] val MetaTsCol = "__meta_ts"
  private[graft] val MetaDeletedCol = "__meta_deleted"

  private[graft] def metadataUpdatesPath(uri: String): String =
    s"$uri/object_metadata_updates"

  /** `object_metadata` merged with its incremental updates log: the latest
    * write per external_id wins (base rows count as ts=0) and tombstones
    * drop. The window is per-key over at most one base row plus the id's
    * log entries — the [[graft.index.VectorIndex.visibleUpdates]] shape,
    * no corpus-wide ordering. Reads the base table alone (no window at
    * all) when no log exists. */
  def mergedMetadata(spark: SparkSession, uri: String): DataFrame =
    mergedMetadata(spark, uri, keys = None)

  /** As above, optionally restricted to `keys` (single `external_id`
    * column) BEFORE the merge: the last-write-wins window partitions by
    * external_id, so restricting both sources first is exact — and turns
    * the per-query hit join from "window the whole metadata table" into
    * "window the ≤ batch×k candidate rows". */
  private[graft] def mergedMetadata(
      spark: SparkSession, uri: String, keys: Option[DataFrame]): DataFrame = {
    def restrict(df: DataFrame): DataFrame = keys match {
      case Some(ks) => df.join(graft.gatedSmallSide(
        ks.select(col(ks.columns.head).cast("long").as("external_id"))),
        Seq("external_id"), "left_semi")
      case None => df
    }
    // NOT session-memoized: unlike the v=<ts> index layers, the metadata
    // base is corruption-probed in place by the object-layer doctor (and
    // rewritten at the same path by consolidate) — a cached relation here
    // serves deleted files (IndexDoctorSpec caught exactly that)
    val base = restrict(spark.read.parquet(s"$uri/object_metadata"))
    val updPath = metadataUpdatesPath(uri)
    if (!graft.index.Storage.nonEmptyDir(updPath)) return base
    val upd = restrict(spark.read.parquet(updPath))
    val all = base
      .withColumn(MetaTsCol, lit(0L))
      .withColumn(MetaDeletedCol, lit(false))
      .unionByName(upd)
    val w = Window.partitionBy(col("external_id")).orderBy(col(MetaTsCol).desc)
    all.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && !col(MetaDeletedCol))
      .drop("__rn", MetaTsCol, MetaDeletedCol)
  }

  /** Build the object index: embed all objects and ingest
    * (reference: object_index.py:736-881 update_index → two-stage DAG). */
  def create(
      spark: SparkSession,
      uri: String,
      reader: ObjectReader,
      embedding: ObjectEmbedding,
      indexType: String = "IVF_FLAT",
      metric: DistanceMetric = DistanceMetric.Cosine,
      timestamp: Long = System.currentTimeMillis(),
      partitions: Option[Int] = None): ObjectIndex = {
    val objects = reader.readObjects(spark)
    val vectors = embedContent(objects, "external_id", embedding)
      .toDF("external_id", "embedding_seq", "vector")
      .select(col("external_id"), col("vector").cast("array<float>").as("vector"))
    // chunk + embed is the expensive part of the plan — stage it so the
    // embedding runs ONCE instead of once per ingestion pass
    Ingest.ingest(spark, uri, vectors, indexType, metric,
      timestamp = timestamp, partitions = partitions, stageInputs = true,
      multiVector = embedding.multiVector)
    reader.readMetadata(spark)
      .write.mode("overwrite").parquet(s"$uri/object_metadata")
    new ObjectIndex(spark, uri, reader, embedding)
  }

  /** Run the embedding over `df`'s content column, dispatching on its Spark
    * type: StringType → text models, BinaryType → image/audio models. Both
    * paths are mapPartitions with lazy per-executor `init()`. */
  private[objects] def embedContent(
      df: DataFrame,
      idCol: String,
      embedding: ObjectEmbedding): org.apache.spark.sql.Dataset[(Long, Int, Array[Float])] = {
    // NOT Par.spread: measured a repeatable 3-5x LOSS on the object
    // fixture builds (obj_maxsim 5.2 -> 20-28 s across two sessions, even
    // after the ingest write was hash-clustered) — the staged multi-pass
    // ingest re-reads the widened embed output several times and the
    // per-task embed state outweighs the parallelism at below-floor
    // scales. A reader below cluster parallelism is the reader's concern
    // (its splits), not this operator's.
    val spark = df.sparkSession
    import spark.implicits._
    val e = embedding
    val contentCol = e.contentColumn
    df.schema(contentCol).dataType match {
      case org.apache.spark.sql.types.BinaryType =>
        df.select(col(idCol).cast("long"), col(contentCol))
          .as[(Long, Array[Byte])]
          .mapPartitions { it => e.init(); e.embedBinary(it) }
      case org.apache.spark.sql.types.ArrayType(_, _) =>
        df.select(col(idCol).cast("long"),
            col(contentCol).cast("array<float>"))
          .as[(Long, Array[Float])]
          .mapPartitions { it => e.init(); e.embedVector(it) }
      case _ =>
        df.select(col(idCol).cast("long"), col(contentCol).cast("string"))
          .as[(Long, String)]
          .mapPartitions { it => e.init(); e.embed(it) }
    }
  }
}
