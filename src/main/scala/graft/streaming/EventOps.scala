package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.index.VectorIndex

/** Event-time operators over the events stream table, runnable identically
  * as batch DataFrames or Structured Streaming (same plan shape; streaming
  * adds watermarks). The reference's incremental semantics are
  * batch-incremental (SURVEY §2.8) — Structured Streaming is the Spark
  * sugar on top: a streaming sink appending to the updates log + periodic
  * consolidation reproduces U1-U5 exactly.
  */
object EventOps {

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Load the events table: its parquet `ts` is TIMESTAMP(NANOS), which
    * Spark 4 rejects by default — read nanos as long (legacy conf) and
    * convert to a microsecond timestamp column.
    *
    * The legacy conf is needed during SCHEMA INFERENCE (footer → Catalyst
    * conversion happens eagerly inside `spark.read.parquet`); the returned
    * plan carries the resolved LongType schema, so the session value can be
    * restored immediately — no permanent session-conf side effect from this
    * read path (the execution-time file readers convert against the plan's
    * relation schema, not the live conf; spec-asserted in StreamingSpec). */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    // session-memoized like every other immutable driver table: the
    // conf-gated schema inference (listing + footer job) re-ran per query.
    // A table appended outside `Storage` must call [[invalidate]] to be seen.
    val raw = graft.SessionCache.get(spark, s"$dir/events.parquet", "events") {
      val prior = spark.conf.getOption(NanosKey)
      spark.conf.set(NanosKey, "true")
      try spark.read.parquet(s"$dir/events.parquet")
      finally prior match {
        case Some(v) => spark.conf.set(NanosKey, v)
        case None => spark.conf.unset(NanosKey)
      }
    }
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // Integer division: nano epochs (~1.7e18) exceed double's 53-bit
        // mantissa, so `/ 1000` (double div) corrupts ~12% of values.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // A parquet writer that sets isAdjustedToUTC=false (pandas/pyarrow
        // default) infers as TIMESTAMP_NTZ; pin to the session-zoned type
        // so every consumer sees ONE timestamp flavor (a UTC session makes
        // the wall values identical — same convention DuckDB applies).
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Drop the memoized read of `$dir/events.parquet` (and anything under
    * it): callers that append events outside the engine's own storage
    * primitives re-arm the next [[loadEvents]] with this. */
  def invalidate(dir: String): Unit =
    graft.SessionCache.invalidateUnder(s"$dir/events.parquet")

  /** Tumbling-window aggregate keyed to integer epoch buckets (exact
    * cross-engine compare: no timestamp hashing). */
  def windowedCounts(events: DataFrame, windowSec: Int = 300): DataFrame =
    events
      .withColumn("window_start",
        (floor(unix_timestamp(col("ts")) / windowSec) * windowSec).cast("long"))
      .groupBy(col("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))

  /** Session windows per user with a `gapSec` inactivity gap, numbered per
    * user by start time: (user_id, session_idx, n_events). Built on
    * `session_window` (streaming-capable); a new session starts when the
    * gap since the previous event is >= gapSec. */
  def sessionized(events: DataFrame, gapSec: Int = 600): DataFrame = {
    val sessions = events
      .groupBy(session_window(col("ts"), s"$gapSec seconds"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("session_window.start"))
    sessions
      .withColumn("session_idx", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_idx"), col("n_events"))
  }

  /** Streaming variant of [[windowedCounts]]: parquet source → watermark →
    * event-time tumbling window. Returns the started query's output table
    * name for memory-sink testing. */
  def streamingWindowedCounts(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      queryName: String,
      windowSec: Int = 300): org.apache.spark.sql.streaming.StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(dir)
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), s"$windowSec seconds"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
    agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Custom keyed state via `mapGroupsWithState`: running per-user
    * (count, sum) totals that persist across micro-batches — the
    * KeyValueGroupedDataset stateful-processing surface for operators the
    * built-in windows can't express. One output row per user per trigger. */
  def statefulUserTotals(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      queryName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val stream = spark.readStream.schema(schema).parquet(dir)
    val ds = stream.selectExpr("cast(user_id as long) user_id", "value")
      .as[(Long, Double)]
    val totals = ds.groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
        GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          var (c, sm) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { case (_, v) => c += 1; sm += v }
          state.update((c, sm))
          (user, c, sm)
      }
    totals.toDF("user_id", "n", "sum_value")
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Stream a document feed into a manifest-checked shard export
    * ([[graft.text.ShardExport]], which a batch [[graft.text.ShardExport.write]]
    * must have initialized): each micro-batch routes and appends through
    * `ShardExport.append`, so the manifest combines per-shard stats and
    * stays bit-identical to a batch export of everything seen. Effectively
    * exactly-once across restart: foreachBatch can REDELIVER a batch id
    * after a failure, so the sink records committed ids in `uri/commits`
    * and skips redeliveries (the standard idempotent-foreachBatch
    * pattern). The append→commit pair is not atomic — a crash between the
    * two replays the batch into `append`'s duplicate-id refusal, which
    * fails the restarted query LOUDLY instead of double-counting silently;
    * recovery is recording the orphaned batch id by hand after an fsck. */
  def streamDocsIntoShards(
      docs: DataFrame,
      exportUri: String,
      queryName: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val commitsPath = s"$exportUri/commits"
        val done =
          try spark.read.parquet(commitsPath)
            .where(col("batch_id") === batchId).limit(1).count() > 0
          catch { case _: Exception => false } // no commits table yet
        if (!done) {
          graft.text.ShardExport.append(batch, exportUri)
          Seq(batchId).toDF("batch_id").write.mode("append").parquet(commitsPath)
        }
      }
      .start()

  /** Stream NEW OBJECTS into an existing [[graft.objects.ObjectIndex]] —
    * the streaming form of its incremental maintenance (reference:
    * object_index.py:736-881 `update_index` run per arrival instead of per
    * campaign). Each micro-batch embeds ONLY its own rows through
    * [[graft.objects.ObjectIndex.updateIndex]] (vector updates log +
    * metadata log); queries pick the batch up immediately via the
    * read-merge path and a later `consolidate` folds the logs. Batch rows
    * must carry `external_id`, the embedding's content column, and
    * exactly the `object_metadata` attribute columns (the metadata rows
    * are the batch minus the content column — updateIndex refuses drift).
    * Effectively exactly-once across restart via the same idempotent
    * commit-log pattern as [[streamDocsIntoShards]]: redelivered batch ids
    * are skipped, and the log write at the batch's event-time `ts` =
    * `batchTs(batchId)` keeps replays deterministic. */
  def streamObjectsIntoIndex(
      objects: DataFrame, // streaming frame: external_id + content + metadata attrs
      index: graft.objects.ObjectIndex,
      queryName: String,
      batchTs: Long => Long = 1000000L + _): org.apache.spark.sql.streaming.StreamingQuery = {
    val contentCol = index.embedding.contentColumn
    objects.writeStream
      .outputMode("append")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val commitsPath = s"${index.uri}/stream_commits"
        val done =
          try spark.read.parquet(commitsPath)
            .where(col("batch_id") === batchId).limit(1).count() > 0
          catch { case _: Exception => false } // no commits table yet
        if (!done && !batch.isEmpty) {
          index.updateIndex(
            batch.select(col("external_id"), col(contentCol)),
            batch.drop(contentCol),
            ts = batchTs(batchId))
          Seq(batchId).toDF("batch_id").write.mode("append").parquet(commitsPath)
        }
      }
      .start()
  }

  /** Streaming updates sink (U1/U2 as a stream): each micro-batch of
    * (external_id, vector, ts) rows appends to the index's updates log via
    * foreachBatch — identical semantics to `updateBatch` per batch, and the
    * read-merge path (U3) picks them up on the next query. */
  def streamUpdatesIntoIndex(
      updates: DataFrame,
      indexUri: String,
      queryName: String): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .outputMode("append")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select(
            col("external_id").cast("long"),
            col("vector").cast("array<float>"),
            col("ts").cast("long"))
          .write.mode("append").parquet(s"$indexUri/updates")
        val meta = graft.index.IndexMeta.read(indexUri)
        if (!meta.hasUpdates) {
          graft.index.IndexMeta.write(indexUri, meta.copy(hasUpdates = true))
        }
      }
      .start()

  /** Continuous k-NN over a query STREAM: each micro-batch of (qid, qvec)
    * rows runs the full read-merge query path (U3 semantics — base plus any
    * updates that arrived between batches, e.g. via
    * [[streamUpdatesIntoIndex]]) and appends (qid, rank, id, distance,
    * batch_id) to `outDir`. The index is re-opened per batch so metadata
    * changes (consolidations, new versions) are picked up mid-stream; the
    * open is one small JSON read. Together with the updates sink this
    * closes the loop of a continuously-updated, continuously-queried index.
    * Millisecond point lookups are [[graft.index.LocalSearcher]]'s job —
    * this is the high-throughput micro-batch form. */
  def streamingKnn(
      queries: DataFrame, // streaming frame with (qid, qvec)
      indexUri: String,
      outDir: String,
      k: Int,
      queryName: String,
      nprobe: Int = 0,
      allowIds: Option[DataFrame] = None): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val idx = VectorIndex.open(batch.sparkSession, indexUri)
        // allowIds (a STATIC policy/tenant allow-list) pre-filters each
        // micro-batch's candidates — VectorIndex.queryFiltered semantics
        // per batch; each batch re-opens the index, so consolidations
        // land between batches without restarting the stream
        allowIds.map(a => idx.queryFiltered(batch, k, a, nprobe))
          .getOrElse(idx.query(batch, k, nprobe))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
      .start()

  /** Streaming exact dedup for document ingest: keep the FIRST document
    * per content fingerprint, with dedup state bounded by the event-time
    * watermark (`dropDuplicatesWithinWatermark` — plain dropDuplicates
    * would hold every fingerprint forever, a state leak at corpus scale).
    * The contract is the standard streaming one: a duplicate arriving
    * later than the watermark delay can re-emit. Batch analogue:
    * [[graft.text.Dedup.exactGroups]]. */
  def streamingExactDedup(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      queryName: String,
      textCol: String = "text",
      tsCol: String = "ts",
      watermarkDelay: String = "1 hour",
      fingerprint: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        graft.text.TextOps.tokenSetFingerprint): org.apache.spark.sql.streaming.StreamingQuery = {
    require(!schema.fieldNames.contains("fp"),
      "graft: streamingExactDedup emits its fingerprint as `fp` — the " +
        "input schema already has that column")
    val stream = spark.readStream.schema(schema).parquet(dir)
    stream
      .withColumn("fp", fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
