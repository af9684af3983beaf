package graft.index

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{Vector => MlVector}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{vector_normalize, NearestCentroid, PqEncode}
import org.apache.spark.sql.graftshim.{toColumn, toExpression}
import graft.operators.DistanceMetric

/** Index build — the Spark re-expression of the reference's ingestion DAG
  * (reference: apis/python/src/tiledb/vector_search/ingestion.py:42 `ingest`;
  * DAG assembly :2363-3012). The explicit task-graph structure (centroids
  * node → fan-out assign/shuffle → consolidate partitions) collapses into a
  * single declarative plan: MLlib k-means (its treeAggregate IS the
  * reference's partial+final distributed k-means, ingestion.py:1447-1580),
  * a codegen'd argmin assignment pass, and one `partitionBy(partition_id)`
  * write that plays the role of the locally-shuffled + consolidated CSR
  * layout (reference: detail/ivf/index.h:146-230).
  */
object Ingest {

  /** Process-unique suffix for observed-metric names (see the ingest
    * probe): Observation matches on name, so concurrent builds must not
    * share one. */
  private val obsSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** IVF_SQ8 quantizer-range quantile, q in (0.5, 1.0]: 1.0 (default)
    * trains exact per-dim min/max; q < 1.0 clips the range to the
    * [1-q, q] quantiles so a single outlier per dim cannot stretch the
    * scale for everyone (outliers saturate at code 0/255 instead). */
  val Sq8RangeQuantileKey = "spark.graft.sq8RangeQuantile"

  /** When true, IVF_PQ / IVF_SQ8 ingests finish with a density-aware
    * k_factor calibration ([[KFactorCalibration]]) and persist the
    * measured knee as the index's query default. */
  val AutoKFactorKey = "spark.graft.pq.autoKFactor"

  /** Attach synthesized consecutive external ids to a vector-only source
    * (reference: read_external_ids synthesizes arange when absent,
    * ingestion.py:809-877). Ordering follows the given sort columns.
    *
    * Two regimes, both parallel (no single-task window):
    *   - no `orderBy`: a fully LAZY plan — per-source-partition row numbers
    *     plus a broadcast join of the tiny (partition → offset) table. The
    *     plan references the source twice, which is safe here because the
    *     source partitioning is deterministic (no sampling involved).
    *   - with `orderBy`: a range-partitioned sort's partition boundaries
    *     come from SAMPLING, so two independent evaluations of the sorted
    *     plan may partition differently and a two-branch plan could
    *     mis-assign ids. Instead zipWithIndex the ONE sorted RDD instance
    *     (its partitioner is fixed once), at the cost of an eager
    *     partition-count job at call time. */
  def withSyntheticIds(vectors: DataFrame, orderBy: String*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = vectors.sparkSession
    if (orderBy.nonEmpty) {
      val sorted = vectors.orderBy(orderBy.map(col): _*)
      val schema = sorted.schema.add("external_id",
        org.apache.spark.sql.types.LongType, nullable = false)
      val rdd = sorted.rdd.zipWithIndex().map { case (row, i) =>
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ i)
      }
      spark.createDataFrame(rdd, schema)
    } else {
      // __mono/__pid bound in the pre-shuffle projection so the window's
      // within-partition order is the ORIGINAL row order
      val local = vectors
        .withColumn("__mono", monotonically_increasing_id())
        .withColumn("__pid", spark_partition_id())
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("__pid")).orderBy(col("__mono"))))
      val offsets = local.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
        .withColumn("__offset", coalesce(sum(col("__cnt")).over(
          Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("__pid"), col("__offset"))
      local.join(broadcast(offsets), Seq("__pid"))
        .withColumn("external_id", col("__offset") + col("__rn") - 1)
        .drop("__pid", "__rn", "__mono", "__offset")
    }
  }

  /** Hash-cluster rows on the layout key before a partitionBy write: each
    * writer task owns whole partition dirs, so a scan of M tasks never
    * fans out into M x P files (the guide §6 small-files blowup at scale)
    * and a 1-split source never serializes all P dirs' writes through one
    * task (the bench-scale symptom). The assignment expression computes on
    * the exchange's map side; only assigned rows shuffle, once. */
  private def clusterForWrite(df: DataFrame, partCol: String, parts: Int): DataFrame =
    df.repartition(math.max(1, parts), col(partCol))

  /** Auto partition count: √size, ≥100 vectors per partition for k-means
    * (reference: ingestion.py:3180-3186). The min runs in the Long domain:
    * `(size / 100).toInt` would wrap negative past ~2×10¹¹ rows and
    * collapse a design-point-scale build to one partition. */
  def autoPartitions(size: Long): Int = {
    val bySqrt = math.max(1L, math.sqrt(size.toDouble).toLong)
    math.max(1L, math.min(bySqrt, size / 100L)).min(Int.MaxValue.toLong).toInt
  }

  /** Training sample size: min(size, 100·partitions)
    * (reference: ingestion.py:3187-3193). */
  def autoTrainingSize(size: Long, partitions: Int): Int =
    math.min(size, 100L * partitions).toInt

  /** Deterministic seeded training sample. Deviation from the reference's
    * FIRST_N policy (ingestion.py:34-39): FIRST_N through a `limit()` is a
    * single-task global funnel, and at distributed scale it reads only the
    * head files — a skewed sample. A seeded Bernoulli sample is uniform,
    * stays fully parallel (no GlobalLimit in the plan), and is reproducible
    * for a fixed input layout. Row count is ~sampleSize in expectation; k-
    * means does not need the exact count. */
  def trainingSample(base: DataFrame, sampleSize: Int, totalRows: Long = -1L): DataFrame = {
    val total = if (totalRows >= 0L) totalRows else base.count()
    if (total <= sampleSize) base
    else base.sample(withReplacement = false, sampleSize.toDouble / total, seed = 42L)
  }

  /** Build an index directly from a source URI, autodetecting the format
    * from the extension (reference: ingestion.py:400-421 dispatch;
    * `size` prefix ingestion.py:3168-3171; external-ids source
    * ingestion.py:809-877).
    *
    * @param size             optional prefix: only the first `size` rows (in
    *                         global row order) are ingested. Expressed as a
    *                         `row_id < size` filter — fully parallel, exact
    *                         FIRST_N semantics, no GlobalLimit funnel.
    * @param externalIdsUri   optional ids source (`.u64bin` or parquet with
    *                         (row_id, external_id)); joined positionally on
    *                         row_id. Absent → row ids become external ids
    *                         (the reference's synthesized arange).
    */
  def ingestFromSource(
      spark: SparkSession,
      uri: String,
      sourceUri: String,
      indexType: String,
      metric: DistanceMetric = DistanceMetric.L2,
      dtype: String = "float32",
      timestamp: Long = System.currentTimeMillis(),
      partitions: Option[Int] = None,
      size: Option[Long] = None,
      externalIdsUri: Option[String] = None): VectorIndex = {
    val raw = graft.io.VecsIO.readSource(spark, sourceUri)
    val isParquet = graft.io.VecsIO.detectSourceType(sourceUri) == "PARQUET"
    // The positional external-ids contract (row_id = storage position on
    // both sides) only holds for the binary formats; parquet sources carry
    // their own id values in row_id, where a positional ids file would
    // silently mis-assign.
    require(!(isParquet && externalIdsUri.isDefined),
      "graft: externalIdsUri applies to positional binary sources " +
        "(fvecs/bvecs/*bin); parquet sources carry their own id column")
    // Prefix semantics: binary formats — row_id IS the storage position, a
    // parallel filter is exact FIRST_N. Parquet — scan order is NOT file
    // order (Spark bin-packs splits by size), and row_id holds id VALUES;
    // the deterministic "first n" is the n smallest ids: range-sort by id
    // (parallel), then position-filter the ONE sorted RDD instance
    // (zipWithIndex; its partitioner is fixed once, so this is stable).
    val sized = size match {
      case Some(n) if isParquet =>
        val sortedRaw = raw.orderBy("row_id")
        val schema = sortedRaw.schema
        spark.createDataFrame(
          sortedRaw.rdd.zipWithIndex().filter(_._2 < n).map(_._1), schema)
      case Some(n) => raw.where(col("row_id") < n)
      case None => raw
    }
    val withIds = externalIdsUri match {
      case Some(idsUri) =>
        val ids = graft.io.VecsIO.detectSourceType(idsUri) match {
          case "U64BIN" => graft.io.VecsIO.readU64bin(spark, idsUri)
          case "PARQUET" => spark.read.parquet(idsUri)
            .select(col("row_id").cast("long").as("row_id"),
              col("external_id").cast("long").as("external_id"))
          case other => throw new IllegalArgumentException(
            s"graft: unsupported external-ids format $other")
        }
        sized.join(ids, Seq("row_id"))
          .select(col("external_id"), col("vector"))
      case None =>
        sized.select(col("row_id").as("external_id"), col("vector"))
    }
    // binary sources decode per pass — stage them so the decode runs once
    // (parquet sources re-scan cheaply and skip the staging copy)
    ingest(spark, uri, withIds, indexType, metric,
      dtype = dtype, timestamp = timestamp, partitions = partitions,
      stageInputs = !isParquet)
  }

  /** Build (or append a new version of) an index from `source`
    * (columns: external_id: Long, vector: Array[Float]).
    *
    * @param normalizeDone true when `source` vectors are already normalized
    *                      (consolidation path for COSINE indexes)
    * @param appendMeta    true to append to existing metadata (new version)
    */
  def ingest(
      spark: SparkSession,
      uri: String,
      source: DataFrame,
      indexType: String,
      metric: DistanceMetric = DistanceMetric.L2,
      dtype: String = "float32",
      timestamp: Long = System.currentTimeMillis(),
      partitions: Option[Int] = None,
      trainingSampleSize: Option[Int] = None,
      numSubspaces: Option[Int] = None,
      lBuild: Option[Int] = None, // VAMANA (reference: ingestion.py:60-61)
      rMaxDegree: Option[Int] = None, // VAMANA (reference: ingestion.py:137-141)
      shardReplicas: Option[Int] = None, // VAMANA boundary replication
      trainingSource: Option[DataFrame] = None,
      appendMeta: Boolean = false,
      normalizeDone: Boolean = false,
      presetCentroids: Option[Array[Array[Float]]] = None,
      stageInputs: Boolean = false,
      multiVector: Boolean = false): VectorIndex = {

    graft.functions.Simd.syncOnce(spark) // no-op unless spark.graft.simd is set
    val prior: Option[IndexMeta] =
      if (appendMeta && IndexMeta.exists(uri)) Some(IndexMeta.read(uri)) else None
    prior.foreach { m =>
      require(m.ingestionTimestamps.forall(_ < timestamp),
        s"ingestion timestamp $timestamp must exceed prior ${m.ingestionTimestamps}")
    }

    val base0 = source.select(
      col("external_id").cast("long").as("external_id"),
      col("vector").cast("array<float>").as("vector"))
    // COSINE rides on normalized vectors + L2 kernels for IVF
    // (reference: ivf_flat_index.py:254-255, ingestion.py:2616-2663).
    // (BINARY stores raw like FLAT: dist_cosine runs directly at re-rank,
    // and coordinate SIGNS are normalization-invariant anyway)
    val normalize = metric == DistanceMetric.Cosine &&
      indexType != "FLAT" && indexType != "BINARY" && !normalizeDone
    val base1 = if (normalize) {
      base0.select(col("external_id"), vector_normalize(col("vector")).as("vector"))
    } else base0

    // Ingestion makes several passes over the source (count, dims, training
    // sample, assignment + write). A plain scan re-reads cheaply, but a
    // derived source (chunk + embed, binary decode) would re-COMPUTE per
    // pass — stageInputs writes the normalized input once and every later
    // pass reads the staged parquet (the reference stages the same way:
    // write_input_vectors, ingestion.py:1035-1140).
    // FLAT/BINARY float bases store EXACTLY the normalized input columns
    // (external_id, vector) — staging to input_vectors and then copying the
    // identical rows into base/v=<ts> was a redundant full write + read per
    // staged create (every object-layer FLAT index paid it). Stage straight
    // into the version directory instead; the version stays invisible until
    // the IndexMeta commit below, so a failed write leaves no readable
    // version (same recovery story as the old staged dir). Byte dtypes
    // still stage separately (their stored base is packed, not the input).
    val stageDirectToBase = stageInputs && dtype == "float32" &&
      (indexType == "FLAT" || indexType == "BINARY")

    // dims + count probe: rather than a standalone aggregate job, the probe
    // rides a write wherever one happens anyway, as an observed aggregate
    // (Dataset.observe — the metrics accumulate DURING the write job):
    //   - staged ingests observe the staging write,
    //   - non-staged FLAT/BINARY observe the base write inside the match
    //     (deferred resolution — they only need dims/count for the meta
    //     record written at the end),
    //   - only non-staged IVF/PQ/VAMANA keep the upfront aggregate (they
    //     need `count` BEFORE training for partition/sample sizing).
    // max(size) ≡ the old first(size) under the engine's uniform-dims
    // contract (downstream dimension checks name any violation); an empty
    // or all-null input leaves the metric null and fails with the same
    // named error as before.
    // process-unique name: Observation listeners match on the metric name,
    // and concurrent ingests (parallel test suites; threaded maintenance)
    // routinely share timestamps — a shared name could deliver another
    // query's metrics
    val obs = org.apache.spark.sql.Observation(
      s"graft_ingest_${Ingest.obsSeq.incrementAndGet()}")
    def withProbe(df: DataFrame): DataFrame =
      df.observe(obs, max(size(col("vector"))).as("d"),
        org.apache.spark.sql.functions.count(lit(1)).as("n"))
    def obsDimsCount(): (Int, Long) = {
      val m = obs.get
      require(m("d") != null,
        "graft: ingest source has no vectors (empty or all-null input)")
      (m("d").asInstanceOf[Int], m("n").asInstanceOf[Long])
    }

    val base = if (stageDirectToBase) {
      // still reclaim any staged leftovers an older failed attempt left
      Storage.deleteRecursively(s"$uri/input_vectors")
      withProbe(base1).write.mode("overwrite").parquet(s"$uri/base/v=$timestamp")
      spark.read.parquet(s"$uri/base/v=$timestamp")
    } else if (stageInputs) {
      // pre-clean leftovers from previously FAILED staged ingests at this
      // uri (an abandoned attempt cannot delete its own copy mid-exception;
      // the next attempt reclaims the space before writing its own)
      Storage.deleteRecursively(s"$uri/input_vectors")
      withProbe(base1).write.mode("overwrite")
        .parquet(s"$uri/input_vectors/v=$timestamp")
      spark.read.parquet(s"$uri/input_vectors/v=$timestamp")
    } else base1

    val flatLike = indexType == "FLAT" || indexType == "BINARY"
    // -1 sentinels = deferred to the observed base write inside the match
    val (dims, count): (Int, Long) =
      if (stageInputs) obsDimsCount()
      else if (flatLike) (-1, -1L)
      else {
        val probe = base.agg(
          first(size(col("vector")), ignoreNulls = true).as("d"),
          org.apache.spark.sql.functions.count(lit(1)).as("n")).head()
        require(!probe.isNullAt(0),
          "graft: ingest source has no vectors (empty or all-null input)")
        (probe.getInt(0), probe.getLong(1))
      }

    // Preset centroids PIN the partition count: the assignment uses them
    // verbatim, so the recorded layout must match their length — the
    // reference makes the same partitions-match check on copy_centroids_uri
    // (index.py:503-577). A contradictory explicit `partitions` is an error,
    // not something to silently record.
    presetCentroids.foreach { c =>
      require(partitions.forall(_ == c.length),
        s"graft: partitions=${partitions.get} contradicts ${c.length} preset centroids")
    }
    val numParts: Int = indexType match {
      case "FLAT" | "BINARY" => 0
      case _ => presetCentroids.map(_.length)
        .getOrElse(partitions.getOrElse(autoPartitions(count)))
    }

    require(dtype == "float32" || dtype == "uint8" || dtype == "int8",
      s"unsupported dtype $dtype (float32 / uint8 / int8)")
    val byteDtype = dtype != "float32"
    // COSINE on non-FLAT indexes stores NORMALIZED vectors (unit floats are
    // not byte-representable); FLAT cosine works asymmetrically via
    // U8CosineDistance with raw bytes.
    require(!byteDtype || metric != DistanceMetric.Cosine || indexType == "FLAT",
      s"dtype $dtype + COSINE requires FLAT (normalize-at-ingest is float-only)")

    /** Byte-packed storage: one byte per dim, 4x denser on disk and in
      * shuffle (reference stores u8/i8 natively for every index type,
      * flat_index.py:195-197, ivf_flat_index.py:555-573). Training,
      * partition assignment, and PQ encoding all run on the float view;
      * only the stored `vector` column is packed. */
    def packVector(df: DataFrame): DataFrame =
      if (byteDtype)
        df.withColumn("vector",
          toColumn(graft.functions.PackBytes(toExpression(col("vector")),
            signed = dtype == "int8")))
      else df

    var mSubspaces = 0
    var vamanaLBuild = 0
    var vamanaRMaxDegree = 0
    var vamanaShardReplicas = 1
    // partitionHistory records the EFFECTIVE layout unit: IVF partition
    // count, or VAMANA shard count (which has its own auto rule)
    var recordedParts = numParts
    indexType match {
      case "FLAT" =>
        // withProbe BEFORE packVector: dims must measure the float view,
        // not the packed byte payload
        if (!stageDirectToBase)
          packVector(if (stageInputs) base else withProbe(base))
            .write.mode("overwrite").parquet(s"$uri/base/v=$timestamp")
      case "BINARY" =>
        // 1-bit sign-sketch index: base stored like FLAT (raw floats, the
        // exact re-rank side) plus a versioned (external_id, bits) sketch
        // the candidate stage scans at 1 bit/dim. Magnitude-blind, so
        // INNER_PRODUCT cannot be ordered by it; byte dtypes are rejected
        // because u8 coordinates are all non-negative (a degenerate
        // sketch) and i8 packing would hide the float view the sketch
        // derives from.
        require(metric != DistanceMetric.InnerProduct,
          "BINARY sign sketches cannot order INNER_PRODUCT (magnitude-blind); use FLAT")
        require(!byteDtype,
          s"BINARY requires dtype float32, got $dtype (u8/i8 signs are degenerate)")
        if (!stageDirectToBase)
          (if (stageInputs) base else withProbe(base))
            .write.mode("overwrite").parquet(s"$uri/base/v=$timestamp")
        base.select(col("external_id"),
            graft.functions.sign_pack(col("vector")).as("bits"))
          .write.mode("overwrite").parquet(s"$uri/sketch/v=$timestamp")
      case "IVF_FLAT" | "IVF_SQ8" | "IVF_PQ" =>
        // copy-centroids reuse on consolidation (reference: index.py:503-577
        // `copy_centroids_uri` + partitions check) skips re-training; a
        // separate training source mirrors the reference's
        // training_source_uri (ingestion.py:42 params).
        def ivfCentroids(): Array[Array[Float]] = presetCentroids.getOrElse {
          val trainDf = trainingSource.map(_.select(
            col("vector").cast("array<float>").as("vector"))).getOrElse(base)
          trainCentroids(trainDf, numParts,
            trainingSampleSize.getOrElse(autoTrainingSize(count, numParts)),
            totalRows = if (trainingSource.isEmpty) count else -1L)
        }
        // per codec: the coarse centroids, plus the code columns stored
        // beside each vector (their trained parameters written here)
        val (centroids, codeCols): (Array[Array[Float]], Seq[(String, Column)]) =
          indexType match {
            case "IVF_FLAT" => (ivfCentroids(), Nil)
            case "IVF_SQ8" =>
              // Scalar-quantized IVF: a one-byte-per-dim `sq` codes column
              // stored BESIDE the raw vectors in the same parquet — parquet
              // is columnar, so the candidate scan reads only (external_id,
              // sq) at 1 byte/dim (4x less IO than floats) while the exact
              // re-rank fetches the float column for candidate rows only.
              // The reference's lossy-scan story is IVF_PQ
              // (src/include/index/ivf_pq_index.h); SQ8 is the
              // higher-fidelity 1-byte/dim point on the same
              // candidate-then-re-rank curve.
              require(metric != DistanceMetric.InnerProduct,
                "IVF_SQ8 supports SOS/L2/COSINE (per-dim affine codes cannot " +
                  "order INNER_PRODUCT against the trained range); use FLAT/IVF_FLAT")
              require(!byteDtype,
                s"IVF_SQ8 requires dtype float32, got $dtype (byte inputs are " +
                  "already 1 byte/dim — quantization buys nothing)")
              val sqCentroids = ivfCentroids()
              // per-dim (min, max) over the FULL base in ONE pass: the
              // posexplode rows never shuffle — partial aggregation reduces
              // each task to `dims` keys before the exchange, so the driver
              // collects dims rows. Unlike the coarse centroids (trainable
              // on `trainingSource`), the quantizer range is DELIBERATELY
              // computed over the base itself: a range must cover the
              // stored vectors (a training-sample range would clip every
              // base value outside it), and the one-pass min/max costs a
              // scan the ingest already pays. The exact range is
              // single-outlier-sensitive — one extreme value per dim
              // stretches scale_d and coarsens resolution for every other
              // vector — so `spark.graft.sq8RangeQuantile` (q in (0.5, 1.0],
              // default 1.0 = exact) optionally clips to the [1-q, q]
              // per-dim quantiles; out-of-range values saturate at code
              // 0/255 ([[graft.functions.Sq8Encode]] clamps), trading their
              // accuracy for finer codes everywhere else.
              val rangeQ = graft.Conf.double(spark, Ingest.Sq8RangeQuantileKey, 1.0)
              require(rangeQ > 0.5 && rangeQ <= 1.0,
                s"graft: ${Ingest.Sq8RangeQuantileKey} must be in (0.5, 1.0], got $rangeQ")
              val dimStats = base.select(posexplode(col("vector")).as(Seq("dim", "x")))
              val ranges = (if (rangeQ >= 1.0)
                dimStats.groupBy("dim").agg(
                  min("x").cast("float").as("lo"), max("x").cast("float").as("hi"))
              else
                dimStats.groupBy("dim").agg(
                  percentile_approx(col("x"), lit(1.0 - rangeQ), lit(10000))
                    .cast("float").as("lo"),
                  percentile_approx(col("x"), lit(rangeQ), lit(10000))
                    .cast("float").as("hi")))
                .collect().map(r => (r.getInt(0), r.getFloat(1), r.getFloat(2)))
                .sortBy(_._1)
              val sqMins = ranges.map(_._2)
              val sqScales = ranges.map { case (_, lo, hi) => (hi - lo) / 255.0f }
              writeSqParams(spark, uri, timestamp, sqMins, sqScales)
              (sqCentroids, Seq("sq" -> toColumn(graft.functions.Sq8Encode(
                toExpression(col("vector")), sqMins, sqScales))))
            case _ =>
              // IVF_PQ. Reference default num_subspaces = dims/4 in its test
              // config (test_ingestion.py:219-274); codebooks are
              // per-subspace k-means with 256 codes (bits=8),
              // ivf_pq_index.h:555-608.
              mSubspaces = numSubspaces.getOrElse(math.max(1, dims / 4))
              require(dims % mSubspaces == 0,
                s"num_subspaces $mSubspaces must divide dimensions $dims")
              require(metric == DistanceMetric.SumOfSquares || metric == DistanceMetric.L2,
                "IVF_PQ supports SUM_OF_SQUARES / L2 only (reference ivf_pq_index.py:212-218)")
              val sampleSize = trainingSampleSize.getOrElse(autoTrainingSize(count, numParts))
              // one sample feeds centroid training AND all m PQ sub-fits (m+1
              // independent k-means over the same small frame). Under the
              // local-training gate the sample is collected ONCE and all fits
              // run on the driver (see LocalKMeans — the reference's
              // centralised-training mode); past the gate, one cached frame
              // feeds concurrent MLlib fits. Preset centroids skip their fit;
              // the codebooks always retrain on the (merged) base.
              val trainSample = trainingSample(base, sampleSize, count).select("vector")
              import scala.concurrent.{Await, Future}
              import scala.concurrent.ExecutionContext.Implicits.global
              import scala.concurrent.duration.Duration
              val (pqCentroids, codebooks) = collectIfSmall(trainSample) match {
                case Some(pts) =>
                  val centF = Future(
                    presetCentroids.getOrElse(trainCentroidsLocal(pts, numParts)))
                  val cbF = Future(trainPqCodebooksLocal(pts, mSubspaces, dims / mSubspaces))
                  (Await.result(centF, Duration.Inf), Await.result(cbF, Duration.Inf))
                case None =>
                  val cached = trainSample.cache()
                  try {
                    val centF = Future(
                      presetCentroids.getOrElse(trainCentroidsDistributed(cached, numParts)))
                    val cbF = Future(
                      trainPqCodebooksDistributed(cached, mSubspaces, dims / mSubspaces))
                    (Await.result(centF, Duration.Inf), Await.result(cbF, Duration.Inf))
                  } finally cached.unpersist()
              }
              writePqCodebooks(spark, uri, timestamp, codebooks)
              val flatCb = flattenCodebooks(codebooks, dims / mSubspaces)
              (pqCentroids, Seq("codes" -> toColumn(PqEncode(toExpression(col("vector")),
                flatCb, mSubspaces, codebooks(0).length, dims / mSubspaces))))
          }
        writeCentroids(spark, uri, timestamp, centroids)
        val assigned = codeCols.foldLeft(base.withColumn("partition_id",
            toColumn(NearestCentroid(toExpression(col("vector")), centroids)))) {
          case (df, (name, code)) => df.withColumn(name, code)
        }
        clusterForWrite(packVector(assigned), "partition_id", numParts)
          .write.mode("overwrite")
          .partitionBy("partition_id")
          .parquet(s"$uri/base/v=$timestamp")
      case "VAMANA" =>
        // Reference builds Vamana in ONE DAG node (ingest_vamana,
        // ingestion.py:2572-2595) because per-point inserts mutate the
        // shared graph. Scale path: k-means SHARDS, each shard's graph
        // built independently inside one executor task (partitions=1 =
        // exact reference behavior; >1 = distributed build + merged
        // search). `partitions` doubles as the shard count.
        require(metric != DistanceMetric.InnerProduct,
          "VAMANA supports SOS/L2/COSINE (reference vamana_index.py:173-180)")
        // graph nodes (adjacency rows, medoids, consolidation arithmetic)
        // are keyed by external_id — several vectors under one id would
        // collide in the per-shard graph; route multi-vector layouts to
        // FLAT / IVF_FLAT / IVF_PQ / BINARY instead
        require(!multiVector,
          "VAMANA keys graph nodes by external_id; multi-vector layouts " +
            "need FLAT/IVF_FLAT/IVF_PQ/BINARY")
        import spark.implicits._
        // default: auto-shard by size so large builds never serialize into
        // one executor task (partitions=Some(1) = exact reference behavior)
        val numShards = partitions.getOrElse(
          VamanaIndex.autoShards(count, spark.sparkContext.defaultParallelism))
        recordedParts = numShards
        // Boundary replication (SPANN-style closure assignment,
        // "SPANN: Highly-efficient Billion-scale ANN" NeurIPS'21 §3.2): each
        // vector is built into its `reps` nearest shards, so shard-ROUTED
        // queries (VamanaIndex.nprobeShards) find boundary neighbors in
        // whichever adjacent shard the query probes. reps=1 keeps disjoint
        // shards (exact all-shard merge unchanged); storage and build cost
        // scale linearly with reps.
        val reps = math.max(1, math.min(shardReplicas.getOrElse(1), numShards))
        vamanaShardReplicas = if (numShards > 1) reps else 1
        val sharded = if (numShards > 1) {
          val shardCentroids = trainCentroids(base, numShards,
            trainingSampleSize.getOrElse(autoTrainingSize(count, numShards)),
            totalRows = count)
          writeCentroids(spark, uri, timestamp, shardCentroids) // shard map
          if (reps > 1)
            base.withColumn("shard_id",
              explode(toColumn(graft.functions.NearestCentroids(
                toExpression(col("vector")), shardCentroids, reps))))
          else base.withColumn("shard_id",
            toColumn(NearestCentroid(toExpression(col("vector")), shardCentroids)))
        } else base.withColumn("shard_id", lit(0))
        // graph build consumes the float view; only stored base is packed.
        // `imported=false` marks residents: the boundary exchange appends
        // search-only portal copies as imported=true, and logical-base
        // readers (SQL view registration, consolidation) filter on the flag
        // instead of paying a replica-dedup pass over the portal rows too.
        clusterForWrite(packVector(sharded).withColumn("imported", lit(false)),
            "shard_id", numShards)
          .write.mode("overwrite").partitionBy("shard_id")
          .parquet(s"$uri/base/v=$timestamp")
        val lb = lBuild.getOrElse(VamanaIndex.DefaultLBuild)
        val rd = rMaxDegree.getOrElse(VamanaIndex.DefaultRMaxDegree)
        vamanaLBuild = lb
        vamanaRMaxDegree = rd
        // one task per shard + id-sorted insertion order (see
        // VamanaKernels.buildShardGraphs — the byte-sized AQE coalesce was
        // serializing the CPU-heavy kernels onto 1-2 tasks)
        val g = VamanaKernels.buildShardGraphs(
          sharded.select(col("shard_id"), col("external_id"), col("vector")),
          numShards, lb, rd)
        // boundary-replicated builds get the cross-shard neighbor
        // exchange: each replicated point's per-shard edges are re-pruned
        // from the union across its copies, with foreign endpoints
        // imported as search-only portal rows
        // ([[VamanaIndex.exchangeBoundaryEdges]])
        if (vamanaShardReplicas > 1) {
          // materialize BOTH exchange inputs before the exchange's joins:
          // the written base (else the k-means assignment lineage
          // recomputes over the corpus per join) and the built graph
          // (else the expensive flatMapGroups Vamana build re-runs for
          // every plan that references `g` — measured ~2× build time).
          // The graph goes to a staging dir first; the exchange output
          // then overwrites the final location.
          val gTmp = s"$uri/graph_build_tmp_$timestamp"
          g.write.mode("overwrite").partitionBy("shard_id").parquet(gTmp)
          val gWritten = spark.read.parquet(gTmp)
            .select("external_id", "neighbors", "is_medoid", "shard_id")
          val written = spark.read.parquet(s"$uri/base/v=$timestamp")
            .select("external_id", "vector", "shard_id")
          val writtenFloat =
            if (dtype == "uint8" || dtype == "int8")
              written.withColumn("vector",
                toColumn(graft.functions.UnpackBytes(toExpression(col("vector")),
                  signed = dtype == "int8")))
            else written
          val (gx, portalBase) =
            VamanaIndex.exchangeBoundaryEdges(spark, writtenFloat, gWritten, rd)
          gx.write.mode("overwrite").partitionBy("shard_id")
            .parquet(s"$uri/graph/v=$timestamp")
          packVector(portalBase).withColumn("imported", lit(true))
            .write.mode("append").partitionBy("shard_id")
            .parquet(s"$uri/base/v=$timestamp")
          Storage.deleteRecursively(gTmp)
        } else {
          g.write.mode("overwrite").partitionBy("shard_id")
            .parquet(s"$uri/graph/v=$timestamp")
        }
      case other =>
        throw new IllegalArgumentException(s"unsupported index_type $other")
    }

    // resolve the deferred (observed) probe for non-staged FLAT/BINARY —
    // the base write above populated it
    val (dimsF, countF): (Int, Long) =
      if (dims >= 0) (dims, count) else obsDimsCount()

    val meta = IndexMeta(
      indexType = indexType,
      dtype = dtype,
      dimensions = dimsF,
      distanceMetric = metric.id,
      storageVersion = IndexMeta.StorageVersion,
      ingestionTimestamps = prior.map(_.ingestionTimestamps).getOrElse(Nil) :+ timestamp,
      baseSizes = prior.map(_.baseSizes).getOrElse(Nil) :+ countF,
      partitionHistory = prior.map(_.partitionHistory).getOrElse(Nil) :+ recordedParts,
      hasUpdates = prior.exists(_.hasUpdates),
      numSubspaces = mSubspaces,
      lBuild = vamanaLBuild,
      rMaxDegree = vamanaRMaxDegree,
      shardReplicas = vamanaShardReplicas,
      boundaryExchanged = vamanaShardReplicas > 1,
      // sticky across appends/consolidation: once a version held
      // multi-vector rows, the layout contract is multi-vector
      multiVector = multiVector || prior.exists(_.multiVector),
      // a previously-calibrated re-rank knee carries across appends (the
      // corpus density it measured barely moves under incremental folds);
      // auto-calibration below re-measures when enabled
      pqKFactor = prior.map(_.pqKFactor).getOrElse(0f))
    IndexMeta.write(uri, meta)
    // staging copy served its purpose once the partitioned base is written
    if (stageInputs)
      Storage.deleteRecursively(s"$uri/input_vectors/v=$timestamp")
    // Opt-in density-aware k_factor calibration for the lossy-code types
    // ([[KFactorCalibration]] — the measured knee becomes the query
    // default in meta, |grid|+1 small-batch probes of the fresh index)
    if (graft.Conf.bool(spark, Ingest.AutoKFactorKey, default = false)) {
      VectorIndex.open(spark, uri) match {
        case lossy: IvfRerankIndex => lossy.calibrateKFactor()
        case _ => () // FLAT/BINARY/IVF_FLAT/VAMANA-float re-rank exactly
      }
    }
    // Open at latest (not at `timestamp`) so subsequently-appended updates
    // are visible through the returned handle, matching the reference's
    // `return index.open(...)` at current time (ingestion.py:3418).
    VectorIndex.open(spark, uri)
  }

  /** K-means training via MLlib (reference trains centrally with sklearn or
    * distributes 5 Lloyd iterations by hand, ingestion.py:1343-1580; MLlib's
    * k-means|| + distributed Lloyd is the same partial/final aggregation
    * pattern, built in). Seeded sampling keeps builds deterministic. */
  def trainCentroids(base: DataFrame, k: Int, sampleSize: Int,
      totalRows: Long = -1L): Array[Array[Float]] =
    trainCentroidsOnSample(trainingSample(base, sampleSize, totalRows), k)

  /** As [[trainCentroids]] but over an already-sampled frame (the IVF_PQ
    * build shares one materialized sample between centroid and codebook
    * training). Dispatches central vs distributed training on sample bytes,
    * mirroring the reference's training-mode dispatch (ingestion.py:1343-1365
    * centralised sklearn fit when the sample fits in memory, hand-distributed
    * Lloyd iterations otherwise). */
  def trainCentroidsOnSample(sampleDf: DataFrame, k: Int): Array[Array[Float]] =
    collectIfSmall(sampleDf) match {
      case Some(pts) => trainCentroidsLocal(pts, k)
      case None => trainCentroidsDistributed(sampleDf, k)
    }

  /** Driver-local fit over the collected sample (the under-gate path): one
    * multithreaded LocalKMeans run instead of dozens of MLlib scheduler
    * rounds — the fits do the same arithmetic, but per-job overhead dominated
    * index builds when samples are thousands of rows. */
  def trainCentroidsLocal(pts: Array[Array[Float]], k: Int): Array[Array[Float]] =
    fixupCentroidsLocal(LocalKMeans.fit(pts, k, seed = 42L), k, pts)

  /** MLlib distributed fit — the over-gate path for samples too large to
    * collect (its treeAggregate IS the reference's partial+final distributed
    * k-means, ingestion.py:1447-1580). */
  def trainCentroidsDistributed(sampleDf: DataFrame, k: Int): Array[Array[Float]] = {
    val sample = sampleDf.select(array_to_vector(col("vector")).as("features"))
      .cache()
    try {
      val n = sample.count()
      val kEff = math.min(k.toLong, n).toInt
      val model = new KMeans()
        .setK(kEff)
        .setSeed(42L)
        // the reference's distributed training runs 5 Lloyd iterations
        // (ingestion.py:1447-1580); k-means|| init makes more unnecessary
        .setMaxIter(5)
        .setFeaturesCol("features")
        .fit(sample)
      val centers = model.clusterCenters.map(v => v.toArray.map(_.toFloat))
      fixupCentroids(centers, k, sampleDf)
    } finally { sample.unpersist() }
  }

  /** Collect the training sample to the driver when it is under
    * `spark.graft.maxLocalTrainBytes` (default 256 MB). Returns None past the
    * gate — callers fall back to distributed training, so driver memory stays
    * bounded no matter the corpus size. */
  private[index] def collectIfSmall(sampleDf: DataFrame): Option[Array[Array[Float]]] = {
    val cap = graft.Conf.long(sampleDf.sparkSession,
      "spark.graft.maxLocalTrainBytes", 256L << 20)
    // cache before the size probe: the probe + collect are two actions, and
    // an uncached derived sample (binary decode, chunk+embed) would run its
    // whole lineage twice
    val df = sampleDf.select(col("vector").cast("array<float>").as("vector")).cache()
    try {
      val stat = df.agg(count(lit(1)).as("n"), min(size(col("vector"))).as("d")).head()
      val n = stat.getLong(0)
      val dims = if (stat.isNullAt(1)) 0 else stat.getInt(1)
      if (n * dims.toLong * 4L > cap) None
      else Some(df.collect().map(_.getSeq[Float](0).toArray))
    } finally df.unpersist()
  }

  /** The reference guarantees exactly `partitions` centroids, re-seeding
    * near-empty slots from the points that score worst against their
    * assigned centroid (index/kmeans.h:229-360 `train_no_init` reassignment).
    * MLlib can return fewer (or duplicate) centers on degenerate data; this
    * post-fit pass restores the invariant:
    *   1. drop exact-duplicate fitted centers,
    *   2. backfill missing slots from the sample points farthest from their
    *      nearest centroid (a distributed TakeOrdered — the Spark shape of
    *      the reference's `high_scores` heap),
    *   3. if the data itself has fewer than k distinct points, break the
    *      residual ties with a deterministic relative epsilon so callers
    *      still see k distinct centroids (partition accounting invariant).
    */
  private def fixupCentroids(fitted: Array[Array[Float]], k: Int,
      pts: DataFrame): Array[Array[Float]] = {
    val out = scala.collection.mutable.ArrayBuffer[Array[Float]]()
    val seen = scala.collection.mutable.HashSet[Seq[Float]]()
    fitted.foreach { c => if (seen.add(c.toSeq)) out += c }
    if (out.length >= k || out.isEmpty) return out.take(k).toArray
    val spark = pts.sparkSession
    import spark.implicits._
    val cents = out.toArray
    val need = k - out.length
    val cdf = cents.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("__pid", "__centroid")
      .select(col("__pid"), col("__centroid").cast("array<float>").as("__centroid"))
    val candidates = pts.select(col("vector").cast("array<float>").as("vector"))
      .withColumn("__pid", toColumn(NearestCentroid(toExpression(col("vector")), cents)))
      .join(broadcast(cdf), "__pid")
      .select(col("vector"), graft.functions.dist_sos(col("vector"), col("__centroid")).as("__d"))
      .orderBy(col("__d").desc) // + limit = TakeOrdered, no global sort
      .limit(need * 4 + 4)
      .collect()
      .map(_.getSeq[Float](0).toArray)
    candidates.foreach { c =>
      if (out.length < k && seen.add(c.toSeq)) out += c
    }
    jitterFill(out, seen, k)
  }

  /** Local-sample twin of [[fixupCentroids]]: same dedupe → farthest-point
    * backfill → deterministic-epsilon tie-break, computed on the collected
    * sample with no Spark jobs (the local-training path). Backfill order is
    * deterministic: distance descending, ties by sample index. */
  private def fixupCentroidsLocal(fitted: Array[Array[Float]], k: Int,
      pts: Array[Array[Float]]): Array[Array[Float]] = {
    val out = scala.collection.mutable.ArrayBuffer[Array[Float]]()
    val seen = scala.collection.mutable.HashSet[Seq[Float]]()
    fitted.foreach { c => if (seen.add(c.toSeq)) out += c }
    if (out.length >= k || out.isEmpty) return out.take(k).toArray
    val cents = out.toArray
    val need = k - out.length
    val scored = pts.zipWithIndex.map { case (p, i) =>
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        var s = 0.0; var d = 0
        while (d < p.length) { val x = p(d) - cents(c)(d); s += x * x; d += 1 }
        if (s < bestD) bestD = s
        c += 1
      }
      (bestD, i)
    }
    scored.sortBy { case (d, i) => (-d, i) }.take(need * 4 + 4).foreach { case (_, i) =>
      if (out.length < k && seen.add(pts(i).toSeq)) out += pts(i).clone()
    }
    jitterFill(out, seen, k)
  }

  /** If the data itself has fewer than k distinct points, break residual
    * ties with a deterministic relative epsilon so callers still see k
    * distinct centroids (partition accounting invariant). */
  private def jitterFill(out: scala.collection.mutable.ArrayBuffer[Array[Float]],
      seen: scala.collection.mutable.HashSet[Seq[Float]], k: Int): Array[Array[Float]] = {
    val baseCenter = out.head
    var j = 0
    // bounded: NaN/infinite coordinates would make every jittered candidate
    // compare equal (boxed NaN == NaN) and spin forever — fail loudly instead
    val maxAttempts = math.max(16, 8 * k.toLong * baseCenter.length)
    while (out.length < k && j < maxAttempts) {
      val c = baseCenter.clone()
      val d = j % c.length
      val scale = (j / c.length + 1).toFloat
      c(d) = c(d) + math.max(1e-4f, math.abs(c(d)) * 1e-4f) * scale
      if (seen.add(c.toSeq)) out += c
      j += 1
    }
    require(out.length == k,
      s"graft: centroid fixup could not synthesize $k distinct centroids " +
        s"(got ${out.length}) — training data likely contains NaN/Inf vectors")
    out.toArray
  }

  /** Per-subspace PQ codebook training: `m` MLlib k-means fits over the
    * vector slices (reference trains sub_kmeans per subspace,
    * ivf_pq_index.h:555-608). Returns codebooks(subspace)(code) = centroid. */
  def trainPqCodebooks(base: DataFrame, m: Int, subDim: Int, sampleSize: Int,
      totalRows: Long = -1L): Array[Array[Array[Float]]] =
    trainPqCodebooksOnSample(trainingSample(base, sampleSize, totalRows), m, subDim)

  /** As [[trainPqCodebooks]] but over an already-sampled frame. Same
    * central-vs-distributed dispatch as [[trainCentroidsOnSample]]. */
  def trainPqCodebooksOnSample(sampleDf: DataFrame, m: Int, subDim: Int)
      : Array[Array[Array[Float]]] =
    collectIfSmall(sampleDf) match {
      case Some(pts) => trainPqCodebooksLocal(pts, m, subDim)
      case None => trainPqCodebooksDistributed(sampleDf, m, subDim)
    }

  /** Driver-local PQ codebook training: m seeded sub-fits over in-memory
    * slices of the one collected sample (reference trains sub_kmeans per
    * subspace, ivf_pq_index.h:555-608). The m fits run concurrently; each is
    * itself chunk-parallel inside LocalKMeans. */
  def trainPqCodebooksLocal(pts: Array[Array[Float]], m: Int, subDim: Int)
      : Array[Array[Array[Float]]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val codes = math.min(256, pts.length)
    val futures = (0 until m).map { s =>
      Future {
        val sub = pts.map(p => java.util.Arrays.copyOfRange(p, s * subDim, (s + 1) * subDim))
        LocalKMeans.fit(sub, codes, seed = 42L + s)
      }
    }
    futures.map(f => Await.result(f, Duration.Inf)).toArray
  }

  /** MLlib distributed codebook training — the over-gate path. */
  def trainPqCodebooksDistributed(sampleDf: DataFrame, m: Int, subDim: Int)
      : Array[Array[Array[Float]]] = {
    val sample = sampleDf.select(col("vector")).cache()
    try {
      val n = sample.count()
      val codes = math.min(256L, n).toInt
      // The m sub-fits are independent Spark jobs — run them concurrently
      // (serial fits dominated IVF_PQ build time at bench scale).
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val futures = (0 until m).map { s =>
        Future {
          val sub = sample.select(
            array_to_vector(slice(col("vector"), s * subDim + 1, subDim)).as("features"))
          val model = new KMeans()
            .setK(codes).setSeed(42L + s).setMaxIter(5)
            .setFeaturesCol("features")
            .fit(sub)
          model.clusterCenters.map(_.toArray.map(_.toFloat))
        }
      }
      futures.map(f => Await.result(f, Duration.Inf)).toArray
    } finally { sample.unpersist() }
  }

  def flattenCodebooks(cb: Array[Array[Array[Float]]], subDim: Int): Array[Float] = {
    val m = cb.length
    val codes = cb(0).length
    val out = new Array[Float](m * codes * subDim)
    for (s <- 0 until m; c <- 0 until codes)
      System.arraycopy(cb(s)(c), 0, out, (s * codes + c) * subDim, subDim)
    out
  }

  private[index] def writePqCodebooks(spark: SparkSession, uri: String, ts: Long,
      cb: Array[Array[Array[Float]]]): Unit = {
    import spark.implicits._
    (for (s <- cb.indices; c <- cb(s).indices) yield (s, c, cb(s)(c).toSeq))
      .toDF("subspace", "code", "centroid")
      .select(col("subspace"), col("code"), col("centroid").cast("array<float>").as("centroid"))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$uri/pq_codebooks/v=$ts")
  }

  /** SQ8 quantizer parameters: one row, two dims-length arrays. Versioned
    * like centroids so time travel reopens the matching quantizer. */
  private[index] def writeSqParams(spark: SparkSession, uri: String, ts: Long,
      mins: Array[Float], scales: Array[Float]): Unit = {
    import spark.implicits._
    Seq((mins.toSeq, scales.toSeq)).toDF("mins", "scales")
      .select(col("mins").cast("array<float>").as("mins"),
        col("scales").cast("array<float>").as("scales"))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$uri/sq_params/v=$ts")
  }

  private def writeCentroids(
      spark: SparkSession, uri: String, ts: Long, centroids: Array[Array[Float]]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c) }
      .toSeq.toDF("partition_id", "centroid")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$uri/centroids/v=$ts")
  }
}
