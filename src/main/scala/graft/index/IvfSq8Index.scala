package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{toColumn, toExpression}

import graft.functions.{Sq8AsymmetricL2, vector_normalize}
import graft.operators.{DistanceMetric, Knn}

/** IVF_SQ8 index: IVF centroid routing ([[IvfFlatIndex]]'s nprobe
  * partition pruning) over per-dimension 8-bit scalar-quantized codes,
  * with exact float re-rank — the 1-byte/dim point between IVF_FLAT
  * (4 bytes/dim, exact scan) and IVF_PQ (m bytes/vector, table lookups).
  *
  * The reference's lossy-scan index is IVF_PQ
  * (src/include/index/ivf_pq_index.h:1294-1530: ADC scoring then
  * `k_factor` exact re-rank); IVF_SQ8 reuses that exact query shape —
  * probe, approximate candidate scan, candidate-bounded exact re-rank —
  * swapping the ADC table functor for the fused asymmetric SQ8 kernel
  * ([[Sq8AsymmetricL2]], codegen'd next to the parquet scan).
  *
  * Layout = IVF_FLAT plus a `sq: binary` codes column beside each stored
  * vector (parquet column pruning makes the candidate scan read codes
  * only) and `sq_params/v=<ts>` (per-dim mins/scales, versioned like
  * centroids so time travel reopens the matching quantizer). Updates,
  * deletes, time travel, range opens, filtered queries, and consolidation
  * ride the shared [[VectorIndex]] machinery; consolidation re-ingests
  * through the IVF_SQ8 path, retraining the quantizer on the merged base.
  *
  * COSINE is served like IVF_FLAT: normalize at ingestion (the quantizer
  * trains on unit vectors), query with L2 kernels, report `sos / 2`.
  */
class IvfSq8Index(spark: SparkSession, uri: String, meta: IndexMeta, ts: Long)
    extends VectorIndex(spark, uri, meta, ts) {

  lazy val centroids: Array[Array[Float]] =
    if (historyIdx < 0) Array.empty
    else graft.SessionCache.get(spark, s"$uri/centroids/v=$baseTimestamp", "centroids") {
      readVersioned(s"$uri/centroids/v=$baseTimestamp")
        .orderBy("partition_id").collect()
        .map(r => r.getSeq[Float](r.fieldIndex("centroid")).toArray)
    }

  /** (mins, scales), each dims long. */
  lazy val sqParams: (Array[Float], Array[Float]) =
    if (historyIdx < 0) (Array.empty, Array.empty)
    else graft.SessionCache.get(spark, s"$uri/sq_params/v=$baseTimestamp", "sq_params") {
      val r = readVersioned(s"$uri/sq_params/v=$baseTimestamp").head()
      (r.getSeq[Float](r.fieldIndex("mins")).toArray,
        r.getSeq[Float](r.fieldIndex("scales")).toArray)
    }

  override def baseVectors(): DataFrame =
    if (historyIdx < 0) new FlatIndex(spark, uri, meta, ts).baseVectors()
    else readVersioned(s"$uri/base/v=$baseTimestamp")
      .select("external_id", "vector", "sq", "partition_id")

  /** COSINE probes/scores on normalized vectors with L2 kernels. */
  private def probeMetric: DistanceMetric = metric match {
    case DistanceMetric.Cosine => DistanceMetric.SumOfSquares
    case m => m
  }

  override protected def queryBase(queries: DataFrame, k: Int, nprobe0: Int,
      allow: Option[DataFrame]): DataFrame =
    // precedence: session conf (explicit user action) > build-time
    // calibrated knee (meta.pqKFactor, [[KFactorCalibration]]) > compiled
    // constant — the conf fallback lets the shared lifecycle paths
    // (updates merge, filtered queries, SQL registration) tune the re-rank
    // budget without a type-specific signature; explicit queryBase(kFactor)
    // still wins over all three
    queryBase(queries, k, nprobe0,
      kFactor = graft.Conf.double(spark, IvfSq8Index.KFactorKey,
        (if (meta.pqKFactor > 0f) meta.pqKFactor
         else IvfSq8Index.DefaultKFactor).toDouble).toFloat,
      allow)

  /** Measure the k_factor knee for THIS corpus and persist it as the
    * query default (the SQ8 twin of [[IvfPqIndex.calibrateKFactor]]; the
    * 10M sweep measured SQ8's knee density-INsensitive at 2 where PQ's
    * moved 4→32, so the expected outcome is a small constant — the
    * calibration certifies that rather than assuming it). */
  def calibrateKFactor(k: Int = 100, nq: Int = KFactorCalibration.DefaultNq,
      persist: Boolean = true): Float = {
    require(historyIdx >= 0, "graft: calibrateKFactor needs an ingested base")
    val qs = baseVectors().select(col("external_id").as("qid"),
        col("vector").as("qvec"))
      .orderBy("qid").limit(nq).localCheckpoint()
    val kEff = math.min(k.toLong, meta.baseSizes(historyIdx)).toInt
    val kf = KFactorCalibration.calibrate(
      g => queryBase(qs, kEff, nprobe0 = 0, kFactor = g, allow = None))
    if (persist) {
      IndexMeta.write(uri, IndexMeta.read(uri).copy(pqKFactor = kf))
      graft.plans.GraftSql.onIndexMutated(spark, uri)
    }
    kf
  }

  /** @param kFactor candidate inflation before exact re-rank (the IVF_PQ
    *                `k_factor` knob, ivf_pq_index.py:40-45 — SQ8 needs far
    *                less inflation than PQ at the same recall because the
    *                approximation error is per-dim rounding, not a
    *                256-cell subspace collapse). */
  def queryBase(queries: DataFrame, k: Int, nprobe0: Int, kFactor: Float,
      allow: Option[DataFrame] = None): DataFrame = {
    if (historyIdx < 0) {
      return Knn.bruteForce(
        restrictTo(baseVectors().select("external_id", "vector"), allow),
        queries, k, metric, idCol = "external_id", vecCol = "vector")
    }
    val parts = centroids.length
    val nprobe = if (nprobe0 <= 0) math.max(1, math.sqrt(parts.toDouble).toInt)
      else math.min(nprobe0, parts)
    val (mins, scales) = sqParams
    val qn = metric match {
      case DistanceMetric.Cosine => queries.select(col("qid"),
        vector_normalize(col("qvec")).as("qvec"))
      case _ => queries
    }
    // Fully-distributed probe, identical to IVF_FLAT: the per-query
    // top-nprobe centroid list is an expression in the plan; only the
    // distinct active partition ids and their counts reach the driver.
    // localCheckpoint pins nondeterministic query sources so the probed
    // and scored partition sets agree.
    val pairs = qn.select(col("qid"), col("qvec"),
        explode(toColumn(graft.functions.NearestCentroids(
          toExpression(col("qvec")), centroids, nprobe))).as("partition_id"))
      .select("qid", "partition_id", "qvec")
      .localCheckpoint()
    val partCounts = pairs.groupBy("partition_id")
      .agg(count(lit(1)).as("cnt")).collect()
    val activeParts = partCounts.map(_.getInt(0)).sorted.toSeq
    val pairsRows = partCounts.map(_.getLong(1)).sum
    val nq = math.max(1L, pairsRows / nprobe)

    val pruned = restrictTo(
      baseVectors().where(col("partition_id").isin(activeParts: _*)), allow)
    val baseSize = meta.baseSizes(historyIdx)
    val kCand = math.min(baseSize,
      math.max(k.toLong, math.ceil(k.toDouble * kFactor).toLong)).toInt
    // candidate scan: codes column only (1 byte/dim), fused asymmetric L2
    val pairsBytes = pairsRows * (24L + 4L * meta.dimensions)
    val scored = pruned.select("external_id", "sq", "partition_id")
      .join(VectorIndex.sizedJoinSide(spark, pairs, pairsBytes), Seq("partition_id"))
      .select(col("qid").as("__qid"), col("external_id").as("__id"),
        toColumn(Sq8AsymmetricL2(
          toExpression(col("sq")), toExpression(col("qvec")),
          mins, scales)).as("__score"))
    val candidates = Knn.topKFromScores(scored, kCand, DistanceMetric.SumOfSquares)
      .select(col("qid"), col("id"))

    // Exact re-rank: fetch original float vectors for candidates only —
    // both join sides size-gated exactly like IVF_PQ's re-rank.
    val qvecs = pairs.select("qid", "qvec").dropDuplicates("qid")
    val candBytes = nq * kCand * 24L
    val qvecsBytes = nq * (24L + 4L * meta.dimensions)
    val rescored = pruned.select("external_id", "vector")
      .join(VectorIndex.sizedJoinSide(spark, candidates, candBytes),
        col("external_id") === candidates("id"))
      .join(VectorIndex.sizedJoinSide(spark, qvecs, qvecsBytes), Seq("qid"))
      .select(col("qid").as("__qid"), col("external_id").as("__id"),
        DistanceMetric.score(probeMetric)(col("vector"), col("qvec")).as("__score"))
    val hits = Knn.topKFromScores(rescored, k, probeMetric)
    metric match {
      case DistanceMetric.Cosine =>
        // normalized-L2 back to cosine distance: d_cos = sos / 2
        hits.withColumn("distance", (col("distance") / 2.0f).cast("float"))
      case _ => hits
    }
  }
}

object IvfSq8Index {
  val DefaultKFactor = 4.0f
  /** Session override for the candidate-inflation factor used by the
    * shared query paths (k · kFactor candidates before exact re-rank). */
  val KFactorKey = "spark.graft.sq8KFactor"
}
