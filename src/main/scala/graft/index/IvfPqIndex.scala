package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{toColumn, toExpression}

import graft.functions.{NearestCentroid, PqAsymmetricDistance}
import graft.operators.{DistanceMetric, Knn}

/** IVF_PQ index (reference: src/include/index/ivf_pq_index.h; Python
  * apis/python/src/tiledb/vector_search/ivf_pq_index.py).
  *
  * Layout = IVF_FLAT plus: `pq_codebooks/v=<ts>` parquet
  * (subspace, code, centroid) and a `codes: array<int>` column beside each
  * stored vector. Query (reference: ivf_pq_index.h:1294-1530):
  *   1. per-query distance TABLES against every sub-centroid, computed on
  *      the driver (nq x m x 256 floats — broadcast-sized by construction;
  *      reference builds them in :1181-1254),
  *   2. nprobe partition pruning identical to IVF_FLAT,
  *   3. candidate scoring = m table lookups per vector (no float math),
  *      keeping k x k_factor candidates,
  *   4. exact re-rank of the candidates against the original vectors
  *      (reference: :1404-1530), final top-k.
  *
  * Only SUM_OF_SQUARES / L2 metrics, like the reference
  * (ivf_pq_index.py:212-218).
  */
class IvfPqIndex(spark: SparkSession, uri: String, meta: IndexMeta, ts: Long)
    extends VectorIndex(spark, uri, meta, ts) {

  lazy val centroids: Array[Array[Float]] =
    if (historyIdx < 0) Array.empty
    else graft.SessionCache.get(spark, s"$uri/centroids/v=$baseTimestamp", "centroids") {
      readVersioned(s"$uri/centroids/v=$baseTimestamp")
        .orderBy("partition_id").collect()
        .map(r => r.getSeq[Float](r.fieldIndex("centroid")).toArray)
    }

  /** codebooks(subspace)(code) = sub-centroid */
  lazy val codebooks: Array[Array[Array[Float]]] =
    if (historyIdx < 0) Array.empty
    else graft.SessionCache.get(spark, s"$uri/pq_codebooks/v=$baseTimestamp", "codebooks") {
      val rows = readVersioned(s"$uri/pq_codebooks/v=$baseTimestamp")
        .orderBy("subspace", "code").collect()
      rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
        rs.sortBy(_.getInt(1)).map(r => r.getSeq[Float](2).toArray).toArray
      }.toArray
    }

  override def baseVectors(): DataFrame =
    if (historyIdx < 0) new FlatIndex(spark, uri, meta, ts).baseVectors()
    else readVersioned(s"$uri/base/v=$baseTimestamp")
      .select("external_id", "vector", "codes", "partition_id")

  /** Serving default for the re-rank pool: the density-calibrated knee
    * when the build measured one ([[calibrateKFactor]] → meta), else the
    * compiled constant. An explicit queryBase(kFactor) always wins. */
  def defaultKFactor: Float =
    if (meta.pqKFactor > 0f) meta.pqKFactor else IvfPqIndex.DefaultKFactor

  override protected def queryBase(queries: DataFrame, k: Int, nprobe0: Int,
      allow: Option[DataFrame]): DataFrame =
    queryBase(queries, k, nprobe0, kFactor = defaultKFactor, allow)

  /** Measure the k_factor knee for THIS corpus and persist it as the
    * query default ([[KFactorCalibration]] — smallest grid step whose
    * top-k matches the saturated-pool result at ≥ 95%): nq held-out base
    * vectors query the index's own serving path (default nprobe) per grid
    * step. Returns the chosen factor; call after ingest (or set
    * `spark.graft.pq.autoKFactor` to run it inside ingest). */
  def calibrateKFactor(k: Int = 100, nq: Int = KFactorCalibration.DefaultNq,
      persist: Boolean = true): Float = {
    require(historyIdx >= 0, "graft: calibrateKFactor needs an ingested base")
    // deterministic held-out batch: the nq smallest ids (self-matches are
    // fine — the knee is about pool size, not absolute recall)
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

  /** @param kFactor candidate inflation before exact re-rank
    *                (reference: ivf_pq_index.py:40-45 `k_factor`). */
  def queryBase(queries: DataFrame, k: Int, nprobe0: Int, kFactor: Float,
      allow: Option[DataFrame] = None): DataFrame = {
    if (historyIdx < 0) {
      return Knn.bruteForce(
        restrictTo(baseVectors().select("external_id", "vector"), allow),
        queries, k, metric, idCol = "external_id", vecCol = "vector")
    }
    val parts = centroids.length
    val m = codebooks.length
    val codesPer = codebooks(0).length
    val subDim = meta.dimensions / m
    val nprobe = if (nprobe0 <= 0) math.min(parts, IvfPqIndex.DefaultNprobe)
      else math.min(nprobe0, parts) // reference default nprobe=100, ivf_pq_index.py:126

    // Fully-distributed probe + per-query distance tables: both are
    // expressions in the plan (reference builds tables in C++ per query,
    // ivf_pq_index.h:1181-1254; here arbitrarily large query batches stay
    // distributed — no driver-side table construction).
    val flatCb = Ingest.flattenCodebooks(codebooks, subDim)
    // localCheckpoint: the pairs plan feeds the partition-count collect AND
    // the scoring join — materializing once pins a nondeterministic query
    // source (sample()/rand()-derived batches would otherwise probe one set
    // of partitions and score another, silently losing candidates) and
    // avoids re-computing a derived query frame per consumer.
    val pairs = queries.select(col("qid"), col("qvec"),
        toColumn(graft.functions.PqDistanceTable(
          toExpression(col("qvec")), flatCb, m, codesPer, subDim)).as("dtable"),
        explode(toColumn(graft.functions.NearestCentroids(
          toExpression(col("qvec")), centroids, nprobe))).as("partition_id"))
      .select("qid", "partition_id", "dtable", "qvec")
      .localCheckpoint()
    val partCounts = pairs.groupBy("partition_id")
      .agg(count(lit(1)).as("cnt")).collect()
    val activeParts = partCounts.map(_.getInt(0)).sorted.toSeq
    val pairsRows = partCounts.map(_.getLong(1)).sum
    // each NearestCentroids row fans out to exactly nprobe pairs
    val nq = math.max(1L, pairsRows / nprobe)

    // allow-list semi-join AFTER partition pruning: both the ADC scoring
    // scan and the exact re-rank read `pruned`, so one restriction covers
    // the whole filtered-query path.
    val pruned = restrictTo(
      baseVectors().where(col("partition_id").isin(activeParts: _*)), allow)
    val baseSize = meta.baseSizes(historyIdx)
    val kCand = math.min(baseSize,
      math.max(k.toLong, math.ceil(k.toDouble * kFactor).toLong)).toInt
    // pairs carry an m×codesPer float distance table per row — by far the
    // heaviest broadcast in the engine; switch to a shuffle join past the
    // size threshold (the reference never materializes tables × partitions).
    val pairsBytes = pairsRows * (24L + 4L * meta.dimensions + 4L * m * codesPer)
    val scored = pruned
      .join(VectorIndex.sizedJoinSide(spark, pairs, pairsBytes), Seq("partition_id"))
      .select(col("qid").as("__qid"), col("external_id").as("__id"),
        toColumn(PqAsymmetricDistance(
          toExpression(col("codes")), toExpression(col("dtable")), codesPer)).as("__score"))
    val candidates = Knn.topKFromScores(scored, kCand, DistanceMetric.SumOfSquares)
      .select(col("qid"), col("id"))

    // Exact re-rank: fetch original vectors for the candidate set from the
    // pruned base; no second full scan. candidates = nq·k·kFactor rows and
    // qvecs = nq rows, so both join sides are size-gated like `pairs` (at
    // nq=10⁶ the candidate set alone is ~10⁸ rows — not broadcastable). Byte
    // dtypes re-rank with the asymmetric float-vs-packed kernels.
    val rerankScore: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column =
      if (meta.dtype == "uint8" || meta.dtype == "int8")
        graft.operators.ByteKnn.score(metric, signed = meta.dtype == "int8")
      else DistanceMetric.score(metric)
    // from the CHECKPOINTED pairs (not `queries`): reads the materialized
    // snapshot instead of re-evaluating the query source a third time, and
    // stays consistent with the probed partitions by construction
    val qvecs = pairs.select("qid", "qvec").dropDuplicates("qid")
    val candBytes = nq * kCand * 24L
    val qvecsBytes = nq * (24L + 4L * meta.dimensions)
    val rescored = pruned
      .join(VectorIndex.sizedJoinSide(spark, candidates, candBytes),
        pruned("external_id") === candidates("id"))
      .join(VectorIndex.sizedJoinSide(spark, qvecs, qvecsBytes), Seq("qid"))
      .select(col("qid").as("__qid"), col("external_id").as("__id"),
        rerankScore(col("vector"), col("qvec")).as("__score"))
    Knn.topKFromScores(rescored, k, metric)
  }
}

object IvfPqIndex {
  val DefaultNprobe = 100 // reference: ivf_pq_index.py:126
  val DefaultKFactor = 2.0f
}
