package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{toColumn, toExpression}

import graft.functions.{NearestCentroids, PqAsymmetricDistance, PqDistanceTable,
  Sq8AsymmetricL2, vector_normalize}
import graft.operators.{ByteKnn, DistanceMetric, Knn}

/** The IVF family — IVF_FLAT, IVF_SQ8 and IVF_PQ — on one probe (reference:
  * one generic per-partition kernel over the active-partition worklist,
  * detail/ivf/qv.h:875-1042).
  *
  * Layout: base vectors in Parquet partitioned by `partition_id`, the
  * k-means centroids in `centroids/v=<ts>`, and each codec's columns
  * ([[codeColumns]]) beside `vector` in the same rows. The nprobe centroid
  * pruning becomes a `partition_id IN (...)` predicate that Catalyst turns
  * into physical partition pruning — only the probed partitions' files are
  * read, the Spark equivalent of the CSR-offset probe (reference:
  * detail/ivf/qv.h:99-153).
  *
  * Shared here: the centroids, the probe ([[probe]]), the scan join
  * ([[scan]]), the exact re-rank of the lossy codecs
  * ([[IvfRerankIndex.rerank]]), and in [[search]] the COSINE report and
  * the brute-force fallback of a read that predates the first ingestion. COSINE is served
  * like the reference (ivf_flat_index.py:254-255, ingestion.py:2616-2663):
  * normalize at ingestion, probe and score with L2 kernels, report `sos / 2`.
  *
  * A codec supplies its stored columns, its per-pair [[scanScore]], any
  * per-query columns the score reads ([[queryColumns]]) and the size of a
  * pair row ([[pairBytes]]).
  */
abstract class IvfIndex(spark: SparkSession, uri: String, meta: IndexMeta, ts: Long)
    extends VectorIndex(spark, uri, meta, ts) {
  import IvfIndex.Probe

  lazy val centroids: Array[Array[Float]] =
    if (historyIdx < 0) Array.empty
    else graft.SessionCache.get(spark, s"$uri/centroids/v=$baseTimestamp", "centroids") {
      readVersioned(s"$uri/centroids/v=$baseTimestamp")
        .orderBy("partition_id").collect()
        .map(r => r.getSeq[Float](r.fieldIndex("centroid")).toArray)
    }

  /** Columns the codec stores beside `vector` in every base row. */
  protected def codeColumns: Seq[String]

  /** The scan's ascending score of one base row against one probe pair. */
  protected def scanScore: Column

  /** Per-query columns [[scanScore]] reads beside `qvec`, computed once per
    * query before the probe fans it out to its partitions. */
  protected def queryColumns(qvec: Column): Seq[(String, Column)] = Nil

  /** Estimated bytes of one (query, partition) pair row. */
  protected def pairBytes: Long = 24L + 4L * meta.dimensions

  /** nprobe when the caller passes 0 (reference: ivf_flat_index.py:213-215). */
  protected def defaultNprobe(parts: Int): Int =
    math.max(1, math.sqrt(parts.toDouble).toInt)

  override def baseVectors(): DataFrame =
    if (historyIdx < 0) new FlatIndex(spark, uri, meta, ts).baseVectors()
    else {
      val cols = ("external_id" +: "vector" +: codeColumns) :+ "partition_id"
      readVersioned(s"$uri/base/v=$baseTimestamp").select(cols.head, cols.tail: _*)
    }

  /** COSINE probes and scores on normalized vectors with L2 kernels. */
  protected def scoreMetric: DistanceMetric = metric match {
    case DistanceMetric.Cosine => DistanceMetric.SumOfSquares
    case m => m
  }

  /** Exact distance of a stored vector to a float query; byte dtypes use
    * the asymmetric float-vs-packed kernels. */
  protected def exactScore(vector: Column, qvec: Column): Column =
    if (meta.dtype == "uint8" || meta.dtype == "int8")
      ByteKnn.score(scoreMetric, signed = meta.dtype == "int8")(vector, qvec)
    else DistanceMetric.score(scoreMetric)(vector, qvec)

  /** Fully-distributed probe: the per-query top-nprobe centroid list is an
    * expression in the plan (no driver collect — query batches can be
    * arbitrarily large). Only the distinct ACTIVE partition ids (≤
    * partitions ints) and their counts come back to the driver: the ids
    * drive parquet partition pruning, the summed count sizes the join sides.
    * localCheckpoint: the pairs plan feeds the count collect, the scan join
    * and the re-rank's query vectors — one materialization pins
    * nondeterministic query sources (else the probed and scored partition
    * sets could disagree) and avoids re-computing a derived query frame per
    * consumer. */
  protected def probe(queries: DataFrame, nprobe0: Int,
      allow: Option[DataFrame]): Probe = {
    val parts = centroids.length
    val nprobe = if (nprobe0 <= 0) defaultNprobe(parts) else math.min(nprobe0, parts)
    val qn = metric match {
      case DistanceMetric.Cosine => queries.select(col("qid"),
        vector_normalize(col("qvec")).as("qvec"))
      case _ => queries
    }
    val extra = queryColumns(col("qvec"))
    val pairs = qn.select((Seq(col("qid"), col("qvec")) ++
        extra.map { case (name, c) => c.as(name) } :+
        explode(toColumn(NearestCentroids(
          toExpression(col("qvec")), centroids, nprobe))).as("partition_id")): _*)
      .select((Seq("qid", "partition_id") ++ extra.map(_._1) :+ "qvec").map(col): _*)
      .localCheckpoint()
    val partCounts = pairs.groupBy("partition_id")
      .agg(count(lit(1)).as("cnt")).collect()
    val activeParts = partCounts.map(_.getInt(0)).sorted.toSeq
    // partition_id IN (...) reaches the parquet scan as partition pruning;
    // the allow-list (if any) then semi-joins the surviving rows — pruning
    // still skips unprobed files, the filter only shrinks what is scored.
    val pruned = restrictTo(
      baseVectors().where(col("partition_id").isin(activeParts: _*)), allow)
    Probe(pairs, pruned, partCounts.map(_.getLong(1)).sum, nprobe)
  }

  /** (__qid, __id, __score) of every probed base row; the pairs side
    * switches from broadcast to a shuffle join past the size threshold. */
  protected def scan(p: Probe): DataFrame =
    p.pruned
      .join(VectorIndex.sizedJoinSide(spark, p.pairs, p.pairsRows * pairBytes),
        Seq("partition_id"))
      .select(col("qid").as("__qid"), col("external_id").as("__id"),
        scanScore.as("__score"))

  /** The probe, then `rank`'s top-k of the probed batch, with COSINE
    * distances reported as cosine (`sos / 2`). A read that predates the
    * first ingestion brute-forces the (empty) base instead. */
  protected def search(queries: DataFrame, k: Int, nprobe0: Int,
      allow: Option[DataFrame])(rank: Probe => DataFrame): DataFrame =
    if (historyIdx < 0)
      Knn.bruteForce(restrictTo(baseVectors().select("external_id", "vector"), allow),
        queries, k, metric, idCol = "external_id", vecCol = "vector")
    else {
      val hits = rank(probe(queries, nprobe0, allow))
      if (metric == DistanceMetric.Cosine)
        hits.withColumn("distance", VamanaIndex.reportDistance(metric, col("distance")))
      else hits
    }
}

object IvfIndex {
  /** A probed batch: (qid, partition_id, query columns…, qvec) pair rows,
    * the base restricted to the probed partitions and the allow-list, and
    * the pair count. */
  private[index] final case class Probe(pairs: DataFrame, pruned: DataFrame,
      pairsRows: Long, nprobe: Int) {
    /** Each query fans out to exactly nprobe pairs. */
    def nq: Long = math.max(1L, pairsRows / nprobe)
  }
}

/** The IVF codecs whose scan is approximate (IVF_SQ8, IVF_PQ): the scan
  * keeps k x kFactor candidates and an exact re-rank from the stored float
  * vectors picks the top k (reference: ivf_pq_index.h:1404-1530). */
abstract class IvfRerankIndex(spark: SparkSession, uri: String, meta: IndexMeta, ts: Long)
    extends IvfIndex(spark, uri, meta, ts) {
  import IvfIndex.Probe

  /** The candidate inflation of the default query path: a calibrated knee
    * ([[calibrateKFactor]] → meta) when the build measured one. An explicit
    * queryBase(kFactor) always wins. */
  def defaultKFactor: Float

  override protected def queryBase(queries: DataFrame, k: Int, nprobe0: Int,
      allow: Option[DataFrame]): DataFrame =
    queryBase(queries, k, nprobe0, kFactor = defaultKFactor, allow)

  /** @param kFactor candidate inflation before exact re-rank
    *                (reference: ivf_pq_index.py:40-45 `k_factor`). */
  def queryBase(queries: DataFrame, k: Int, nprobe0: Int, kFactor: Float,
      allow: Option[DataFrame] = None): DataFrame =
    search(queries, k, nprobe0, allow)(rerank(_, k, kFactor))

  /** Measure the k_factor knee for THIS corpus at the default nprobe and
    * persist it as the query default ([[KFactorCalibration]]). Returns the
    * chosen factor; call after ingest (or set `spark.graft.pq.autoKFactor`
    * to run it inside ingest). */
  def calibrateKFactor(k: Int = 100, nq: Int = KFactorCalibration.DefaultNq,
      persist: Boolean = true): Float =
    KFactorCalibration.calibrateIndex(this, "calibrateKFactor", k, nq, persist)(
      (qs, kEff, g) => queryBase(qs, kEff, nprobe0 = 0, kFactor = g))

  /** Exact re-rank: the scan's top k x kFactor candidates get their
    * original vectors from the pruned base — no second full scan.
    * candidates = nq·k·kFactor rows and qvecs = nq rows, so both join sides
    * are size-gated like the pairs (at nq=10⁶ the candidate set alone is
    * ~10⁸ rows — not broadcastable). The query vectors come from the
    * CHECKPOINTED pairs, so they are consistent with the probed partitions
    * by construction. */
  protected def rerank(p: Probe, k: Int, kFactor: Float): DataFrame = {
    val kCand = math.min(meta.baseSizes(historyIdx),
      math.max(k.toLong, math.ceil(k.toDouble * kFactor).toLong)).toInt
    val candidates = Knn.topKFromScores(scan(p), kCand, DistanceMetric.SumOfSquares)
      .select(col("qid"), col("id"))
    val qvecs = p.pairs.select("qid", "qvec").dropDuplicates("qid")
    val rescored = p.pruned
      .join(VectorIndex.sizedJoinSide(spark, candidates, p.nq * kCand * 24L),
        p.pruned("external_id") === candidates("id"))
      .join(VectorIndex.sizedJoinSide(spark, qvecs,
        p.nq * (24L + 4L * meta.dimensions)), Seq("qid"))
      .select(col("qid").as("__qid"), col("external_id").as("__id"),
        exactScore(col("vector"), col("qvec")).as("__score"))
    Knn.topKFromScores(rescored, k, scoreMetric)
  }
}

/** IVF_FLAT (reference: apis/python/src/tiledb/vector_search/
  * ivf_flat_index.py:189-310): the scan is the exact float distance. */
class IvfFlatIndex(spark: SparkSession, uri: String, meta: IndexMeta, ts: Long)
    extends IvfIndex(spark, uri, meta, ts) {

  protected def codeColumns: Seq[String] = Nil

  protected def scanScore: Column = exactScore(col("vector"), col("qvec"))

  override protected def queryBase(queries: DataFrame, k: Int, nprobe0: Int,
      allow: Option[DataFrame]): DataFrame =
    search(queries, k, nprobe0, allow)(p => Knn.topKFromScores(scan(p), k, scoreMetric))
}

/** IVF_SQ8: per-dimension 8-bit scalar-quantized codes (`sq: binary`, 1
  * byte/dim) scanned with the fused asymmetric kernel ([[Sq8AsymmetricL2]],
  * codegen'd next to the parquet scan), then the exact re-rank — the
  * IVF_PQ query shape with the ADC table functor swapped out. The
  * quantizer (per-dim mins/scales) lives in `sq_params/v=<ts>`, versioned
  * like the centroids so time travel reopens the matching one;
  * consolidation retrains it on the merged base. */
class IvfSq8Index(spark: SparkSession, uri: String, meta: IndexMeta, ts: Long)
    extends IvfRerankIndex(spark, uri, meta, ts) {

  /** (mins, scales), each dims long. */
  lazy val sqParams: (Array[Float], Array[Float]) =
    if (historyIdx < 0) (Array.empty, Array.empty)
    else graft.SessionCache.get(spark, s"$uri/sq_params/v=$baseTimestamp", "sq_params") {
      val r = readVersioned(s"$uri/sq_params/v=$baseTimestamp").head()
      (r.getSeq[Float](r.fieldIndex("mins")).toArray,
        r.getSeq[Float](r.fieldIndex("scales")).toArray)
    }

  protected def codeColumns: Seq[String] = Seq("sq")

  protected def scanScore: Column = {
    val (mins, scales) = sqParams
    toColumn(Sq8AsymmetricL2(toExpression(col("sq")), toExpression(col("qvec")),
      mins, scales))
  }

  /** Precedence: session conf (explicit user action) > calibrated knee >
    * compiled constant — the conf lets the shared lifecycle paths (updates
    * merge, filtered queries, SQL registration) tune the re-rank budget
    * without a type-specific signature. */
  def defaultKFactor: Float =
    graft.Conf.double(spark, IvfSq8Index.KFactorKey,
      (if (meta.pqKFactor > 0f) meta.pqKFactor else IvfSq8Index.DefaultKFactor).toDouble)
      .toFloat
}

object IvfSq8Index {
  val DefaultKFactor = 4.0f
  /** Session override for the candidate-inflation factor used by the
    * shared query paths (k · kFactor candidates before exact re-rank). */
  val KFactorKey = "spark.graft.sq8KFactor"
}

/** IVF_PQ (reference: src/include/index/ivf_pq_index.h; Python
  * ivf_pq_index.py): product-quantization `codes: array<int>` per vector
  * and `pq_codebooks/v=<ts>` (subspace, code, centroid). The per-query
  * distance tables against every sub-centroid are a plan expression on the
  * query rows (reference builds them per query, ivf_pq_index.h:1181-1254),
  * the scan is m table lookups per vector. SUM_OF_SQUARES / L2 only, like
  * the reference (ivf_pq_index.py:212-218). */
class IvfPqIndex(spark: SparkSession, uri: String, meta: IndexMeta, ts: Long)
    extends IvfRerankIndex(spark, uri, meta, ts) {

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

  private def codesPer: Int = codebooks(0).length

  protected def codeColumns: Seq[String] = Seq("codes")

  override protected def defaultNprobe(parts: Int): Int =
    math.min(parts, IvfPqIndex.DefaultNprobe)

  override protected def queryColumns(qvec: Column): Seq[(String, Column)] = {
    val m = codebooks.length
    val subDim = meta.dimensions / m
    Seq("dtable" -> toColumn(PqDistanceTable(toExpression(qvec),
      Ingest.flattenCodebooks(codebooks, subDim), m, codesPer, subDim)))
  }

  /** Pairs carry an m×codesPer float distance table per row — by far the
    * heaviest probe side in the engine. */
  override protected def pairBytes: Long =
    super.pairBytes + 4L * codebooks.length * codesPer

  protected def scanScore: Column =
    toColumn(PqAsymmetricDistance(toExpression(col("codes")),
      toExpression(col("dtable")), codesPer))

  def defaultKFactor: Float =
    if (meta.pqKFactor > 0f) meta.pqKFactor else IvfPqIndex.DefaultKFactor
}

object IvfPqIndex {
  val DefaultNprobe = 100 // reference: ivf_pq_index.py:126
  val DefaultKFactor = 2.0f
}
