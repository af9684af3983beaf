package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** Distance metrics, numbered to match the reference enum
  * (reference: src/include/scoring.h:423-428). */
sealed abstract class DistanceMetric(val id: Int)
object DistanceMetric {
  case object SumOfSquares extends DistanceMetric(0)
  case object InnerProduct extends DistanceMetric(1)
  case object Cosine extends DistanceMetric(2)
  case object L2 extends DistanceMetric(3)

  def fromId(i: Int): DistanceMetric = i match {
    case 0 => SumOfSquares
    case 1 => InnerProduct
    case 2 => Cosine
    case 3 => L2
    case other => throw new IllegalArgumentException(s"unknown distance metric id $other")
  }

  /** Heap score: ascending = better for every metric. Inner product negates
    * the dot so a min-heap keeps the largest dots (the reference instead
    * scores 1/dot, scoring.h:344-380 — same ordering for positive dots, but
    * negation is total and avoids the inf/NaN patch-up until output time). */
  def score(m: DistanceMetric)(v: Column, q: Column): Column = m match {
    case SumOfSquares => dist_sos(v, q)
    case InnerProduct => -dot_product(v, q)
    case Cosine => dist_cosine(v, q)
    case L2 => dist_l2(v, q)
  }

  /** Reported distance from the internal heap score — identity except for
    * inner product, where the reference reports 1/dot with 0-dot → inf
    * flipped to MAX_FLOAT (reference: index.py:287-296 `flip_results`). */
  def reportedDistance(m: DistanceMetric)(score: Column): Column = m match {
    case InnerProduct =>
      val dot = -score
      when(dot === 0.0f, lit(Float.MaxValue))
        .otherwise(lit(1.0f) / dot).cast("float")
    case _ => score
  }
}

object ByteKnn {
  import org.apache.spark.sql.graftshim.{toColumn, toExpression}
  import graft.functions.{U8CosineDistance, U8DotProduct, U8SumOfSquaresDistance}

  /** Heap score for byte-packed stored vectors vs float queries
    * (uint8/int8 dtypes — reference flat_index.py:195-197). */
  def score(m: DistanceMetric, signed: Boolean)(binVec: Column, q: Column): Column = m match {
    case DistanceMetric.SumOfSquares =>
      toColumn(U8SumOfSquaresDistance(toExpression(q), toExpression(binVec), signed))
    case DistanceMetric.L2 =>
      sqrt(toColumn(U8SumOfSquaresDistance(toExpression(q), toExpression(binVec), signed))
        .cast("double")).cast("float")
    case DistanceMetric.InnerProduct =>
      -toColumn(U8DotProduct(toExpression(q), toExpression(binVec), signed))
    case DistanceMetric.Cosine =>
      toColumn(U8CosineDistance(toExpression(q), toExpression(binVec), signed))
  }

  /** Brute-force k-NN over byte-packed vectors (same plan shape as
    * [[Knn.bruteForce]]; 4x less scan/shuffle volume per vector). */
  def bruteForce(
      db: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: DistanceMetric,
      signed: Boolean,
      idCol: String = "id",
      vecCol: String = "vector",
      qidCol: String = "qid",
      qvecCol: String = "qvec"): DataFrame = {
    val q = queries.select(col(qidCol).cast("long").as("__qid"), col(qvecCol).as("__qvec"))
    val d = db.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__vec"))
    val scored = d
      .crossJoin(Knn.sizedQuerySide(q, "__qvec"))
      .select(col("__qid"), col("__id"),
        score(metric, signed)(col("__vec"), col("__qvec")).as("__score"))
    Knn.topKFromScores(scored, k, metric)
  }
}

/** Exact (brute-force) k-NN: the FLAT index query kernel.
  *
  * The plan is the Spark-native reshaping of the reference's
  * `vq_query_heap` (reference: src/include/detail/flat/vq.h:40-120 — outer
  * loop over DB blocks, per-thread bounded heaps, then consolidate):
  * broadcast the (small) query set against the (huge) DB side, score every
  * (db row × query) pair inside one codegen'd stage, and reduce with the
  * [[MinTopK]] partial→final aggregate. Per (query, input-partition) only k
  * rows cross the shuffle; the DB table is never collected or sorted.
  */
object Knn {

  /** Query-side join operand for the brute-force cross joins, gated by
    * `spark.graft.maxBroadcastBytes` like every other engine join: a
    * broadcast-sized batch gets the broadcast hint (one codegen'd
    * BroadcastNestedLoopJoin stage, the fast path for the reference's
    * interactive batches); a batch past the gate is left unhinted so the
    * cross join plans as a partitioned CartesianProduct — slower, but a
    * 10⁶-row query batch completes instead of failing the driver on an
    * un-broadcastable relation.
    *
    * Sizing is two-tier to stay job-free on the common path: Catalyst's
    * own plan estimate under the gate → broadcast immediately (the same
    * trust Spark's autoBroadcast threshold extends); only an over-gate or
    * unknown estimate pays one small aggregate that measures the batch
    * exactly (row count + total vector elements — nq×(24+4d) for float
    * vectors). The measured size is kept in [[graft.SessionCache]] under
    * the plan's semantic hash, so repeated queries over the same derived
    * batch pay the sizing job once per session. */
  private[operators] def sizedQuerySide(q: DataFrame, vecCol: String): DataFrame = {
    val spark = q.sparkSession
    val max = graft.Conf.long(spark,
      graft.Conf.MaxBroadcastBytesKey, graft.Conf.DefaultMaxBroadcastBytes)
    val planEst = q.queryExecution.optimizedPlan.stats.sizeInBytes
    if (planEst <= BigInt(max)) return broadcast(q)
    val hash = q.queryExecution.optimizedPlan.canonicalized.semanticHash()
    val est = graft.SessionCache.get(spark, graft.SessionCache.NoPath, ("Knn.querySize", hash)) {
      val row = q.agg(count(lit(1)).as("n"), sum(size(col(vecCol))).as("elems")).head()
      val nq = row.getLong(0)
      val elems = if (row.isNullAt(1)) 0L else row.getLong(1)
      nq * 24L + elems * 4L
    }
    if (est <= max) broadcast(q) else q
  }

  /** @param db      DataFrame with columns (idCol: Long, vecCol: Array[Float])
    * @param queries DataFrame with columns (qidCol: Long, qvecCol: Array[Float]);
    *                broadcast when under the `spark.graft.maxBroadcastBytes`
    *                gate (queries are per the reference a small batch,
    *                index.py:298-312), partitioned cross join past it
    * @return (qid, rank, id, distance) — rank is 1-based by ascending distance
    */
  def bruteForce(
      db: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: DistanceMetric = DistanceMetric.L2,
      idCol: String = "id",
      vecCol: String = "vector",
      qidCol: String = "qid",
      qvecCol: String = "qvec"): DataFrame = {
    val q = queries.select(col(qidCol).cast("long").as("__qid"), col(qvecCol).as("__qvec"))
    val d = db.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__vec"))
    val scored = d
      .crossJoin(sizedQuerySide(q, "__qvec"))
      .select(
        col("__qid"),
        col("__id"),
        DistanceMetric.score(metric)(col("__vec"), col("__qvec")).as("__score"))
    topKFromScores(scored, k, metric)
  }

  /** Range (radius) search: all db vectors within `radius` of each query
    * under the metric's reported distance. The sqrt-free comparison for L2
    * is what [[graft.plans.OptimizeDistancePredicates]] rewrites to when
    * the predicate is written against dist_l2 in SQL; here it is built
    * directly. */
  def rangeSearch(
      db: DataFrame,
      queries: DataFrame,
      radius: Double,
      metric: DistanceMetric = DistanceMetric.L2,
      idCol: String = "id",
      vecCol: String = "vector",
      qidCol: String = "qid",
      qvecCol: String = "qvec"): DataFrame = {
    val q = queries.select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("__qvec"))
    val d = db.select(col(idCol).cast("long").as("id"), col(vecCol).as("__vec"))
    val dist = metric match {
      // compare in SOS space: no sqrt per row
      case DistanceMetric.L2 =>
        graft.functions.dist_sos(col("__vec"), col("__qvec"))
      // the radius contract is on the REPORTED distance; for IP that is
      // 1/dot (0/negative dot → MAX, i.e. always outside any finite
      // radius) — filtering on the raw heap score (-dot) would admit
      // nearly everything
      case m => DistanceMetric.reportedDistance(m)(
        DistanceMetric.score(m)(col("__vec"), col("__qvec")))
    }
    val bound = metric match {
      // float-exact bound (see SosBounds): a naive radius² can sit one ulp
      // off dist_l2's rounding and flip exact-boundary rows
      case DistanceMetric.L2 =>
        lit(graft.functions.SosBounds.upperBound(radius.toFloat))
      case _ => lit(radius.toFloat)
    }
    d.crossJoin(sizedQuerySide(q, "__qvec"))
      .where(dist <= bound)
      .select(col("qid"), col("id"))
  }

  /** Matryoshka (MRL-style) two-stage search: shortlist by distance over
    * the leading `prefixDims` dimensions, then exact full-dimension
    * re-rank of the candidates — the serving pattern for
    * matryoshka-trained embeddings (Kusupati et al. 2022), where the
    * prefix is itself a valid low-rank embedding. At `shortlist = |db|`
    * the result is exactly [[bruteForce]].
    *
    * Scale shape: stage 1 is the [[bruteForce]] plan over `prefixDims`-
    * sized slices (at 100 TB a user materializes the prefix as its own
    * stored column/index so the shortlist SCAN also shrinks
    * `prefixDims/dims`×; the in-plan `slice` here keeps the semantics
    * identical while reading the one demo table). Stage 2 touches only
    * `nq × shortlist` candidate rows: the candidate list is
    * bounded by construction, so it broadcasts to prune the full-vector
    * fetch join, and the final reduction is the same partial→final
    * [[graft.functions.MinTopK]] heap — no window, no corpus sort. */
  def matryoshka(
      db: DataFrame,
      queries: DataFrame,
      k: Int,
      shortlist: Int,
      prefixDims: Int,
      metric: DistanceMetric = DistanceMetric.Cosine,
      idCol: String = "id",
      vecCol: String = "vector",
      qidCol: String = "qid",
      qvecCol: String = "qvec"): DataFrame = {
    require(shortlist >= k,
      s"graft: matryoshka shortlist $shortlist must be >= k $k")
    require(prefixDims >= 1,
      s"graft: matryoshka prefixDims must be >= 1, got $prefixDims")
    val q = queries.select(col(qidCol).cast("long").as("__qid"), col(qvecCol).as("__qvec"))
    val d = db.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__vec"))
    val cand = bruteForce(
        d.select(col("__id"), slice(col("__vec"), 1, prefixDims).as("__pre")),
        q.select(col("__qid"), slice(col("__qvec"), 1, prefixDims).as("__qpre")),
        shortlist, metric,
        idCol = "__id", vecCol = "__pre", qidCol = "__qid", qvecCol = "__qpre")
      .select(col("qid"), col("id"))
    matryoshkaRerank(cand, db, queries, k, metric, idCol, vecCol, qidCol, qvecCol)
  }

  /** Matryoshka stage 2 alone, over an EXTERNAL (qid, id) candidate
    * list — the production seam: at 100 TB the prefix shortlist comes
    * from an index built over the materialized prefix column (an IVF /
    * Vamana probe through [[graft.index.VectorIndex]]), not an in-plan
    * slice scan. The re-rank recomputes full-dimension distances from
    * the raw vectors, so for the same candidate set the result is
    * bit-identical to [[matryoshka]] (spec-pinned). */
  def matryoshkaRerank(
      candidates: DataFrame,
      db: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: DistanceMetric = DistanceMetric.Cosine,
      idCol: String = "id",
      vecCol: String = "vector",
      qidCol: String = "qid",
      qvecCol: String = "qvec"): DataFrame = {
    val q = queries.select(col(qidCol).cast("long").as("__qid"), col(qvecCol).as("__qvec"))
    val d = db.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__vec"))
    // distinct: a duplicated (qid, id) candidate row would score twice
    // and could occupy two top-k slots with one id
    val cand = candidates.select(
      col("qid").cast("long").as("__qid"), col("id").cast("long").as("__id")).distinct()
    val rescored = d
      .join(broadcast(cand), Seq("__id"))
      .join(sizedQuerySide(q, "__qvec"), Seq("__qid"))
      .select(col("__qid"), col("__id"),
        DistanceMetric.score(metric)(col("__vec"), col("__qvec")).as("__score"))
    topKFromScores(rescored, k, metric)
  }

  /** Final top-k reduction over pre-scored (qid, id, score) candidates. */
  def topKFromScores(scored: DataFrame, k: Int, metric: DistanceMetric): DataFrame = {
    scored
      .groupBy(col("__qid"))
      .agg(min_topk(col("__score"), col("__id"), k).as("__topk"))
      .select(col("__qid"), posexplode(col("__topk")).as(Seq("__pos", "__hit")))
      .select(
        col("__qid").as("qid"),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__hit.id").as("id"),
        DistanceMetric.reportedDistance(metric)(col("__hit.score")).as("distance"))
  }
}
