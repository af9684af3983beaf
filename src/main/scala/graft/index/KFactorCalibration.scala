package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Density-aware calibration of the exact-re-rank candidate-inflation
  * knob (`k_factor`) shared by the lossy-code query paths — IVF_PQ
  * (reference: ivf_pq_index.py:40-45), IVF_SQ8, and the Vamana PQ
  * traversal.
  *
  * Why calibrate: the right pool size is density-dependent. The 10M
  * sweeps (PERF.md) measured IVF_PQ needing k_factor 32 at 10M where 4
  * sufficed at 1M (quantization-error rank inversions grow with how many
  * near-ties sit inside one cell's error radius), and the Vamana PQ arm
  * showed recall FALLING as routed fan-out widened because a fixed
  * k×kFactor pool saturates. A compiled constant cannot serve both
  * decades; the knee is a property of the ingested corpus, so it is
  * measured once at build time and persisted in the index metadata
  * ([[IndexMeta.pqKFactor]]) as the query-time default.
  *
  * How: run the index's OWN serving path at a SATURATED pool
  * (`ceiling`), then find the smallest grid step whose top-k agrees with
  * the saturated result on ≥ `target` of ids. The saturated run — not
  * exact brute force — is the reference on purpose: kFactor can only
  * recover candidates the lossy scan mis-RANKED, never vectors the
  * probe/routing stage didn't visit, so comparing against brute force
  * would conflate the two loss terms and push every routed config to
  * grid.max. Routing loss is the nprobe/S knob's budget, measured by the
  * sweeps; this knob's budget is quantization error alone. (At the
  * measured reference-default configs routing recall is ~1.0, so the
  * saturated reference and exact ground truth coincide in practice.)
  *
  * Cost: |grid|+1 small-batch index queries (nq ≈ 32) — no full-corpus
  * ground-truth scan, so calibration stays a O(nprobe-pruned reads)
  * add-on to the build even at 10M+.
  */
object KFactorCalibration {

  /** Powers of two spanning the measured 1M→10M knee range. */
  val Grid: Seq[Float] = Seq(1f, 2f, 4f, 8f, 16f, 32f, 64f)

  /** Saturation point: 2× past grid.max, so the reference pool strictly
    * dominates every candidate pool under test. */
  val Ceiling: Float = 128f

  /** The reference's own ingestion accuracy bar (test_ingestion.py uses
    * 0.95 for its exact-family gates). */
  val TargetRecall: Double = 0.95

  /** Number of held-out base vectors used as calibration queries. */
  val DefaultNq: Int = 32

  /** Smallest grid kFactor whose `queryAt(kf)` top-k matches the
    * saturated `queryAt(ceiling)` on ≥ target of (qid, id) pairs;
    * grid.max when none reaches the target (the pool is then
    * routing-limited, not quantization-limited). `queryAt` must return a
    * (qid, id) frame of the serving path's top-k per query. */
  def calibrate(
      queryAt: Float => DataFrame,
      grid: Seq[Float] = Grid,
      ceiling: Float = Ceiling,
      target: Double = TargetRecall): Float = {
    val ref = topSets(queryAt(ceiling))
    val total = ref.valuesIterator.map(_.size.toLong).sum
    require(total > 0, "graft: kFactor calibration got an empty reference result")
    grid.sorted.find { g =>
      val got = topSets(queryAt(g))
      val hits = ref.iterator.map { case (q, ids) =>
        got.getOrElse(q, Set.empty[Long]).count(ids.contains).toLong
      }.sum
      hits >= target * total
    }.getOrElse(grid.max)
  }

  /** Calibrate `index` on its own serving path and (when `persist`)
    * record the knee as its query default: the nq smallest base ids are the
    * deterministic held-out batch (self-matches are fine — the knee is
    * about pool size, not absolute recall), and `queryAt(queries, k, kf)`
    * runs the serving path at pool factor kf. `op` names the caller in the
    * error for an index with no ingested base. */
  def calibrateIndex(index: VectorIndex, op: String, k: Int, nq: Int, persist: Boolean)(
      queryAt: (DataFrame, Int, Float) => DataFrame): Float = {
    val historyIdx = index.meta.historyIndex(index.readTimestamp)
    require(historyIdx >= 0, s"graft: $op needs an ingested base")
    val qs = index.baseVectors().select(col("external_id").as("qid"),
        col("vector").as("qvec"))
      .orderBy("qid").limit(nq).localCheckpoint()
    val kEff = math.min(k.toLong, index.meta.baseSizes(historyIdx)).toInt
    val kf = calibrate(g => queryAt(qs, kEff, g))
    if (persist) {
      IndexMeta.write(index.uri, IndexMeta.read(index.uri).copy(pqKFactor = kf))
      graft.plans.GraftSql.onIndexMutated(index.spark, index.uri)
    }
    kf
  }

  /** Collect a (qid, id) result into per-query id sets — calibration
    * batches are nq·k rows (≈ 3k), a driver-sized frame by design. */
  private def topSets(res: DataFrame): Map[Long, Set[Long]] =
    res.select("qid", "id").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
}
