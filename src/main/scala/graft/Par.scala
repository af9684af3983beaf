package graft

import org.apache.spark.sql.DataFrame

/** Compute-parallelism floor for heavy per-row stages (optimization guide
  * §2.5 "input skew: one huge unsplittable file … otherwise repartition
  * immediately after the read").
  *
  * A corpus that arrives as fewer splittable units than the cluster has
  * cores (one small parquet file, a single unsplittable blob) plans its
  * scan stage — and EVERYTHING fused into it: tokenization, hashing,
  * signature kernels, explodes, map-side partial aggregation — onto that
  * many tasks, serializing the CPU-heavy work while the rest of the
  * cluster idles. [[spread]] round-robins such an input up to the
  * session's parallelism before a heavy stage.
  *
  * Scale posture: the check reads the PLANNED scan partitioning, so any
  * production corpus (thousands of files) already meets the floor and no
  * exchange is added — the repartition exists in the plan only when the
  * source collapses below cluster parallelism, which at 100 TB it never
  * does. The floor is conf-overridable (`spark.graft.minComputeParallelism`;
  * 0 disables spreading entirely).
  */
object Par {
  val MinComputeParallelismKey = "spark.graft.minComputeParallelism"

  /** `df` repartitioned round-robin to the parallelism floor iff its
    * planned partitioning is below it; `df` unchanged otherwise. Apply
    * only above ORDER-INSENSITIVE consumers (aggregations, joins,
    * per-row projections feeding a sort) — round-robin changes row order.
    *
    * The partition-count probe (`.rdd.getNumPartitions`) forces physical
    * planning of `df` just to read its partitioning, and the real execution
    * then plans it again — fine once, wasteful when the same derived frame
    * is spread per call (every Bm25/LangModel fit + score pass; at 100 TB
    * the doubled driver-side planning is listing-heavy). The probe's
    * answer is a pure function of the (analyzed, canonicalized) plan, so
    * it is kept in [[SessionCache]] under the plan's semantic hash: repeat
    * calls skip physical planning entirely. */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val floor = Conf.int(spark, MinComputeParallelismKey,
      spark.sparkContext.defaultParallelism)
    // streaming frames cannot be planned via .rdd (and micro-batch
    // parallelism is the source's concern) — pass them through untouched
    if (floor <= 1 || df.isStreaming) df
    else {
      val hash = df.queryExecution.analyzed.canonicalized.semanticHash()
      val parts = SessionCache.get(spark, SessionCache.NoPath, ("Par.plannedParts", hash))(
        df.rdd.getNumPartitions)
      if (parts >= floor) df else df.repartition(floor)
    }
  }
}
