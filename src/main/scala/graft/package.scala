package object graft {

  import org.apache.spark.sql.DataFrame

  import graft.operators.{DistanceMetric, Knn}

  /** Syntax sugar: `db.knn(queries, k)` for exact k-NN over any DataFrame
    * with (id, vector) columns (SURVEY §7.1's optional implicit). */
  implicit class KnnOps(private val db: DataFrame) extends AnyVal {
    def knn(
        queries: DataFrame,
        k: Int,
        metric: DistanceMetric = DistanceMetric.L2,
        idCol: String = "id",
        vecCol: String = "vector",
        qidCol: String = "qid",
        qvecCol: String = "qvec"): DataFrame =
      Knn.bruteForce(db, queries, k, metric, idCol, vecCol, qidCol, qvecCol)
  }

  /** Small-side join input, gated by the engine-wide
    * `spark.graft.maxBroadcastBytes` conf: broadcast when the plan-stats
    * estimate clears the gate (for persisted tables the estimate reflects
    * file sizes), shuffle-hash join otherwise — never an ungated broadcast
    * of something that merely LOOKS small. Shared by the model-side joins
    * (LM vocabulary, DSIR buckets, BM25 idf) and the candidate-list
    * re-rank joins. */
  private[graft] def gatedSmallSide(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val max = Conf.long(df.sparkSession,
      Conf.MaxBroadcastBytesKey, Conf.DefaultMaxBroadcastBytes)
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(max)) broadcast(df)
    else df.hint("shuffle_hash")
  }

  /** Materialize a frame that is re-read several times, or cut its lineage
    * inside an iterative loop. With a reliable checkpoint directory set
    * (`sc.setCheckpointDir`) this is `checkpoint()`, which survives an
    * executor lost mid-job; pair it with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (off by
    * default) so released plans' checkpoint files are deleted. Otherwise
    * it is `localCheckpoint()`: executor-local blocks that the
    * ContextCleaner releases once the plan is unreferenced (so repeated
    * calls do not accumulate storage the way cache() does), but a lost
    * executor fails the job. */
  private[graft] def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
}
