package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): score every raw document by how much more likely its
  * hashed word-bigram features are under a TARGET corpus distribution than
  * under the RAW corpus distribution, then keep the top slice. The classic
  * "make the crawl look like the reference corpus" selection stage of a
  * training-data pipeline (the model-based sibling of the CCNet perplexity
  * filter, [[LangModel]]).
  *
  * Numeric contract (the [[LangModel]] pattern): the per-bucket importance
  * log-ratio `ln p̂_target(b) − ln p̂_raw(b)` (add-one smoothing) is
  * computed ONCE at fit time and persisted quantized to integer micro-nats.
  * Scoring is then `Σ_buckets cnt·logw_micro` — exact integer arithmetic
  * any engine reproduces bit-for-bit from the persisted model, no `ln` at
  * query time. Deterministic top-slice selection replaces the paper's
  * Gumbel-noise resampling (noise would need engine-replayable
  * transcendentals; the ranking statistic is identical).
  *
  * Scale shape: feature extraction is the one-pass
  * [[BigramBucketCounts]] expression (one row per DISTINCT bucket per doc),
  * the model side is a `buckets`-row broadcast-gated join, the per-doc sum
  * partial-aggregates map-side, and the selection boundary is found by a
  * distributed sort of bare 16-byte (score, id) pairs + `zipWithIndex`
  * (the [[QualityClassifier]] boundary pattern) — never a global window,
  * never a corpus collect.
  */
object Dsir {

  /** Hashed-bigram feature space size. */
  val DefaultBuckets = 4096

  private def bigramBucketCounts(text: Column, buckets: Int): Column =
    org.apache.spark.sql.graftshim.toColumn(BigramBucketCounts(
      org.apache.spark.sql.graftshim.toExpression(text), buckets))

  /** Fit the importance model: bucket counts over the target subset
    * (`targetCond`) vs the whole of `docs`, add-one smoothing, persisted
    * DENSE (every bucket, so scoring joins never miss) as
    * `uri/model (bucket, logw_micro)` plus `uri/meta`. */
  def fit(
      docs: DataFrame,
      targetCond: Column,
      uri: String,
      buckets: Int = DefaultBuckets,
      textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.SessionCache.invalidateUnder(uri)
    val pairs = docs
      .select(explode(bigramBucketCounts(col(textCol), buckets)).as("e"),
        targetCond.cast("boolean").as("t"))
      .select(col("e.bucket").as("bucket"), col("e.cnt").as("cnt"), col("t"))
    val dense = spark.range(buckets).toDF("bucket")
      .join(
        pairs.groupBy("bucket").agg(
          sum(when(col("t"), col("cnt")).otherwise(0L)).as("ct"),
          sum(col("cnt")).as("cr")),
        Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
      .persist()
    val totals = dense.agg(sum("ct"), sum("cr")).head()
    val (nt, nr) = (totals.getLong(0), totals.getLong(1))
    require(nt > 0, "graft: DSIR target subset has no bigrams — nothing to imitate")
    dense.select(col("bucket"),
        microNats(
          log((col("ct") + lit(1.0)) / lit(nt.toDouble + buckets)) -
          log((col("cr") + lit(1.0)) / lit(nr.toDouble + buckets))).as("logw_micro"))
      .repartition(1).write.mode("overwrite").parquet(s"$uri/model")
    dense.unpersist()
    Seq((nt, nr, buckets)).toDF("n_target", "n_raw", "buckets")
      .repartition(1).write.mode("overwrite").parquet(s"$uri/meta")
  }

  /** Integer importance score per document:
    * `(id, n_bigrams, score_micro)` with zero-bigram documents scored 0.
    *
    * One corpus pass: a zero-count sentinel entry rides along with every
    * document's feature array, so the single aggregate sees every doc and
    * no doc-list left join is needed — which also makes the plan a legal
    * STREAMING plan (projection → stream-static model join → aggregate;
    * spec-checked against the batch results in complete mode). */
  def score(
      docs: DataFrame,
      uri: String,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    // memoized in SessionCache (one head() job per score call
    // otherwise; invalidated with the model uri)
    val buckets = graft.SessionCache.get(spark, s"$uri/meta", "buckets") {
      graft.SessionCache.parquet(spark, s"$uri/meta").head().getAs[Int]("buckets")
    }
    val model = graft.SessionCache.parquet(spark, s"$uri/model")
    // bucket -1 can never collide (real buckets are in [0, buckets)); its
    // cnt 0 contributes to neither sum
    val sentinel = array(struct(lit(-1L).as("bucket"), lit(0L).as("cnt")))
    docs
      .select(col(idCol),
        explode(concat(bigramBucketCounts(col(textCol), buckets), sentinel)).as("e"))
      .select(col(idCol), col("e.bucket").as("bucket"), col("e.cnt").as("cnt"))
      .join(graft.gatedSmallSide(model), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * coalesce(col("logw_micro"), lit(0L))).as("score_micro"))
  }

  /** [[score]] plus the deterministic top-slice flag: the
    * `keepPermille`/1000 highest (score, id ascending on ties) documents
    * are `selected` — `m = ⌈n·keepPermille/1000⌉` in pure integer
    * arithmetic, boundary row found by distributed selection, membership
    * decided by scalar lexicographic comparison (replayed by a SQL
    * `row_number() <= m`). */
  def select(
      docs: DataFrame,
      uri: String,
      keepPermille: Int = 200,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(keepPermille > 0 && keepPermille <= 1000,
      s"graft: keepPermille must be in (0, 1000], got $keepPermille")
    val spark = docs.sparkSession
    import spark.implicits._
    // one scoring pass: materialize eagerly (the ccnetBuckets lesson — a
    // lazy frame here would re-score the corpus for the boundary AND again
    // for every downstream action)
    val scored = score(docs, uri, textCol, idCol).localCheckpoint()
    val keys = scored
      .select(col("score_micro"), col(idCol).cast("long"))
      .as[(Long, Long)]
      .orderBy(col("score_micro").desc, col(idCol))
      .persist()
    val n = keys.count()
    require(n > 0, "graft: DSIR selection over an empty corpus")
    val m = (n * keepPermille + 999L) / 1000L
    val Array((bScore, bId)) = keys.rdd.zipWithIndex()
      .filter { case (_, r) => r == m - 1 }
      .map(_._1).collect()
    keys.unpersist()
    scored.withColumn("selected",
      col("score_micro") > bScore ||
        (col("score_micro") === bScore && col(idCol).cast("long") <= bId))
  }

  private def microNats(lnCol: Column): Column =
    round(lnCol * lit(1000000.0)).cast("long")
}
