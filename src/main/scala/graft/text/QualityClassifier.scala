package graft.text

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based document quality scoring — the fasttext-classifier stage of
  * a training-data pipeline (GPT-3/LLaMA-style "looks like reference text"
  * filtering), built from what this container has: MLlib logistic
  * regression over the engine's exact integer quality facets, weakly
  * supervised by the heuristic [[TextOps.qualityScore]] (top-quantile
  * documents are positives, bottom-quantile negatives — the standard
  * bootstrap when no human labels exist).
  *
  * The learned model is persisted as a (feature, weight) parquet table.
  * Scoring recomputes nothing from training: the serving path (and the
  * DuckDB oracle) evaluates the linear LOGIT `b + Σ wᵢ·fᵢ` over integer
  * facets in one fixed left-associative order — bit-identical across
  * engines, because every operand is either an exact integer-valued double
  * or a weight read from the same parquet. The sigmoid is deliberately NOT
  * applied: `exp` differs in the last ulp between libm and the JVM, and
  * thresholding the logit at 0 is the same decision as thresholding the
  * probability at 0.5.
  *
  * Scale: weak-labeling sorts only bare (score, id) pairs under a
  * range-partitioned distributed sort (no global window, no single-task
  * stage) to find the two quantile boundary rows, then labels by scalar
  * comparison; training fits on the bounded labeled facet frame; scoring
  * is a pure projection — no shuffle, no UDF, embarrassingly parallel.
  */
object QualityClassifier {

  /** Facet names, in the FIXED order the logit sums them. */
  val featureNames: Seq[String] =
    Seq("n_chars", "n_tokens", "n_distinct_tokens", "n_stopwords", "n_punct")

  private val InterceptKey = "__intercept"

  /** The exact integer facet columns (shared with `text_quality`'s oracle-
    * proven SQL replica). */
  private def facetCols(text: Column): Seq[(String, Column)] =
    TextOps.qualityFacets(text).map { case (n, c) => n -> c.cast("long") }

  /** Train on weak labels from the heuristic score: documents in the top
    * `quantile` are positives, bottom `quantile` negatives, the middle is
    * dropped (standard self-training margin). Persists
    * `(feature, weight)` rows plus the intercept under `uri/weights`.
    *
    * Labeling never runs a global window: the two quantile BOUNDARY rows in
    * the unique (score, id) total order are found by a distributed
    * range-partitioned sort of the bare (score, id) pairs (16 bytes/row)
    * plus `zipWithIndex`, and every document is then labeled by a scalar
    * lexicographic comparison against those two rows — a pure projection.
    * The boundary ranks reproduce `percent_rank`'s `(rank-1)/(n-1)` double
    * arithmetic exactly, so labels (and therefore the fitted weights) are
    * bit-identical to a window formulation without ever moving the corpus
    * through one task. */
  def train(
      docs: DataFrame,
      uri: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      quantile: Double = 0.3): Unit = {
    require(quantile > 0 && quantile < 0.5,
      s"graft: label quantile must be in (0, 0.5), got $quantile")
    val spark = docs.sparkSession
    graft.SessionCache.invalidateUnder(uri)
    val labeled = weakLabels(docs, textCol, idCol, quantile)
    val assembled = new VectorAssembler()
      .setInputCols(featureNames.toArray)
      .setOutputCol("features")
      .transform(labeled.select(
        col("label") +: featureNames.map(n => col(n).cast("double")): _*))
    val model = new LogisticRegression()
      .setMaxIter(100).setRegParam(0.01).setStandardization(true)
      .fit(assembled)
    val rows = featureNames.zip(model.coefficients.toArray) :+
      (InterceptKey -> model.intercept)
    import spark.implicits._
    rows.toDF("feature", "weight").coalesce(1)
      .write.mode("overwrite").parquet(s"$uri/weights")
  }

  /** Weak-label frame: integer facets + `label` (1.0 top-quantile, 0.0
    * bottom-quantile; middle rows dropped). Package-private so the spec can
    * check the boundary-comparison labels against a `percent_rank`
    * reference on a small frame. */
  private[graft] def weakLabels(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      quantile: Double): DataFrame = {
    val idType = docs.schema(idCol).dataType
    // type MATCH, not typeName strings: IntegerType.typeName is "integer",
    // so a name list with "int" would reject valid int ids
    val idIntegral = idType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    require(idIntegral,
      s"graft: classifier id column $idCol must be integral for the " +
        s"deterministic (score, id) tie-break, got $idType")
    val facets = docs.select(
      (col(idCol) +: facetCols(col(textCol)).map { case (n, c) => c.as(n) }) :+
        TextOps.qualityScore(col(textCol)).as("__score"): _*)
    val ((negS, negId), (posS, posId)) = labelBoundaries(facets, idCol, quantile)
    val s = col("__score")
    val i = col(idCol).cast("long")
    val isNeg = s < negS || (s === negS && i <= negId)
    val isPos = s > posS || (s === posS && i >= posId)
    facets
      .withColumn("label", when(isPos, 1.0).when(isNeg, 0.0))
      .where(col("label").isNotNull)
  }

  /** The (score, id) rows at the last-negative and first-positive global
    * ranks of the unique (score, id) order — the exact quantile cutoffs the
    * old window formulation implied. Distributed exact selection: sort only
    * the projected key pairs (range-partitioned, never single-task), index
    * with `zipWithIndex`, and fetch the two boundary rows. The boundary
    * ranks are solved on the driver against `percent_rank`'s own
    * `(rank-1)/(n-1)` double formula, so label assignment is bit-identical
    * to the window it replaces. */
  private def labelBoundaries(
      facets: DataFrame,
      idCol: String,
      quantile: Double): ((Double, Long), (Double, Long)) = {
    val spark = facets.sparkSession
    import spark.implicits._
    val sorted = facets
      .select(col("__score").cast("double"), col(idCol).cast("long"))
      .as[(Double, Long)]
      .orderBy(col("__score"), col(idCol))
      .persist()
    val n = sorted.count()
    require(n > 1, s"graft: classifier training needs >1 document, got $n")
    // percent_rank of 0-based rank r is r/(n-1); monotone in r, so the
    // boundary ranks are found by driver-side binary search on the SAME
    // double expression the window would have evaluated.
    def pr(r: Long): Double = r.toDouble / (n - 1).toDouble
    def lastRankWhere(p: Double => Boolean): Long = {
      var lo = 0L; var hi = n - 1; var ans = -1L
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (p(pr(mid))) { ans = mid; lo = mid + 1 } else hi = mid - 1
      }
      ans
    }
    val kNegMax = lastRankWhere(_ <= quantile)
    val kPosMin = {
      val lastBelow = lastRankWhere(_ < 1 - quantile)
      lastBelow + 1
    }
    require(kNegMax >= 0 && kNegMax < kPosMin && kPosMin <= n - 1,
      s"graft: degenerate label quantiles (n=$n, q=$quantile)")
    val bounds = sorted.rdd.zipWithIndex()
      .filter { case (_, r) => r == kNegMax || r == kPosMin }
      .map { case ((sc, id), r) => (r, (sc, id)) }
      .collect().toMap
    sorted.unpersist()
    (bounds(kNegMax), bounds(kPosMin))
  }

  /** Score `docs` with the persisted model: `(id, logit, keep)` where
    * `keep = logit > 0` (= p > 0.5). The logit is evaluated in the fixed
    * feature order as one left-associative sum so any engine reading the
    * same weights reproduces it bit-for-bit. */
  def scoreLogit(
      docs: DataFrame,
      uri: String,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val w = readWeights(docs.sparkSession, uri)
    val facets = facetCols(col(textCol)).toMap
    val logit = featureNames.foldLeft(lit(w(InterceptKey))) { (acc, n) =>
      acc + lit(w(n)) * facets(n).cast("double")
    }
    docs.select(col(idCol), logit.as("logit"))
      .withColumn("keep", col("logit") > lit(0.0))
  }

  /** The persisted weight map (features + intercept), collected through
    * SessionCache (one collect job per scoring query otherwise;
    * invalidated with the model uri). */
  def readWeights(spark: SparkSession, uri: String): Map[String, Double] =
    graft.SessionCache.get(spark, s"$uri/weights", "weights") {
      val m = graft.SessionCache.parquet(spark, s"$uri/weights")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val missing = (featureNames :+ InterceptKey).filterNot(m.contains)
      require(missing.isEmpty,
        s"graft: weights at $uri/weights missing ${missing.mkString(", ")}")
      m
    }
}
