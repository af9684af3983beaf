package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CCNet-style perplexity filtering (Wenzek et al. 2020): score every
  * document under a character-trigram language model trained on a clean
  * reference subset; low log-probability (high perplexity) marks
  * boilerplate, encoding junk, and out-of-domain text. The reference
  * pipeline family this engine ports runs the same filter with a KenLM
  * model — the n-gram machinery here is the Spark-native, container-free
  * equivalent with add-α smoothing.
  *
  * Numeric contract: log-probabilities are computed ONCE at training time
  * and persisted quantized to integer micro-nats (`round(ln(p)·1e6)`).
  * Scoring then only SUMS integers — exact in any order, on any engine —
  * and performs a single final double division. A DuckDB oracle can replay
  * scoring bit-for-bit from the persisted model without ever calling `ln`
  * (libm and java.lang.Math disagree in the last ulp; integers don't).
  *
  * Scale shape: both passes front-load a per-document gram→count partial
  * aggregation ([[CharTrigramCounts]], one pass over the text) so the
  * exploded row count scales with DISTINCT grams per document, not
  * characters — the join probes and the per-document re-aggregate shrink
  * by the corpus' mean gram duplication factor, and the integer sums stay
  * exactly `Σ cnt·logp`. Training is then a hash-aggregate (map-side
  * partial combine; state bounded by the trigram vocabulary, ≤ charset³,
  * NOT the corpus). Scoring joins the model tables broadcast when they fit
  * under `spark.graft.maxBroadcastBytes` and falls back to a shuffle-hash
  * join above it (large/CJK charsets can push the trigram vocabulary past
  * broadcast size); the corpus shuffles once on doc_id with partial
  * aggregation. At 100 TB both passes stay linear with no all-pairs or
  * global-sort stage anywhere.
  */
object LangModel {

  /** Smoothing constant α = 1/2 (add-half), as exact integer halves. */
  private val AlphaNum = 1.0
  private val AlphaDen = 2.0

  /** Train the trigram model on `train` and persist it under `uri` as
    * three parquet tables the oracle (and later sessions) replay from:
    *
    *   - `model3`: (gram, ctx, logp_micro) — seen trigrams,
    *     `ln((c3+α)/(c2+α·V))` in micro-nats
    *   - `model2`: (ctx, unseen_logp_micro) — seen contexts,
    *     `ln(α/(c2+α·V))` for any unseen third char
    *   - `meta`: singleton (v, logp0_micro) — vocabulary size and the
    *     `ln(1/V)` fallback for a never-seen context
    */
  def trainCharTrigram(
      train: DataFrame,
      uri: String,
      textCol: String = "text"): Unit = {
    val spark = train.sparkSession
    graft.SessionCache.invalidateUnder(uri)
    // Par.spread: the per-doc trigram kernel + explode fuse into the scan
    // stage — a below-parallelism source would serialize them (guide §2.5)
    val grams = graft.Par.spread(train)
      .select(explode(charTrigramCounts(col(textCol))).as("gc"))
      .select(col("gc.gram").as("gram"), col("gc.cnt").as("cnt"))
    // materialize the corpus-wide trigram aggregate ONCE: v, the c2 join
    // inside model3 (both join sides derive from c3), and model2 each
    // re-ran the full explode+aggregate through lineage otherwise — four
    // corpus passes for one vocabulary-bounded table (guide §5
    // localCheckpoint lineage cut; c3 is ≤ charset³ rows by construction)
    val c3 = grams.groupBy("gram").agg(sum("cnt").as("c3"))
      .withColumn("ctx", substring(col("gram"), 1, 2))
      .withColumn("third", substring(col("gram"), 3, 1))
      .localCheckpoint()
    val c2 = c3.groupBy("ctx").agg(sum("c3").as("c2"))
    val v = c3.select(countDistinct("third")).head().getLong(0)
    require(v > 0, "graft: LM training corpus produced no trigrams")
    val vTerm = AlphaNum / AlphaDen * v
    val model3 = c3.join(c2, "ctx")
      .select(col("gram"), col("ctx"),
        microNats(log((col("c3") + lit(AlphaNum / AlphaDen)) /
          (col("c2") + lit(vTerm)))).as("logp_micro"))
    val model2 = c2.select(col("ctx"),
      microNats(log(lit(AlphaNum / AlphaDen) / (col("c2") + lit(vTerm))))
        .as("unseen_logp_micro"))
    val meta = spark.range(1).select(
      lit(v).as("v"),
      microNats(log(lit(1.0) / lit(v.toDouble))).as("logp0_micro"))
    model3.write.mode("overwrite").parquet(s"$uri/model3")
    model2.write.mode("overwrite").parquet(s"$uri/model2")
    meta.write.mode("overwrite").parquet(s"$uri/meta")
  }

  /** Score `docs` under the model persisted at `uri`: per document the
    * trigram count, the exact integer sum of micro-nat log-probs, and the
    * mean log-prob in nats (one double division — `exp(-avg_logp)` is the
    * perplexity; the monotone mean is what thresholds compare, so the
    * score column stays division-exact). Documents with no trigrams score
    * null. */
  def scoreDocs(
      docs: DataFrame,
      uri: String,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    // session-memoized model layers (invalidated by trainCharTrigram)
    val model3 = graft.SessionCache.parquet(spark, s"$uri/model3")
    val model2 = graft.SessionCache.parquet(spark, s"$uri/model2")
    // memoized in SessionCache: the singleton meta row's head()
    // was one job per scoring query (invalidated with the model uri)
    val logp0 = graft.SessionCache.get(spark, s"$uri/meta", "logp0") {
      graft.SessionCache.parquet(spark, s"$uri/meta")
        .select("logp0_micro").head().getLong(0)
    }
    // one row per DISTINCT gram per document ([[CharTrigramCounts]]), not
    // one per character — the partial aggregation that keeps join-probe
    // volume at `Σ distinct grams` while `Σ cnt·lp` reproduces the
    // per-instance integer sum exactly
    // Par.spread: same §2.5 spread as the fit — the trigram kernel is the
    // scoring pass's dominant per-row cost
    val grams = graft.Par.spread(docs).select(col(idCol),
        explode(charTrigramCounts(col(textCol))).as("gc"))
      .select(col(idCol), col("gc.gram").as("gram"), col("gc.cnt").as("cnt"))
      .withColumn("ctx", substring(col("gram"), 1, 2))
    // model tables are vocabulary-bounded (≤ charset³ rows) — usually
    // broadcast-sized, but a large/CJK charset can exceed it, so the
    // broadcast is gated with a shuffle-hash fallback
    val scored = grams
      .join(graft.gatedSmallSide(model3.select("gram", "logp_micro")), Seq("gram"), "left")
      .join(graft.gatedSmallSide(model2), Seq("ctx"), "left")
      .select(col(idCol), col("cnt"),
        coalesce(col("logp_micro"), col("unseen_logp_micro"), lit(logp0))
          .as("lp"))
    val agg = scored.groupBy(idCol).agg(
      sum("cnt").as("n_grams"),
      sum(col("cnt") * col("lp")).as("sum_logp_micro"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("sum_logp_micro"),
        (col("sum_logp_micro").cast("double") / lit(1000000.0) /
          col("n_grams").cast("double")).as("avg_logp"))
  }

  /** CCNet's per-language perplexity bucketing (Wenzek et al. 2020 §3:
    * each language's documents split into head/middle/tail by LM
    * perplexity; the head trains, the tail is discarded) — the composition
    * step downstream of [[scoreDocs]]. Documents rank per language by
    * `avg_logp` DESC (low perplexity first, doc-id tie-break) and bucket
    * `⌊rank·buckets/n_lang⌋`: 0 = head … buckets−1 = tail. Documents with
    * no trigrams keep a null bucket (nothing to score).
    *
    * Scale: ranks come from ONE range-partitioned distributed sort of the
    * bare (lang, avg_logp, id) keys plus `zipWithIndex` — languages sort
    * contiguously, so per-language rank = global index − language offset
    * (offsets from a per-language count, collected: one row per LANGUAGE,
    * not per document). No per-language window, so a dominant language
    * never funnels through one task — the same machinery as
    * [[QualityClassifier]]'s boundary selection. */
  def ccnetBuckets(
      docs: DataFrame,
      uri: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang",
      buckets: Int = 3): DataFrame = {
    require(buckets >= 1, s"graft: ccnetBuckets needs buckets >= 1, got $buckets")
    val spark = docs.sparkSession
    import spark.implicits._
    val scored = scoreDocs(docs, uri, idCol, textCol)
      .join(docs.select(col(idCol), col(langCol).as("__lang")), Seq(idCol))
    // null-language docs keep a null bucket via the final left join — they
    // must not enter the rank frame (a null key would NPE the driver-side
    // language sort and has no per-language rank anyway; the same
    // exclusion mixTemperature documents for its null groups)
    val sorted = scored.where(col("avg_logp").isNotNull && col("__lang").isNotNull)
      .select(col("__lang"), col("avg_logp"), col(idCol).cast("long").as("__id"))
      .orderBy(col("__lang"), col("avg_logp").desc, col("__id"))
      .as[(String, Double, Long)]
      .persist()
    // one row per language; ASCII language codes order identically under
    // Spark's UTF8 binary sort and Scala's string sort
    val counts = sorted.groupBy(col("__lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val offsets: Map[String, (Long, Long)] = {
      var acc = 0L
      counts.map { case (lang, n) =>
        val entry = lang -> (acc, n); acc += n; entry
      }.toMap
    }
    // materialize the assignment under the model while `sorted` is still
    // cached (ONE scoring pass), then serve from parquet — the bucket
    // table is a pipeline OUTPUT, and a lazy plan here would re-score the
    // corpus on every downstream action
    // size the bucket-table write from its ROW COUNT, not the sort's
    // partition count: the table is two integer columns, so the range
    // sort's ~cores partitions wrote ~cores near-empty files per call
    // (profiled as the query's single biggest job — 66 task launches +
    // commits for a 12-byte-per-row table). ~4M rows per output task keeps
    // files well-formed at any corpus size (guide §6 output sizing).
    val writeParts = math.max(1L, counts.map(_._2).sum / 4000000L).toInt
    sorted.rdd.zipWithIndex()
      .map { case ((lang, _, id), idx) =>
        val (off, n) = offsets(lang)
        (id, (((idx - off) * buckets) / n).toInt)
      }
      .toDF(idCol, "ppl_bucket")
      .coalesce(writeParts)
      .write.mode("overwrite").parquet(s"$uri/buckets")
    sorted.unpersist()
    docs.select(col(idCol), col(langCol))
      .join(spark.read.parquet(s"$uri/buckets"), Seq(idCol), "left")
  }

  /** Per-document gram→count array ([[CharTrigramCounts]] — the one-pass
    * partial-aggregation front of both passes). */
  private def charTrigramCounts(text: Column): Column =
    org.apache.spark.sql.graftshim.toColumn(CharTrigramCounts(
      org.apache.spark.sql.graftshim.toExpression(text)))

  /** Sliding lowercased trigram array (duplicates preserved, empty for
    * short docs) — `transform` over an index sequence, pure codegen-able
    * higher-order functions, no UDF. Kept as the semantic reference for
    * [[CharTrigramCounts]] (spec-asserted equivalent) and the shape the
    * DuckDB oracles replay. */
  def trigramArray(text: Column): Column = {
    val t = lower(text)
    val n = length(t)
    // guard: Spark's sequence(1, stop) DESCENDS when stop < 1 — a 2-char
    // doc would otherwise yield [1, 0] and substr garbage
    when(n >= 3,
        transform(sequence(lit(1), n - lit(2)), i => t.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))
  }

  private def microNats(lnCol: Column): Column =
    round(lnCol * lit(1000000.0)).cast("long")
}
