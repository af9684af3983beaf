package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 lexical retrieval (Robertson/Spärck Jones; the Lucene-variant idf
  * `ln(1 + (N − df + ½)/(df + ½))`, k₁ = 1.2, b = 0.75) — the sparse
  * complement of the engine's dense ANN retrieval, and the usual first
  * stage of a hybrid (BM25 ∪ vector) search pipeline over a document
  * corpus.
  *
  * Numeric contract (the [[LangModel]]/[[Dsir]] pattern): idf is computed
  * ONCE at fit time and persisted quantized to integer micro-nats; `avgdl`
  * is persisted as the exact double. At query time each (query, doc, term)
  * contribution is ONE fixed-shape double expression over (persisted
  * idf_micro, integer tf, integer dl, persisted avgdl) — identical inputs
  * and operation order on any IEEE-754 engine — floored to an integer
  * micro-score, and per-doc totals are EXACT integer sums (each term
  * contribution is < ~2²⁵, so even million-term documents stay far inside
  * the 2⁵³ window where summed floors are exact in the oracle's DOUBLE
  * accumulation). No transcendentals at query time.
  *
  * Two query paths:
  *   - [[topk]] scores ad hoc against the live corpus frame (one explode +
  *     one map-side-combined (doc, term) aggregate);
  *   - [[topkIndexed]] serves from the PERSISTED postings table `fit`
  *     writes term-sorted, so parquet row-group min/max statistics prune
  *     everything but the query's terms — at corpus scale a query batch
  *     touches posting runs, not the corpus (the inverted-index serving
  *     shape; term-literal pushdown is collected under a size gate with a
  *     join fallback past it).
  */
object Bm25 {

  /** k₁ + 1 and the two b-terms, pinned as literals so the Spark and
    * oracle expressions agree symbol-for-symbol ([[Bm25Server]] evaluates
    * the same constants JVM-side). */
  private[text] val K1Plus1 = 2.2
  private[text] val K1 = 1.2
  private[text] val OneMinusB = 0.25
  private[text] val B = 0.75

  /** Max distinct query terms collected as pushdown literals for
    * [[topkIndexed]]; larger query batches fall back to the join path. */
  val MaxPushdownTermsKey = "spark.graft.bm25MaxPushdownTerms"
  val DefaultMaxPushdownTerms = 100000L

  /** Posting-run length (document frequency) above which a query term is
    * treated as HOT by [[topkIndexed]]'s max-score pruning: candidates are
    * generated from the rare terms only, and a per-query upper bound on
    * the hot terms' possible contribution proves the candidate top-k
    * complete (or falls the query back to full evaluation). 0 or negative
    * disables pruning. Results are EXACT either way — the knob only moves
    * work, never answers. */
  /** Process-unique suffix for observed-metric names (fit's fused moments
    * probe): Observation matches on name, so concurrent fits must not
    * share one. */
  private val obsSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  val MaxScoreDfCapKey = "spark.graft.bm25MaxScoreDfCap"
  val DefaultMaxScoreDfCap = 262144L

  private def toks(textCol: Column): Column = TextOps.tokens(lower(textCol))

  /** Session-memoized model-layer read (listing + footer schema otherwise
    * re-run per query); every mutator below invalidates `uri` first, so a
    * refit/append at the same uri always re-lists. */
  private def readModel(spark: SparkSession, uri: String, layer: String): DataFrame =
    graft.SessionCache.parquet(spark, s"$uri/$layer")

  /** Fit over `docs`: persists `uri/idf (term, df, idf_micro)`,
    * `uri/meta (n_docs, avgdl)`, and the serving postings table
    * `uri/postings (term, id, tf, dl)` — repartitioned by term and sorted
    * within partitions, so every parquet row group covers a narrow term
    * range and term predicates prune at the footer level. */
  def fit(
      docs: DataFrame,
      uri: String,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.SessionCache.invalidateUnder(uri)
    // one heavy pass: explode + (doc, term) aggregate, written term-sorted;
    // df/idf then derive from the WRITTEN parquet (a posting-table read,
    // not a second corpus explode through lineage). Par.spread: the
    // tokenize+explode is fused into the scan stage, so a corpus arriving
    // as fewer splits than cores serializes it (measured 4.1 s on ONE task
    // for the sf0.1 fixture) — spread to the parallelism floor first
    // (no-op at production split counts).
    // The corpus moments (n docs, total tokens) ride this same pass as an
    // OBSERVED aggregate over the pre-explode doc rows — they were a
    // separate full tokenize-and-scan job before (guide §1.2: don't make
    // two passes where one carries both answers).
    // process-unique name — Observation listeners match on it, and
    // concurrent fits (parallel test suites) must not share one
    val obs = org.apache.spark.sql.Observation(
      s"bm25_fit_moments_${Bm25.obsSeq.incrementAndGet()}")
    graft.Par.spread(docs)
      .observe(obs, count(lit(1)).as("n"),
        sum(TextOps.tokenCount(col(textCol)).cast("long")).as("total"))
      .select(col(idCol).cast("long").as("id"),
        TextOps.tokenCount(col(textCol)).cast("long").as("dl"),
        explode(toks(col(textCol))).as("term"))
      .groupBy("id", "dl", "term").agg(count(lit(1)).as("tf"))
      .repartition(col("term"))
      .sortWithinPartitions("term")
      .select("term", "id", "tf", "dl")
      .write.mode("overwrite").parquet(s"$uri/postings")
    val moments = obs.get
    val n = moments("n").asInstanceOf[Long]
    require(n > 0, "graft: BM25 fit over an empty corpus")
    val total = Option(moments("total")).map(_.asInstanceOf[Long]).getOrElse(0L)
    val avgdl = total.toDouble / n.toDouble
    spark.read.parquet(s"$uri/postings")
      .groupBy("term").agg(count(lit(1)).as("df"))
      .select(col("term"), col("df"),
        microNats(log(lit(1.0) +
          (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
          .as("idf_micro"))
      .write.mode("overwrite").parquet(s"$uri/idf")
    Seq((n, avgdl, total)).toDF("n_docs", "avgdl", "total_dl")
      .repartition(1).write.mode("overwrite").parquet(s"$uri/meta")
    // invalidate AFTER the writes too: a model read racing between the
    // leading invalidate and the overwrite would re-cache the pre-fit
    // relation and serve it forever otherwise
    graft.SessionCache.invalidateUnder(uri)
  }

  /** Incrementally index `newDocs` into a fitted model: their postings
    * append as new parquet files (term-sorted like the originals), idf is
    * refreshed from the merged postings table, and `n`/`avgdl` combine the
    * PERSISTED per-corpus moments (`meta.n_docs` + `meta.total_dl`) with
    * the new batch's — the same integer count/sum `fit` evaluates over the
    * union frame, so `fit(A); append(B)` serves bit-identically to
    * `fit(A ∪ B)` (spec-asserted) without assuming every document emits a
    * posting row (a tokenizer that drops empty docs would silently skew a
    * postings-derived n). A duplicate-id batch is REFUSED up front — both ids
    * already indexed (ids-only semi-join probe) and ids repeated WITHIN
    * the batch (one grouped count): either would double-count postings
    * and corrupt every idf. An empty batch is a no-op. The corpus-sized work is one explode over the
    * NEW documents plus one postings-table aggregate; the original corpus
    * text is never re-read — the text-index sibling of the vector side's
    * update/consolidate path (reference: index.py update_batch +
    * consolidate_updates). */
  def append(
      newDocs: DataFrame,
      uri: String,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    graft.SessionCache.invalidateUnder(uri)
    val spark = newDocs.sparkSession
    import spark.implicits._
    val existing = spark.read.parquet(s"$uri/postings")
    // one aggregate answers both duplicate questions: ids repeated WITHIN
    // the batch (would double-count immediately) and ids already indexed
    // (checked next) — and an empty batch short-circuits to a no-op
    // before any write or null-summing moment aggregate
    val batchIds = newDocs.select(col(idCol).cast("long").as("id"))
      .groupBy("id").agg(count(lit(1)).as("c"))
    val innerDup = batchIds.where(col("c") > 1).limit(1).collect()
    require(innerDup.isEmpty,
      s"graft: BM25 append batch repeats id" +
        s"${if (innerDup.nonEmpty) s"=${innerDup.head.getLong(0)}" else ""} " +
        "within itself — duplicate ids double-count postings; " +
        "de-duplicate the batch")
    val dup = batchIds.select("id")
      .join(existing.select("id").distinct(), Seq("id"), "left_semi")
      .limit(1).collect()
    require(dup.isEmpty,
      s"graft: BM25 append batch contains ids already indexed (e.g. id=" +
        s"${if (dup.nonEmpty) dup.head.getLong(0) else -1L}) — duplicate ids " +
        "double-count postings; re-fit, or de-duplicate the batch")
    val newMoments = newDocs.select(count(lit(1)).as("n"),
      sum(TextOps.tokenCount(col(textCol)).cast("long")).as("total")).head()
    if (newMoments.getLong(0) == 0L) return // empty batch: a no-op append
    val (oldN, oldTotal) = readMoments(spark, uri)
    newDocs
      .select(col(idCol).cast("long").as("id"),
        TextOps.tokenCount(col(textCol)).cast("long").as("dl"),
        explode(toks(col(textCol))).as("term"))
      .groupBy("id", "dl", "term").agg(count(lit(1)).as("tf"))
      .repartition(col("term"))
      .sortWithinPartitions("term")
      .select("term", "id", "tf", "dl")
      .write.mode("append").parquet(s"$uri/postings")
    val merged = spark.read.parquet(s"$uri/postings")
    val n = oldN + newMoments.getLong(0)
    val total = oldTotal + newMoments.getLong(1)
    val avgdl = total.toDouble / n.toDouble
    // write via temp + swap is unnecessary here: idf/meta are tiny and
    // overwrite is atomic per directory at this size; readers in-flight
    // hold their own snapshots
    merged
      .groupBy("term").agg(count(lit(1)).as("df"))
      .select(col("term"), col("df"),
        microNats(log(lit(1.0) +
          (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
          .as("idf_micro"))
      .write.mode("overwrite").parquet(s"$uri/idf")
    Seq((n, avgdl, total)).toDF("n_docs", "avgdl", "total_dl")
      .repartition(1).write.mode("overwrite").parquet(s"$uri/meta")
    // post-write invalidation, same rationale as fit's
    graft.SessionCache.invalidateUnder(uri)
  }

  /** The persisted corpus moments `(n_docs, total_dl)`. Metas written
    * before `total_dl` existed rederive the total ONCE from the postings
    * table's distinct (id, dl) pairs (the legacy formula — correct for
    * those corpora because the legacy tokenizer emits ≥1 posting per doc);
    * the next meta write persists it. */
  private def readMoments(spark: SparkSession, uri: String): (Long, Long) = {
    val meta = spark.read.parquet(s"$uri/meta")
    if (meta.columns.contains("total_dl")) {
      val r = meta.select("n_docs", "total_dl").head()
      (r.getLong(0), r.getLong(1))
    } else {
      val r = spark.read.parquet(s"$uri/postings")
        .select(col("id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n"), sum("dl").as("total")).head()
      (r.getLong(0), r.getLong(1))
    }
  }

  /** Compact the postings table after a run of [[append]]s: rewrite every
    * file into one fresh term-sorted layout so row-group term ranges are
    * narrow again (appends interleave their own term-sorted files, which
    * widens the per-file ranges the pushdown prunes against). Results are
    * unchanged — only file geometry moves. Single-writer maintenance op
    * (the vector side's vacuum analogue): the swap is staged-dir +
    * directory move, not atomic against concurrent writers. */
  def compactPostings(spark: SparkSession, uri: String): Unit = {
    graft.SessionCache.invalidateUnder(uri)
    import graft.index.Storage
    val src = s"$uri/postings"
    val tmp = s"$uri/postings_compact_tmp"
    val bak = s"$uri/postings_compact_bak"
    Storage.deleteRecursively(tmp)
    Storage.deleteRecursively(bak)
    spark.read.parquet(src)
      .repartition(col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(tmp)
    // Hadoop-FS moves (work on hdfs/s3a, not just local files), swapped
    // through a backup: a failure between the two moves leaves a
    // recoverable directory instead of no postings at all
    Storage.move(src, bak)
    try Storage.move(tmp, src)
    catch { case e: Throwable => Storage.move(bak, src); throw e }
    Storage.deleteRecursively(bak)
  }

  /** Top-`k` documents per query document by BM25 score, scoring the live
    * corpus frame (integer micro-score, ties to the lower doc id).
    * Output: `(qid, id, score_micro, rank)`. */
  def topk(
      docs: DataFrame,
      queryDocs: DataFrame,
      k: Int,
      uri: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      qidCol: String = "doc_id"): DataFrame = {
    val postings = docs
      .select(col(idCol).cast("long").as("id"),
        TextOps.tokenCount(col(textCol)).cast("double").as("dl"),
        explode(toks(col(textCol))).as("term"))
      .groupBy("id", "dl", "term").agg(count(lit(1)).cast("double").as("tf"))
    rank(postings, queryTerms(queryDocs, textCol, qidCol), k, uri)
  }

  /** Top-`k` served from the persisted postings index: only the query
    * batch's terms are read (literal pushdown under the
    * [[MaxPushdownTermsKey]] gate, join fallback above it) — the corpus
    * text is never touched at query time. Results are identical to
    * [[topk]] over the fitted corpus. */
  def topkIndexed(
      spark: SparkSession,
      queryDocs: DataFrame,
      k: Int,
      uri: String,
      textCol: String = "text",
      qidCol: String = "doc_id"): DataFrame = {
    val q = queryTerms(queryDocs, textCol, qidCol).persist()
    val all = readModel(spark, uri, "postings")
    val maxTerms = graft.Conf.long(spark, MaxPushdownTermsKey, DefaultMaxPushdownTerms)
    // ONE job decides the gate AND supplies the literals: collect at most
    // cap+1 distinct terms — an overflow row means "past the gate". The
    // cap clamps the conf into [0, Int.MaxValue-1] so a "disable the
    // gate" Long.MaxValue cannot overflow into limit(0) and a negative
    // setting degrades to the join fallback instead of throwing
    val cap = math.max(0L, math.min(maxTerms, Int.MaxValue - 1L)).toInt
    val terms = q.select("term").distinct()
      .limit(cap + 1)
      .collect().map(_.getString(0))
    val postings =
      if (terms.length <= cap && terms.length.toLong <= maxTerms)
        all.where(col("term").isin(terms.toIndexedSeq: _*))
      else all // the equi-join below still restricts to query terms
    val p = postings.select(col("term"), col("id"),
      col("tf").cast("double").as("tf"), col("dl").cast("double").as("dl"))
    val dfCap = graft.Conf.long(spark, MaxScoreDfCapKey, DefaultMaxScoreDfCap)
    // Engage the max-score bound only when the batch actually HAS a hot
    // term: with every query term's posting run under dfCap the bound can
    // prune nothing, and its candidate distinct + double semi-join
    // machinery is pure overhead on top of the exact expansion (measured
    // ~3x the plain path at sf0.1, where the synthetic vocabulary keeps
    // all dfs far below the cap). The term list is already on the driver
    // when the pushdown gate held, so the hotness probe is one filtered
    // read of the ≤|terms| idf rows; past the gate the term set is unknown
    // driver-side — assume hot and keep the bound (the gate only
    // overflows on huge batches, exactly where the bound earns its cost).
    val anyHot = dfCap > 0 && {
      if (terms.length <= cap && terms.length.toLong <= maxTerms)
        readModel(spark, uri, "idf")
          .where(col("term").isin(terms.toIndexedSeq: _*) && col("df") > dfCap)
          .limit(1).collect().nonEmpty
      else true
    }
    val out = if (anyHot) rankMaxScore(p, q, k, uri, dfCap) else rank(p, q, k, uri)
    q.unpersist()
    out
  }

  private def queryTerms(queryDocs: DataFrame, textCol: String, qidCol: String): DataFrame =
    queryDocs.select(col(qidCol).cast("long").as("qid"),
      explode(array_distinct(toks(col(textCol)))).as("term"))

  /** Shared scoring tail: postings `(term, id, tf, dl)` × query terms ×
    * persisted idf → pinned-expression contributions → exact integer
    * per-(query, doc) totals → per-query top-k via the [[MinTopKLong]]
    * partial→final aggregate. NOT a window: candidate generation is exact
    * BM25 (every doc sharing any query term), so a stop-word-frequency
    * query term makes the candidate set approach the corpus — a
    * per-qid `row_number` window would funnel all of it through one task,
    * while the heap aggregate ships only k rows per (query, input
    * partition) across the shuffle. Ordering contract unchanged:
    * (score_micro desc, id asc), realized as min-heap on
    * (-score_micro, id). */
  private def rank(postings: DataFrame, qTerms: DataFrame, k: Int, uri: String): DataFrame = {
    require(k > 0, s"graft: BM25 k must be positive, got $k")
    val spark = postings.sparkSession
    val avgdl = graft.SessionCache.get(spark, s"$uri/meta", "avgdl") {
      readModel(spark, uri, "meta").head().getAs[Double]("avgdl")
    }
    val idf = readModel(spark, uri, "idf").select("term", "idf_micro")
    val contrib = postings
      .join(graft.gatedSmallSide(qTerms), Seq("term"))
      .join(graft.gatedSmallSide(idf), Seq("term"))
      .select(col("qid"), col("id"), contribMicro(avgdl).as("c"))
    explodeTopk(
      contrib.groupBy("qid", "id")
        .agg(sum(col("c")).cast("long").as("score_micro")), k)
  }

  /** Exact max-score serving (Turtle & Flood's MaxScore bound re-shaped
    * for a batch engine): terms with posting runs longer than `dfCap` are
    * HOT; candidates come from the rare terms' runs only and get exact
    * FULL scores (their hot-term postings are fetched by a candidate-id
    * semi-join, never expanded corpus-wide); a per-query ceiling on what
    * the hot terms alone could contribute (`Σ ceil(idf·(k₁+1))` — each
    * contribution is strictly below idf·(k₁+1) because tf/(tf+x) < 1)
    * then proves no rare-term-free document can reach the candidate
    * top-k. Queries the bound cannot clear — no rare terms at all, fewer
    * than k candidates, or a bound at/above the k-th candidate score
    * (a tying outsider could still win the id tie-break) — fall back to
    * [[rank]] for JUST those qids. Results are therefore EXACTLY
    * [[rank]]'s on every input; what changes is that a stop-word query
    * term no longer drives a corpus-sized (qid, doc) expansion and
    * aggregation — the hot run is scanned once, streamed through a
    * candidate-id filter. */
  private def rankMaxScore(
      postings: DataFrame,
      qTerms: DataFrame,
      k: Int,
      uri: String,
      dfCap: Long): DataFrame = {
    require(k > 0, s"graft: BM25 k must be positive, got $k")
    val spark = postings.sparkSession
    val avgdl = graft.SessionCache.get(spark, s"$uri/meta", "avgdl") {
      readModel(spark, uri, "meta").head().getAs[Double]("avgdl")
    }
    val idf = readModel(spark, uri, "idf").select("term", "df", "idf_micro")
    val qt = qTerms.join(graft.gatedSmallSide(idf), Seq("term"))
      .select("qid", "term", "df", "idf_micro")
    // per-term ceiling derived from the SAME constant the contribution
    // uses (tf·(k₁+1)/(tf+x) < k₁+1): ceil in double, +1 micro of slack
    // against downward double rounding — an over-bound only costs prune
    // power, an under-bound would cost correctness
    val bounds = qt.where(col("df") > dfCap)
      .groupBy("qid")
      .agg(sum(ceil(col("idf_micro").cast("double") * lit(K1Plus1)).cast("long") +
        lit(1L)).as("__hot_bound"))
    val candIds = postings
      .join(graft.gatedSmallSide(
        qt.where(col("df") <= dfCap).select("qid", "term")), Seq("term"))
      .select("qid", "id").distinct()
    // candidate docs' postings for ALL the batch's terms: restrict by id
    // straight off the scan (gated semi-join), then per-query terms, then
    // drop candidate-of-another-query leakage
    val contrib = postings
      .join(graft.gatedSmallSide(candIds.select("id").distinct()), Seq("id"), "left_semi")
      .join(graft.gatedSmallSide(qt.select("qid", "term", "idf_micro")), Seq("term"))
      .join(graft.gatedSmallSide(candIds), Seq("qid", "id"), "left_semi")
      .select(col("qid"), col("id"), contribMicro(avgdl).as("c"))
    val heaps = contrib.groupBy("qid", "id")
      .agg(sum(col("c")).cast("long").as("score_micro"))
      .groupBy("qid")
      .agg(graft.functions.min_topk_long(
        -col("score_micro"), col("id"), k).as("__topk"))
    // localCheckpoint: `decided` (one tiny row per qid) feeds BOTH the
    // ok branch and the fallback anti-join — on lineage, the whole
    // candidate-scoring pipeline above would execute twice per serve
    val decided = heaps
      .join(bounds, Seq("qid"), "left")
      .withColumn("__nc", size(col("__topk")))
      // ascending by negated score → the LAST kept entry is the k-th best
      .withColumn("__kth",
        -element_at(col("__topk"), col("__nc")).getField("score"))
      .withColumn("__ok",
        coalesce(col("__hot_bound"), lit(0L)) === lit(0L) ||
          (col("__nc") >= lit(k) &&
            coalesce(col("__hot_bound"), lit(0L)) < col("__kth")))
      .localCheckpoint()
    val ok = decided.where(col("__ok"))
      .select(col("qid"), posexplode(col("__topk")).as(Seq("__pos", "__hit")))
      .select(col("qid"), col("__hit.id").as("id"),
        (-col("__hit.score")).as("score_micro"),
        (col("__pos") + 1).cast("int").as("rank"))
    val fallback = qTerms.select("qid").distinct()
      .join(decided.where(col("__ok")).select("qid"), Seq("qid"), "left_anti")
    val fbRanked = rank(postings,
      qTerms.join(graft.gatedSmallSide(fallback), Seq("qid"), "left_semi"), k, uri)
    ok.unionByName(fbRanked)
  }

  /** The ONE pinned per-(query, doc, term) contribution expression —
    * mirrored token-for-token by the DuckDB oracle; floor makes each
    * contribution integral before the exact integer total. Shared by
    * every serving path so they cannot drift numerically. */
  private def contribMicro(avgdl: Double): Column =
    floor((((col("idf_micro").cast("double") / lit(1000000.0)) *
        (col("tf") * lit(K1Plus1))) /
      (col("tf") + (lit(K1) * (lit(OneMinusB) + (lit(B) * (col("dl") / lit(avgdl))))))) *
      lit(1000000.0))

  /** Per-query top-k tail shared by the serving paths: the
    * [[graft.operators.MinTopKLong]] partial→final heap on
    * (−score_micro, id), exploded to `(qid, id, score_micro, rank)`. */
  private def explodeTopk(scores: DataFrame, k: Int): DataFrame =
    scores
      .groupBy("qid")
      .agg(graft.functions.min_topk_long(
        -col("score_micro"), col("id"), k).as("__topk"))
      .select(col("qid"), posexplode(col("__topk")).as(Seq("__pos", "__hit")))
      .select(col("qid"), col("__hit.id").as("id"),
        (-col("__hit.score")).as("score_micro"),
        (col("__pos") + 1).cast("int").as("rank"))

  private def microNats(lnCol: Column): Column =
    round(lnCol * lit(1000000.0)).cast("long")
}

/** Serving-mode BM25 snapshot — the text twin of
  * [[graft.index.LocalSearcher]]: the fitted postings/idf/meta tables
  * loaded once into executor-free in-memory structures, then every query
  * is a pure-JVM posting walk + bounded heap at ZERO Spark jobs — the
  * latency shape an interactive retrieval endpoint needs, while
  * [[Bm25.topkIndexed]] stays the batch/corpus-scale path.
  *
  * Numeric contract: the per-(doc, term) contribution evaluates the SAME
  * double expression, in the SAME association order, as
  * [[Bm25.contribMicro]] — identical IEEE-754 inputs and operations, so
  * the server's integer micro-scores (and the (score desc, id) ranking)
  * are bit-equal to the distributed path's (spec-asserted). Tokenization
  * mirrors `TextOps.tokens(lower(text))` with `Locale.ROOT` (the
  * locale-independent lowering Spark's `lower` performs).
  *
  * Memory is gated by the same `spark.graft.maxLocalServeBytes` conf the
  * vector snapshot honors — a corpus-sized postings table refuses to
  * load with the sizing in the error instead of OOMing the driver.
  */
final class Bm25Server private (
    postings: java.util.HashMap[String, (Array[Long], Array[Long], Array[Long])],
    idfMicro: java.util.HashMap[String, java.lang.Long],
    avgdl: Double) {

  /** Top-`k` `(id, score_micro)` in rank order for one query text. Terms
    * absent from the model contribute nothing (exactly the inner idf join
    * in the distributed path). Null text returns empty, like a null-text
    * query row dropping out of the distributed explode. */
  def query(text: String, k: Int): Array[(Long, Long)] = {
    require(k > 0, s"graft: BM25 k must be positive, got $k")
    if (text == null) return Array.empty
    val terms = Bm25Server.sparkTrim(Bm25Server.sparkLower(text))
      .split("\\s+", -1).distinct
    val acc = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    terms.foreach { t =>
      val idf = idfMicro.get(t)
      val run = postings.get(t)
      if (idf != null && run != null) {
        val (ids, tfs, dls) = run
        val idfD = idf.toDouble
        var i = 0
        while (i < ids.length) {
          val tf = tfs(i).toDouble
          val dl = dls(i).toDouble
          // the ONE pinned expression (Bm25.contribMicro), JVM-evaluated
          // with identical association and the SAME constants
          val c = math.floor((((idfD / 1000000.0) *
              (tf * Bm25.K1Plus1)) /
            (tf + (Bm25.K1 * (Bm25.OneMinusB + (Bm25.B * (dl / avgdl)))))) *
            1000000.0).toLong
          acc.merge(ids(i), c, (a, b) => a + b)
          i += 1
        }
      }
    }
    val heap = new graft.operators.LongTopKHeap(k)
    acc.forEach((id, s) => heap.insert(-s, id))
    heap.sorted.map { case (negScore, id) => (id, -negScore) }
  }
}

object Bm25Server {

  /** Load the fitted model at `uri` into a serving snapshot. Refuses past
    * the `spark.graft.maxLocalServeBytes` gate, which is measured against
    * the IN-MEMORY footprint (one bounded aggregate: row count × the
    * three unboxed longs + term characters — the same actual-payload
    * sizing [[graft.index.LocalSearcher]]'s vector gate uses), not the
    * compressed parquet size, which dictionary/RLE encoding routinely
    * shrinks 5–20× below what the heap would hold. */
  def load(spark: SparkSession, uri: String): Bm25Server = {
    val maxBytes = graft.Conf.long(spark,
      graft.index.LocalSearcher.MaxLocalServeBytesKey,
      graft.index.LocalSearcher.DefaultMaxLocalServeBytes)
    val p = spark.read.parquet(s"$uri/postings")
    val sizing = p.agg(count(lit(1)).as("n"),
      coalesce(sum(length(col("term"))), lit(0L)).as("chars")).head()
    // 3 longs per posting + 2 bytes/char (String) + ~48 B map overhead
    // per distinct term folded into a conservative per-row constant
    val est = sizing.getLong(0) * 32L + sizing.getLong(1) * 2L
    require(est <= maxBytes,
      s"graft: postings snapshot needs ~$est bytes in memory, over " +
        s"maxLocalServeBytes $maxBytes " +
        s"(${graft.index.LocalSearcher.MaxLocalServeBytesKey}) — " +
        "serve this corpus through topkIndexed, or raise the budget")
    // one collected array, sorted by term, runs walked once into primitive
    // arrays — no intermediate per-term Row groups (collect + final
    // structures are the only two copies alive)
    val rows = p.select("term", "id", "tf", "dl").collect()
    java.util.Arrays.sort(rows,
      (a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row) =>
        a.getString(0).compareTo(b.getString(0)))
    val byTerm = new java.util.HashMap[String, (Array[Long], Array[Long], Array[Long])]()
    var start = 0
    while (start < rows.length) {
      val t = rows(start).getString(0)
      var end = start + 1
      while (end < rows.length && rows(end).getString(0) == t) end += 1
      val n = end - start
      val ids = new Array[Long](n); val tfs = new Array[Long](n)
      val dls = new Array[Long](n)
      var i = 0
      while (i < n) {
        val r = rows(start + i)
        ids(i) = r.getLong(1); tfs(i) = r.getLong(2); dls(i) = r.getLong(3)
        i += 1
      }
      byTerm.put(t, (ids, tfs, dls))
      start = end
    }
    val idf = new java.util.HashMap[String, java.lang.Long]()
    spark.read.parquet(s"$uri/idf").select("term", "idf_micro").collect()
      .foreach(r => idf.put(r.getString(0), r.getLong(1)))
    val avgdl = spark.read.parquet(s"$uri/meta").head().getAs[Double]("avgdl")
    new Bm25Server(byTerm, idf, avgdl)
  }

  /** Spark `trim` semantics, mirrored exactly: leading/trailing ASCII
    * SPACE (0x20) only — Java's `String.trim` strips every control char
    * ≤ 0x20 (tab, newline, …), which would drop tokens the distributed
    * split keeps and break the bit-equality contract. */
  private[text] def sparkTrim(s: String): String = {
    var b = 0; var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    if (b == 0 && e == s.length) s else s.substring(b, e)
  }

  /** Spark `lower` semantics, mirrored exactly: full-ASCII strings take
    * the locale-independent fast path (≡ `Locale.ROOT` on ASCII), and
    * any non-ASCII string goes through `String.toLowerCase()` with the
    * JVM DEFAULT locale — which is what `UTF8String.toLowerCaseSlow`
    * actually calls, so a Turkish-locale JVM lowers identically on both
    * paths instead of diverging on dotted-İ. */
  private[text] def sparkLower(s: String): String = {
    var i = 0; var ascii = true
    while (i < s.length && ascii) {
      if (s.charAt(i) >= 0x80) ascii = false
      i += 1
    }
    if (ascii) s.toLowerCase(java.util.Locale.ROOT) else s.toLowerCase()
  }
}
