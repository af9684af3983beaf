package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{Ingest, VectorIndex}
import graft.operators.{DistanceMetric, Knn, MaxSim}
import graft.text.{Dedup, TextOps, WinnowFingerprint}
import org.apache.spark.sql.graftshim.{toColumn, toExpression}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2, expressed as a
  * DataFrame plan over the driver's parquet tables in `dir`; `oracleSql` is
  * the DuckDB-equivalent SQL the driver validates against at sf0.01.
  */
object SparkEntry {

  /** Session-memoized read of an immutable driver table: every query run
    * re-planning `spark.read.parquet` over the same fixture re-ran file
    * listing + footer schema reads (one small job per table per query —
    * a measurable slice of the 124-query suite). The driver's testdata is
    * read-only by contract, so the relation is reusable for the session. */
  private def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.SessionCache.parquet(spark, s"$dir/$name.parquet")

  private def emb(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")

  private def docs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")

  /** First NQ embeddings double as the k-NN query batch (deterministic). */
  private val NQ = 10
  private val K = 10

  /** k of the object-search queries (5 query docs × top-5 chunks). */
  private val K2obj = 5

  /** File count of the deterministic FNV image fixture (payload of file i
    * is fnvBytes(i, 512 + 8i)); the DuckDB oracle regenerates all of it. */
  private val ImgN = 60

  /** Card count of the REAL-PNG decode fixture (card i is a
    * testCardPng(i, 16+i, 12+i)); the oracle replays the pixel formula. */
  private val CardN = 40

  /** Tone count of the REAL-WAV decode fixture (tone i is a
    * testToneWav(i, 400+16i)); the oracle replays the sample formula. */
  private val ToneN = 30

  /** AVI clips in the video-decode fixture (and its oracle). */
  private val VidN = 12

  private def knnFlat(metric: DistanceMetric)(spark: SparkSession, dir: String): DataFrame = {
    val db = emb(spark, dir)
    val queries = db.where(col("vec_id") < NQ)
    Knn.bruteForce(db, queries, K, metric,
        idCol = "vec_id", vecCol = "embedding", qidCol = "vec_id", qvecCol = "embedding")
      .select(col("qid"), col("id").as("neighbor_id"))
      .orderBy("qid", "neighbor_id")
  }

  /** MMR diversified top-k ([[graft.operators.MmrDiversify]]):
    * [[MmrCand]] candidates served through an IVF probe at probe-all
    * (≡ the exact inner-product shortlist), then the λ=0.7 greedy
    * re-rank on integer-micro strict-dot scores. The DuckDB oracle
    * UNROLLS the greedy chain — one CTE per selection step, each
    * replaying the λ·rel − (1−λ)·maxSim argmax in the same integer
    * arithmetic — so every pick, not just the final set, is
    * hash-checked. */
  private val MmrK = 5
  private val MmrCand = 25
  private val MmrLambdaPpm = 700000L
  private def knnMmrDiversify(spark: SparkSession, dir: String): DataFrame = {
    val db = emb(spark, dir)
    val queries = db.where(col("vec_id") < NQ)
    // candidates come THROUGH THE PRODUCTION SEAM — an IVF InnerProduct
    // probe at probe-all (≡ the exact scan; MmrDiversifySpec proves the
    // greedy stage bit-identical either way) — so the driver exercises
    // the 100 TB path end-to-end while the oracle replays the scan form
    val uri = cachedIndex("mmr_ivf_ip", dir) { u =>
      Ingest.ingest(spark, u,
        db.select(col("vec_id").as("external_id"), col("embedding").as("vector")),
        "IVF_FLAT", DistanceMetric.InnerProduct, timestamp = 1000L)
    }
    val cand = VectorIndex.open(spark, uri)
      .query(queries.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        MmrCand, nprobe = 1 << 30)
      .select("qid", "id")
    graft.operators.MmrDiversify.rerankCandidates(cand, db, queries, MmrK, MmrLambdaPpm,
        idCol = "vec_id", vecCol = "embedding", qidCol = "vec_id", qvecCol = "embedding")
      .select(col("qid"), col("rank"), col("id").as("neighbor_id"))
      .orderBy("qid", "rank")
  }

  private def mmrOracle: String = {
    val lam1 = 1000000L - MmrLambdaPpm
    def strict(a: String, b: String) =
      s"CAST(floor(list_sum(list_transform(list_zip($a::DOUBLE[], $b::DOUBLE[]), " +
        s"s -> s[1] * s[2])) * 1000000.0) AS BIGINT)"
    val cand =
      s"""cand AS (
         |  SELECT q.vec_id AS qid, n.vec_id AS id, n.embedding AS emb,
         |         ${strict("n.embedding", "q.embedding")} AS rel
         |  FROM (SELECT * FROM embeddings WHERE vec_id < $NQ) q
         |  CROSS JOIN embeddings n
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY list_inner_product(n.embedding, q.embedding) DESC, n.vec_id) <= $MmrCand)""".stripMargin
    val s1 =
      s"""s1 AS (
         |  SELECT qid, id FROM cand
         |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY rel DESC, id) = 1)""".stripMargin
    val steps = (2 to MmrK).map { t =>
      val prev = (1 until t).map(i => s"SELECT qid, id FROM s$i").mkString(" UNION ALL ")
      s"""s$t AS (
         |  SELECT qid, id FROM (
         |    SELECT c.qid, c.id,
         |      $MmrLambdaPpm * c.rel - $lam1 * max(${strict("c.emb", "p.emb")}) AS mmr
         |    FROM cand c
         |    JOIN (SELECT pp.qid, pp.id, cc.emb FROM ($prev) pp
         |          JOIN cand cc ON cc.qid = pp.qid AND cc.id = pp.id) p
         |      ON p.qid = c.qid
         |    WHERE NOT EXISTS (SELECT 1 FROM ($prev) x
         |                      WHERE x.qid = c.qid AND x.id = c.id)
         |    GROUP BY c.qid, c.id, c.rel)
         |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, id) = 1)""".stripMargin
    }
    val union = (1 to MmrK)
      .map(t => s"SELECT qid, $t AS rank, id AS neighbor_id FROM s$t")
      .mkString(" UNION ALL ")
    (Seq(cand, s1) ++ steps).mkString("WITH ", ",\n", "\n") +
      s"SELECT qid, rank, neighbor_id FROM ($union) ORDER BY qid, rank"
  }

  /** Matryoshka (MRL) two-stage retrieval ([[Knn.matryoshka]] /
    * [[Knn.matryoshkaRerank]]): shortlist by cosine over the leading
    * [[MatPrefixDims]] of 64 dimensions — served from an IVF index BUILT
    * ON THE MATERIALIZED PREFIX, probed at probe-all — then exact
    * full-dimension re-rank of the [[MatShortlist]] candidates. The DuckDB
    * oracle replays BOTH stages (prefix slice, shortlist cut, re-rank), so
    * the two-stage decomposition itself is hash-checked — same float
    * boundary contract as the flat knn oracles. */
  private val MatPrefixDims = 16
  private val MatShortlist = 30
  private def knnMatryoshka(spark: SparkSession, dir: String): DataFrame = {
    val db = emb(spark, dir)
    val queries = db.where(col("vec_id") < NQ)
    // the deployment shape end-to-end: the 16-dim PREFIX materialized as
    // its own IVF index (the shortlist scan shrinks dims/prefix× on top
    // of partition pruning), probed at probe-all (≡ the slice scan,
    // MatryoshkaSpec pins the seam), full vectors touched only by the
    // exact re-rank; the oracle replays the slice form
    val uri = cachedIndex("mat_prefix_ivf", dir) { u =>
      Ingest.ingest(spark, u,
        db.select(col("vec_id").as("external_id"),
          slice(col("embedding"), 1, MatPrefixDims).as("vector")),
        "IVF_FLAT", DistanceMetric.Cosine, timestamp = 1000L)
    }
    val cand = VectorIndex.open(spark, uri)
      .query(queries.select(col("vec_id").as("qid"),
          slice(col("embedding"), 1, MatPrefixDims).as("qvec")),
        MatShortlist, nprobe = 1 << 30)
      .select("qid", "id")
    Knn.matryoshkaRerank(cand, db, queries, K, DistanceMetric.Cosine,
        idCol = "vec_id", vecCol = "embedding", qidCol = "vec_id", qvecCol = "embedding")
      .select(col("qid"), col("id").as("neighbor_id"))
      .orderBy("qid", "neighbor_id")
  }

  /** ColPali-style late-interaction (MaxSim) retrieval: embeddings grouped
    * four per object (`vec_id DIV 4`) play the reference's
    * multi-vector-per-external-id layout (reference:
    * apis/python/src/tiledb/vector_search/embeddings/colpali_embedding.py
    * :88-104 stacks per-patch vectors under one external id); the first
    * [[MaxSimQObjs]] objects are the query batch. The shortlist is served
    * THROUGH THE PRODUCTION SEAM — an IVF_FLAT InnerProduct [[VectorIndex]]
    * over the per-vector table, probed exhaustively ([[MaxSimShortlist]]
    * hits per query vector; probe-all ≡ the exact scan, MaxSimSpec proves
    * the rerank bit-identical either way) — then the integer-micro MaxSim
    * re-rank ([[graft.operators.MaxSim.rerank]]). The oracle replays BOTH
    * stages, so the two-stage decomposition itself is hash-checked. Ids-only
    * output (floats never compared).
    *
    * SIMD caveat: the shortlist BOUNDARY rides float dot values computed
    * independently by the index kernel and DuckDB's list_inner_product; a
    * reassociated SIMD kernel (`spark.graft.simd`) could wobble a
    * near-boundary candidate in or out, changing the surfaced set. SIMD is
    * on by default in any JVM that has `jdk.incubator.vector` (build.sbt
    * adds the module to every forked run); the re-rank itself is
    * strict-fold bit-pinned regardless. */
  private val MaxSimQObjs = 8
  private val MaxSimShortlist = 16
  private def objectMaxsimTopk(spark: SparkSession, dir: String): DataFrame = {
    val vecs = emb(spark, dir).select(
      expr("vec_id DIV 4").as("obj"),
      col("vec_id").as("vid"),
      col("embedding").as("vector"))
    val qs = vecs.where(col("obj") < MaxSimQObjs).select(
      col("obj").as("qid"), col("vid").as("qvid"), col("vector").as("qvec"))
    val uri = cachedIndex("maxsim_ivf_ip", dir) { u =>
      Ingest.ingest(spark, u,
        vecs.select(col("vid").as("external_id"), col("vector")),
        "IVF_FLAT", DistanceMetric.InnerProduct, timestamp = 1000L)
    }
    val hits = VectorIndex.open(spark, uri)
      .query(qs.select(col("qvid").as("qid"), col("qvec")),
        MaxSimShortlist, nprobe = 1 << 30)
      .select(col("qid").as("qvid"), col("id").as("vid"))
    MaxSim.rerank(vecs, qs, hits, K)
      .select(col("qid"), col("obj").as("neighbor_obj"))
      .orderBy("qid", "neighbor_obj")
  }

  /** Shared shape of the DuckDB k-NN oracles: top-K per query by the given
    * ORDER BY score expression, ids-only output (floats never compared). */
  private def knnOracle(orderBy: String, nWhere: String = "TRUE"): String =
    s"""SELECT q.vec_id AS qid, n.vec_id AS neighbor_id
       |FROM (SELECT * FROM embeddings WHERE vec_id < $NQ) q
       |CROSS JOIN (SELECT * FROM embeddings WHERE $nWhere) n
       |QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY $orderBy, n.vec_id) <= $K
       |ORDER BY qid, neighbor_id""".stripMargin

  // ----- index-backed operators (built once per (sfDir, label) and reused
  // across queries in the same session) -----

  private val indexCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val buildSecs = scala.collection.concurrent.TrieMap.empty[String, Double]

  private def cachedIndex(label: String, dir: String)(build: String => Unit): String =
    indexCache.getOrElseUpdate(s"$label|$dir", {
      val uri = Files.createTempDirectory(s"graft_entry_$label").toString
      val t0 = System.nanoTime()
      build(uri)
      buildSecs.put(label,
        buildSecs.getOrElse(label, 0.0) + (System.nanoTime() - t0) / 1e9)
      uri
    })

  /** Seconds spent inside each cachedIndex builder so far this session. */
  def buildSeconds: Map[String, Double] = buildSecs.toMap

  /** Construct every query's plan WITHOUT executing it: index builds fire
    * at plan-construction time (inside cachedIndex), so this forces each
    * fixture build exactly once and a bench can then time build and
    * query paths separately instead of charging a build to whichever
    * query happens to run first. Construction failures are swallowed here —
    * they resurface, attributed, in the bench's timed run. */
  def prebuild(spark: SparkSession, dir: String): Map[String, Double] = {
    queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      try { fn(spark, dir); () } catch { case _: Throwable => () }
    }
    buildSeconds
  }

  private def embAsIndexInput(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).select(col("vec_id").as("external_id"), col("embedding").as("vector"))

  private def idxQueries(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).where(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private def idsOnly(hits: DataFrame): DataFrame =
    hits.select(col("qid"), col("id").as("neighbor_id")).orderBy("qid", "neighbor_id")

  /** IVF_FLAT with nprobe=partitions: exact-equivalent, validates the whole
    * partition/prune/probe pipeline against the brute-force oracle. */
  private def ivfProbeAll(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("ivf_l2", dir) { u =>
      Ingest.ingest(spark, u, embAsIndexInput(spark, dir), "IVF_FLAT",
        DistanceMetric.L2, timestamp = 1000L)
    }
    idsOnly(VectorIndex.open(spark, uri).query(idxQueries(spark, dir), K, nprobe = 1 << 30))
  }

  /** IVF partition stats (the reference's `partition_indexes` CSR offsets,
    * ingestion.py:2119-2168 — SURVEY A5): per-partition counts + cumulative
    * offsets of the persisted ivf_l2 index; the oracle recomputes both
    * from the hive-partitioned base parquet. */
  private def ivfPartitionHistogram(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("ivf_l2", dir) { u =>
      Ingest.ingest(spark, u, embAsIndexInput(spark, dir), "IVF_FLAT",
        DistanceMetric.L2, timestamp = 1000L)
    }
    VectorIndex.open(spark, uri).partitionHistogram().orderBy("partition_id")
  }

  /** Attribute-filtered ANN: candidates restricted to an id allow-list
    * (every third vector) BEFORE ranking, at probe-all — exact, so the
    * brute-force-over-the-filtered-set oracle must match hash-for-hash.
    * Exercises [[graft.index.VectorIndex.queryFiltered]]'s pre-filter
    * semi-join on the IVF partition-pruned scan. */
  private def ivfFiltered(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("ivf_l2", dir) { u =>
      Ingest.ingest(spark, u, embAsIndexInput(spark, dir), "IVF_FLAT",
        DistanceMetric.L2, timestamp = 1000L)
    }
    val allow = emb(spark, dir).where(col("vec_id") % 3 === 0).select("vec_id")
    idsOnly(VectorIndex.open(spark, uri)
      .queryFiltered(idxQueries(spark, dir), K, allow, nprobe = 1 << 30))
  }

  /** Filtered SQL top-k: a user WHERE composes with the probe rewrite —
    * the probe filter lands on the scan, the predicate restricts candidates
    * before the TakeOrdered. Exact at the probe-all registration (= brute
    * force over the allowed set), the SQL twin of
    * [[graft.index.VectorIndex.queryFiltered]]. */
  private def sqlIndexTopkFiltered(spark: SparkSession, dir: String): DataFrame = {
    sqlIvfSetup(spark, dir, "graft_vecs")
    val qv = emb(spark, dir).where(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val qlit = floatArrayLit(qv)
    spark.sql(
      s"""SELECT CAST(0 AS BIGINT) AS qid, external_id AS neighbor_id
         |FROM graft_vecs
         |WHERE external_id % 3 = 0
         |ORDER BY dist_l2(vector, $qlit), external_id LIMIT $K""".stripMargin)
      .orderBy("neighbor_id")
  }

  /** Shared SQL-surface setup: graft functions + the probe rewrite
    * installed into the plain session (experimental extraOptimizations — no
    * session-creation extensions needed), the ivf_l2 index built once, and
    * its base registered as `viewName` at probe-all (exact results for the
    * brute-force oracles). */
  private def sqlIvfSetup(spark: SparkSession, dir: String, viewName: String): Unit = {
    graft.functions.registerAll(spark)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.IndexProbeRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.IndexProbeRewrite
    val uri = cachedIndex("ivf_l2", dir) { u =>
      Ingest.ingest(spark, u, embAsIndexInput(spark, dir), "IVF_FLAT",
        DistanceMetric.L2, timestamp = 1000L)
    }
    graft.plans.GraftSql.registerIndexTable(spark, viewName, uri, nprobe = 1 << 30)
  }

  /** 9 significant digits round-trip float32 exactly through double
    * literals; Locale.ROOT so a comma-decimal default locale can't corrupt
    * the SQL array literal. */
  private def floatArrayLit(qv: Seq[Float]): String =
    "cast(array(" + qv.map(x =>
      String.format(java.util.Locale.ROOT, "%.9e", Float.box(x))).mkString(",") +
      ") as array<float>)"

  /** SQL surface: `ORDER BY dist_l2(vector, <const>) LIMIT k` against a
    * registered IVF base table, rewritten by
    * [[graft.plans.IndexProbeRewrite]] into a partition probe. */
  private def sqlIndexTopk(spark: SparkSession, dir: String): DataFrame = {
    sqlIvfSetup(spark, dir, "graft_vecs")
    val qv = emb(spark, dir).where(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val qlit = floatArrayLit(qv)
    spark.sql(
      s"""SELECT CAST(0 AS BIGINT) AS qid, external_id AS neighbor_id
         |FROM graft_vecs
         |ORDER BY dist_l2(vector, $qlit), external_id LIMIT $K""".stripMargin)
      .orderBy("neighbor_id")
  }

  /** Shared body of the single-constant SQL-surface queries over a
    * registered non-IVF_FLAT index table: install the rewrite, build or
    * reuse the fixture, register the view at probe-all (exact), run
    * `ORDER BY dist_l2(vector, <const>), external_id LIMIT k`. */
  private def sqlTopkOverIndex(
      spark: SparkSession, dir: String, label: String, viewName: String)(
      build: String => Unit): DataFrame = {
    graft.functions.registerAll(spark)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.IndexProbeRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.IndexProbeRewrite
    val uri = cachedIndex(label, dir)(build)
    graft.plans.GraftSql.registerIndexTable(spark, viewName, uri, nprobe = 1 << 30)
    val qv = emb(spark, dir).where(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    spark.sql(
      s"""SELECT CAST(0 AS BIGINT) AS qid, external_id AS neighbor_id
         |FROM $viewName
         |ORDER BY dist_l2(vector, ${floatArrayLit(qv)}), external_id LIMIT $K""".stripMargin)
      .orderBy("neighbor_id")
  }

  /** SQL surface over an IVF_PQ-backed table: the rewrite prunes
    * partition_id on the PQ index's coarse centroids and the pruned scan
    * re-ranks the ORIGINAL vectors stored beside the codes — at probe-all
    * registration this is exact (brute-force oracle). */
  private def sqlIndexTopkPq(spark: SparkSession, dir: String): DataFrame =
    sqlTopkOverIndex(spark, dir, "ivf_pq", "graft_vecs_pq") { u =>
      Ingest.ingest(spark, u, embAsIndexInput(spark, dir), "IVF_PQ",
        DistanceMetric.L2, timestamp = 1000L)
    }

  /** SQL surface over an IVF_SQ8-backed table (shares the `ivf_sq8`
    * cached build): the rewrite prunes partition_id on the quantizer
    * index's coarse centroids and the SQL scan reads the ORIGINAL float
    * vectors stored beside the codes (columnar pruning skips the `sq`
    * bytes entirely for a float-distance query) — at probe-all
    * registration this is exact (brute-force oracle). */
  private def sqlIndexTopkSq8(spark: SparkSession, dir: String): DataFrame =
    sqlTopkOverIndex(spark, dir, "ivf_sq8", "graft_vecs_sq8") { u =>
      Ingest.ingest(spark, u, embAsIndexInput(spark, dir), "IVF_SQ8",
        DistanceMetric.L2, timestamp = 1000L)
    }

  /** SQL surface over a sharded VAMANA-backed table: the rewrite prunes
    * shard_id on the shard centroids (the routed search's candidate
    * narrowing, exact scan inside the probed shards) — at probe-all
    * registration this is exact (brute-force oracle). */
  private def sqlIndexTopkVamana(spark: SparkSession, dir: String): DataFrame =
    sqlTopkOverIndex(spark, dir, "vamana_routed", "graft_vecs_vam") { u =>
      Ingest.ingest(spark, u, embAsIndexInput(spark, dir), "VAMANA",
        DistanceMetric.L2, timestamp = 1000L,
        partitions = Some(16), shardReplicas = Some(3))
    }

  /** SQL surface, multi-query JOIN form: per-query top-k via
    * `row_number() OVER (PARTITION BY q.qid ORDER BY dist_l2(...)) <= k`
    * over queries × registered base. [[graft.plans.IndexProbeRewrite]]
    * turns the cross join into an explode-probes equi-join on partition_id
    * (the programmatic IVF plan); probe-all registration keeps it exact for
    * the brute-force window oracle. */
  private def sqlIndexTopkBatch(spark: SparkSession, dir: String): DataFrame = {
    sqlIvfSetup(spark, dir, "graft_vecs_b")
    emb(spark, dir).where(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .createOrReplaceTempView("graft_batch_queries")
    spark.sql(
      s"""SELECT qid, neighbor_id FROM (
         |  SELECT q.qid, b.external_id AS neighbor_id,
         |         row_number() OVER (PARTITION BY q.qid
         |                            ORDER BY dist_l2(b.vector, q.qvec),
         |                                     b.external_id) AS rn
         |  FROM graft_batch_queries q CROSS JOIN graft_vecs_b b
         |) WHERE rn <= $K""".stripMargin)
      .orderBy("qid", "neighbor_id")
  }

  /** IVF_FLAT cosine (normalize-at-ingest + L2 probe, reference
    * ivf_flat_index.py:254-255), probe-all → matches cosine brute force. */
  private def ivfCosineProbeAll(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("ivf_cos", dir) { u =>
      Ingest.ingest(spark, u, embAsIndexInput(spark, dir), "IVF_FLAT",
        DistanceMetric.Cosine, timestamp = 1000L)
    }
    idsOnly(VectorIndex.open(spark, uri).query(idxQueries(spark, dir), K, nprobe = 1 << 30))
  }

  /** IVF_FLAT pruned probe (the production path): no SQL oracle (k-means is
    * engine-internal), driver records rows-only; recall is spec-tested. */
  private def ivfNprobe(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("ivf_l2", dir) { u =>
      Ingest.ingest(spark, u, embAsIndexInput(spark, dir), "IVF_FLAT",
        DistanceMetric.L2, timestamp = 1000L)
    }
    idsOnly(VectorIndex.open(spark, uri).query(idxQueries(spark, dir), K))
  }

  /** Shared fixture: FLAT base at ts=1000 + updates log at ts=1100
    * (delete ids %20==0, re-vector ids %20==1 reversed, add ids+1000000
    * reversed for vec_id<50). */
  /** The ONE updates script `updatesOracle` replays — shared by every
    * fixture that exercises the log (FLAT, BINARY, consolidation), so the
    * oracle and all its Scala twins stay in lockstep at a single edit
    * point: deletes (%20==0), re-vectors (%20==1, reversed), and +1000000
    * additions for ids < 50, all at ts=1100 over the ts=1000 base. */
  private def applyUpdatesScript(idx: VectorIndex, base: DataFrame): Unit = {
    // one buffered append (updateDeleteBatch), not three: the three logical
    // batches share ts=1100 and touch disjoint ids, so the log rows — and
    // therefore every latest-per-id read — are identical to the sequential
    // three-call form, at a third of the write jobs + metadata flips
    // (guide §6 job-count batching; the r13 VERDICT's maintenance item).
    idx.updateDeleteBatch(
      upserts = base.where(col("external_id") % 20 === 1)
        .select(col("external_id"), reverse(col("vector")).as("vector"))
        .unionByName(base.where(col("external_id") < 50)
          .select((col("external_id") + 1000000L).as("external_id"),
            reverse(col("vector")).as("vector"))),
      deleteIds = base.where(col("external_id") % 20 === 0)
        .select(col("external_id")),
      ts = 1100L)
  }

  private def flatUpdIndex(spark: SparkSession, dir: String): String =
    cachedIndex("flat_upd", dir) { u =>
      val base = embAsIndexInput(spark, dir)
      applyUpdatesScript(
        Ingest.ingest(spark, u, base, "FLAT", DistanceMetric.L2, timestamp = 1000L),
        base)
    }

  /** FLAT index + updates log, queried through the two-branch merge
    * (reference: index.py:338-416). */
  private def updatesKnn(spark: SparkSession, dir: String): DataFrame =
    idsOnly(VectorIndex.open(spark, flatUpdIndex(spark, dir))
      .query(idxQueries(spark, dir), K))

  /** BINARY index type under the SAME updates script as [[flatUpdIndex]],
    * queried at probe-all (fetchK >= |base| → exact) — proving the
    * sign-sketch type rides the shared updates/merge machinery; the FLAT
    * updates oracle applies verbatim. */
  private def binaryIdxUpdatesKnn(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("bin_upd", dir) { u =>
      val base = embAsIndexInput(spark, dir)
      applyUpdatesScript(
        Ingest.ingest(spark, u, base, "BINARY", DistanceMetric.L2, timestamp = 1000L),
        base)
    }
    idsOnly(VectorIndex.open(spark, uri)
      .query(idxQueries(spark, dir), K, nprobe = 1 << 30))
  }

  /** U4 oracle-visible: the SAME updates script consolidated into a fresh
    * base version (reference index.py:503-577) — the folded index must
    * serve exactly what the log-merging query served, so the updates
    * oracle applies verbatim. */
  private def consolidatedUpdatesKnn(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("flat_consol", dir) { u =>
      val base = embAsIndexInput(spark, dir)
      applyUpdatesScript(
        Ingest.ingest(spark, u, base, "FLAT", DistanceMetric.L2, timestamp = 1000L),
        base)
      VectorIndex.open(spark, u).consolidateUpdates(newTs = 3000L)
    }
    idsOnly(VectorIndex.open(spark, uri).query(idxQueries(spark, dir), K))
  }

  /** U5+U6 oracle-visible: the SAME logical updates as
    * [[applyUpdatesScript]], applied as 15 separate log writes (each
    * %100-band of deletes / re-vectors / additions its own fragment pile,
    * far past the reference's >10-fragment auto-consolidation threshold,
    * index.py:837-858), then [[graft.index.VectorIndex.consolidateUpdatesLog]]
    * compacts the pile into ~128 MB files and
    * [[graft.index.VectorIndex.vacuum]] (index.py:579-598) sweeps the
    * remainder — the compacted+vacuumed log must serve exactly what the
    * fragment pile served, so the shared updates oracle applies verbatim. */
  private def lifecycleCompactedKnn(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("flat_compact", dir) { u =>
      val base = embAsIndexInput(spark, dir)
      val idx = Ingest.ingest(spark, u, base, "FLAT", DistanceMetric.L2,
        timestamp = 1000L)
      // %20==0 ids are %100 in {0,20,..,80}; %20==1 ids in {1,21,..,81}:
      // five disjoint bands each — no id is written twice, so latest-per-id
      // resolution equals the 3-batch script's. The 15 logical batches land
      // through ONE buffered append (appendLogFragments) whose explicit
      // fragment partitioner still writes each batch as its own fragment
      // file — same on-disk pile (15 fragments > the 10-fragment
      // auto-consolidation threshold), same rows, 1 write job + metadata
      // flip instead of 15 (guide §6; r13 VERDICT maintenance batching).
      val nullVec = lit(null).cast("array<float>")
      val batches = (0 until 5).flatMap { b => Seq(
        base.where(col("external_id") % 100 === 20 * b)
          .select(col("external_id"), nullVec.as("vector")),
        base.where(col("external_id") % 100 === 20 * b + 1)
          .select(col("external_id"), reverse(col("vector")).as("vector")),
        base.where(col("external_id") < 50 && col("external_id") % 5 === b)
          .select((col("external_id") + 1000000L).as("external_id"),
            reverse(col("vector")).as("vector")))
      }
      idx.appendLogFragments(
        batches.zipWithIndex
          .map { case (df, i) =>
            df.withColumn("ts", lit(1100L)).withColumn("__frag", lit(i)) }
          .reduce(_ unionByName _),
        fragments = batches.length)
      def fragments = graft.index.Storage.listFiles(s"$u/updates")
        .count(_._1.endsWith(".parquet"))
      val before = fragments
      require(before > 10,
        s"graft: lifecycle fixture wrote only $before fragments — below the threshold")
      require(VectorIndex.open(spark, u).consolidateUpdatesLog(),
        "graft: the >10-fragment log must trigger compaction")
      val compacted = fragments
      require(compacted < before,
        s"graft: compaction left $compacted fragments (was $before)")
      VectorIndex.open(spark, u).vacuum()
    }
    idsOnly(VectorIndex.open(spark, uri).query(idxQueries(spark, dir), K))
  }

  /** U8 oracle-visible: clear_history drops the v1000 base (reference
    * index.py:626-735); the surviving v2000 full corpus must serve exact
    * brute force. */
  private def clearedHistoryKnn(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("flat_clearhist", dir) { u =>
      val base = embAsIndexInput(spark, dir)
      Ingest.ingest(spark, u, base.where(col("external_id") % 2 === 0), "FLAT",
        DistanceMetric.L2, timestamp = 1000L)
      Ingest.ingest(spark, u, base, "FLAT", DistanceMetric.L2,
        timestamp = 2000L, appendMeta = true)
      VectorIndex.open(spark, u).clearHistory(1500L)
    }
    idsOnly(VectorIndex.open(spark, uri).query(idxQueries(spark, dir), K))
  }

  /** S2 oracle-visible: header-only metadata of the exported fvecs fixture
    * must equal the source table's own statistics. */
  private def vecsSourceMetadata(spark: SparkSession, dir: String): DataFrame = {
    val path = fvecsFixture(spark, dir)
    val (n, d) = graft.io.VecsIO.sourceMetadata(spark, s"$path/emb.fvecs")
    import spark.implicits._
    Seq((n, d)).toDF("n_vectors", "dims")
  }

  /** A6 oracle-visible: exact corpus medoid (argmin of summed L2, id
    * ties) — the seed-selection kernel Vamana builds run per shard,
    * expressed as the distributed cross-score it is. Quadratic by
    * definition: run it on shard/sample-sized sets at corpus scale (the
    * builds do), never the raw 100 TB. */
  private def embMedoid(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    // Par.spread on the probe side: the broadcast cross join evaluates
    // |db|^2 distance kernels in the left side's scan stage — a 1-split
    // source serializes all of them (guide §2.5; no-op at scale)
    graft.Par.spread(e.select(col("vec_id").as("ia"), col("embedding").as("va")))
      .crossJoin(e.select(col("embedding").as("vb")))
      .select(col("ia"),
        graft.functions.dist_l2(col("va"), col("vb")).cast("double").as("d"))
      .groupBy("ia").agg(sum("d").as("total"))
      .orderBy(col("total"), col("ia")).limit(1)
      .select(col("ia").as("medoid_id"))
  }

  /** Time-RANGE open (reference index.py:115-177, `timestamp=(start, end)`
    * tuple form): start=1100 is past the first ingestion (ts=1000), so no
    * base version is attributable to the window and only updates-log
    * writes in [1100, ∞) are searched — the re-vectored %20==1 rows plus
    * the +1000000 additions; tombstones drop (index.py:123-128 sets
    * query_base_array=False; semantics mirrored from
    * test_ingestion.py:1009 `timestamp=(2, None)`). */
  private def timetravelRangeKnn(spark: SparkSession, dir: String): DataFrame =
    idsOnly(VectorIndex.openRange(spark, flatUpdIndex(spark, dir), Some(1100L), None)
      .query(idxQueries(spark, dir), K))

  /** Two base versions (evens at ts=1000, all at ts=2000); read at ts=1500
    * must see only the first (reference: index.py:94-177). */
  private def timetravelKnn(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("flat_tt", dir) { u =>
      val base = embAsIndexInput(spark, dir)
      Ingest.ingest(spark, u, base.where(col("external_id") % 2 === 0), "FLAT",
        DistanceMetric.L2, timestamp = 1000L)
      Ingest.ingest(spark, u, base, "FLAT", DistanceMetric.L2,
        timestamp = 2000L, appendMeta = true)
    }
    idsOnly(VectorIndex.open(spark, uri, Some(1500L)).query(idxQueries(spark, dir), K))
  }

  /** FNV-1a of a string expression `v`, replayed byte-exactly in DuckDB
    * HUGEINT mod-2^64 arithmetic (valid because the corpus is ASCII so
    * `unicode(char)` = byte; the xor only touches the low byte). Shared by
    * the winnow / simhash / object-search oracles. */
  private def fnvSql(v: String): String =
    s"""list_reduce(list_concat([14695981039346656037::HUGEINT],
       |      list_transform(split($v, ''), c -> unicode(c)::HUGEINT)),
       |  (h, x) -> ((h - (h % 256) + xor((h % 256)::BIGINT, x::BIGINT)::HUGEINT)
       |             * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)""".stripMargin

  /** HashTextEmbedding replayed in SQL, UN-normalized: FNV per token,
    * bucket = low 6 bits (== Scala's ((h % 64) + 64) % 64 on the signed
    * long), sign from bit 32, per-bucket sums. Normalization cancels
    * inside cosine similarity, so the raw integer vector ranks
    * identically. `hs` must be the token-hash list column. */
  private val hashEmbeddingSql: String =
    """list_transform(range(0, 64), b ->
      |    list_sum(list_transform(hs,
      |      h -> CASE WHEN h % 64 = b
      |                THEN (CASE WHEN (h // 4294967296::HUGEINT) % 2 = 0 THEN 1 ELSE -1 END)
      |                ELSE 0 END))::DOUBLE)""".stripMargin

  /** Chunking (1000/100, ids doc_id*1000+i) + hash embeddings + cosine
    * scoring of the doc_id<5 query batch — the shared head of the
    * object-search oracles. `docsSrc` is the chunked CORPUS source (a
    * table name or inline subquery yielding (doc_id, text)); the QUERY
    * batch always reads the original documents table. */
  private def objectSearchScoredCteFrom(docsSrc: String): String =
    s"""WITH chunks AS (
       |  SELECT doc_id * 1000 + i AS external_id, doc_id, ch AS text
       |  FROM (
       |    SELECT doc_id, unnest(chs) AS ch, generate_subscripts(chs, 1) - 1 AS i
       |    FROM (
       |      SELECT doc_id,
       |        CASE WHEN length(text) <= 1000 THEN [text]
       |             ELSE list_transform(range(0, length(text), 900), s -> substr(text, s+1, 1000))
       |        END AS chs
       |      FROM $docsSrc)
       |  )
       |),
       |ch AS (SELECT external_id, doc_id,
       |  list_transform(regexp_split_to_array(trim(text), '\\s+'), t -> ${fnvSql("t")}) AS hs
       |  FROM chunks),
       |cv AS (SELECT external_id, doc_id, $hashEmbeddingSql AS v FROM ch),
       |qh AS (SELECT doc_id AS qid,
       |  list_transform(regexp_split_to_array(trim(text), '\\s+'), t -> ${fnvSql("t")}) AS hs
       |  FROM documents WHERE doc_id < 5),
       |qv AS (SELECT qid, $hashEmbeddingSql AS v FROM qh),
       |scored AS (
       |  SELECT q.qid, c.external_id, c.doc_id,
       |    list_cosine_similarity(q.v, c.v) AS sim
       |  FROM qv q CROSS JOIN cv c
       |)""".stripMargin

  private val objectSearchScoredCte: String =
    objectSearchScoredCteFrom("documents")

  /** Brute-force oracle of every single-constant `ORDER BY dist LIMIT k`
    * SQL-surface query (exact at probe-all registration, any index type). */
  private val sqlTopkSingleOracle: String =
    s"""SELECT 0::BIGINT AS qid, n.vec_id AS neighbor_id
       |FROM (SELECT * FROM embeddings WHERE vec_id = 0) q
       |CROSS JOIN embeddings n
       |QUALIFY row_number() OVER (ORDER BY list_distance(n.embedding, q.embedding), n.vec_id) <= $K
       |ORDER BY neighbor_id""".stripMargin

  private val updatesOracle: String =
    s"""WITH merged AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 NOT IN (0, 1)
       |  UNION ALL
       |  SELECT vec_id, list_reverse(embedding) FROM embeddings WHERE vec_id % 20 = 1
       |  UNION ALL
       |  SELECT vec_id + 1000000, list_reverse(embedding) FROM embeddings WHERE vec_id < 50
       |)
       |SELECT q.vec_id AS qid, n.vec_id AS neighbor_id
       |FROM (SELECT * FROM embeddings WHERE vec_id < $NQ) q
       |CROSS JOIN merged n
       |QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY list_distance(n.embedding, q.embedding), n.vec_id) <= $K
       |ORDER BY qid, neighbor_id""".stripMargin

  /** Oracle for every byte-dtype exact query (FLAT brute force, IVF_FLAT
    * probe-all, IVF_PQ full re-rank): L2 over the identically-quantized db. */
  private val u8KnnOracle: String =
    s"""WITH qdb AS (SELECT vec_id,
       |  list_transform(embedding, x -> greatest(0.0, least(255.0, floor((x + 1.0) * 127.5)))::FLOAT) AS v
       |  FROM embeddings)
       |SELECT q.vec_id AS qid, n.vec_id AS neighbor_id
       |FROM (SELECT * FROM embeddings WHERE vec_id < $NQ) q
       |CROSS JOIN qdb n
       |QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY list_distance(n.v, q.embedding), n.vec_id) <= $K
       |ORDER BY qid, neighbor_id""".stripMargin

  private val timetravelOracle: String =
    s"""SELECT q.vec_id AS qid, n.vec_id AS neighbor_id
       |FROM (SELECT * FROM embeddings WHERE vec_id < $NQ) q
       |CROSS JOIN (SELECT * FROM embeddings WHERE vec_id % 2 = 0) n
       |QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY list_distance(n.embedding, q.embedding), n.vec_id) <= $K
       |ORDER BY qid, neighbor_id""".stripMargin

  /** The [1100, ∞) window of the flat_upd fixture: updates-log writes only
    * (re-vectored %20==1 + the +1000000 additions; tombstoned %20==0 ids
    * never enter the window's additions). */
  private val timetravelRangeOracle: String =
    s"""WITH win AS (
       |  SELECT vec_id, list_reverse(embedding) AS v FROM embeddings WHERE vec_id % 20 = 1
       |  UNION ALL
       |  SELECT vec_id + 1000000, list_reverse(embedding) FROM embeddings WHERE vec_id < 50
       |)
       |SELECT q.vec_id AS qid, n.vec_id AS neighbor_id
       |FROM (SELECT * FROM embeddings WHERE vec_id < $NQ) q
       |CROSS JOIN win n
       |QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY list_distance(n.v, q.embedding), n.vec_id) <= $K
       |ORDER BY qid, neighbor_id""".stripMargin

  /** IVF_PQ with probe-all + k_factor covering the dataset: the exact
    * re-rank then reproduces brute force, validating codebooks, encode,
    * asymmetric tables, and the rerank join against the L2 oracle. */
  private def ivfPqExactRerank(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("ivf_pq", dir) { u =>
      Ingest.ingest(spark, u, embAsIndexInput(spark, dir), "IVF_PQ",
        DistanceMetric.L2, timestamp = 1000L)
    }
    val idx = VectorIndex.open(spark, uri).asInstanceOf[graft.index.IvfPqIndex]
    idsOnly(idx.queryBase(idxQueries(spark, dir), K, nprobe0 = 1 << 30,
      kFactor = 1e9f / K))
  }

  /** IVF_PQ at reference defaults (nprobe=100-clamped, k_factor=2):
    * approximate → rows-only check; the 0.75 recall gate is spec-tested. */
  private def ivfPqDefault(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("ivf_pq", dir) { u =>
      Ingest.ingest(spark, u, embAsIndexInput(spark, dir), "IVF_PQ",
        DistanceMetric.L2, timestamp = 1000L)
    }
    idsOnly(VectorIndex.open(spark, uri).query(idxQueries(spark, dir), K))
  }

  /** IVF_SQ8 at probe-all with a candidate-covering kFactor: the 1-byte/dim
    * scalar-quantized scan shortlists the whole base and the exact float
    * re-rank makes the result brute-force-identical — validates the
    * quantize/store/probe/re-rank plumbing hash-exactly
    * ([[graft.index.IvfSq8Index]]). */
  private def ivfSq8ExactRerank(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("ivf_sq8", dir) { u =>
      Ingest.ingest(spark, u, embAsIndexInput(spark, dir), "IVF_SQ8",
        DistanceMetric.L2, timestamp = 1000L)
    }
    val idx = VectorIndex.open(spark, uri).asInstanceOf[graft.index.IvfSq8Index]
    idsOnly(idx.queryBase(idxQueries(spark, dir), K, nprobe0 = 1 << 30,
      kFactor = 1e9f / K))
  }

  /** IVF_SQ8 at defaults (nprobe=√partitions, kFactor=4): genuinely
    * approximate — the DuckDB oracle replays the probe, the asymmetric
    * dequantized scoring over the PERSISTED codes/quantizer, the k·kFactor
    * shortlist, and the exact re-rank ([[ivfSq8DefaultReplayOracle]]). */
  private def ivfSq8Default(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("ivf_sq8", dir) { u =>
      Ingest.ingest(spark, u, embAsIndexInput(spark, dir), "IVF_SQ8",
        DistanceMetric.L2, timestamp = 1000L)
    }
    // the oracle replays the DEFAULT kFactor ([[sq8DefaultCand]]); a session
    // override leaked from an earlier query would silently desynchronize the
    // engine's shortlist from the replayed one — fail loudly instead
    require(spark.conf.getOption(graft.index.IvfSq8Index.KFactorKey).isEmpty,
      s"graft: ${graft.index.IvfSq8Index.KFactorKey} must be unset when " +
        "dumping ivf_sq8_default (its oracle replays the default kFactor)")
    idsOnly(VectorIndex.open(spark, uri).query(idxQueries(spark, dir), K))
  }

  /** IVF_SQ8 COSINE (normalize-at-ingest — the quantizer trains on unit
    * vectors — L2 kernels over the normalized store, distances reported
    * as sos/2, [[graft.index.IvfSq8Index]]): probe-all with a
    * candidate-covering kFactor makes the exact re-rank reproduce cosine
    * brute force, validating the normalized quantizer, the COSINE probe
    * mapping, and the report path hash-exactly — the cosine sibling of
    * ivf_flat_cosine_probe_all. */
  private def ivfSq8Cosine(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("ivf_sq8_cos", dir) { u =>
      Ingest.ingest(spark, u, embAsIndexInput(spark, dir), "IVF_SQ8",
        DistanceMetric.Cosine, timestamp = 1000L)
    }
    val idx = VectorIndex.open(spark, uri).asInstanceOf[graft.index.IvfSq8Index]
    idsOnly(idx.queryBase(idxQueries(spark, dir), K, nprobe0 = 1 << 30,
      kFactor = 1e9f / K))
  }

  /** U1–U3 on IVF_SQ8: the SAME updates script as the FLAT/BINARY updates
    * rows, queried at probe-all with the session kFactor override pinned
    * candidate-covering — the log-merged result is exact, so the shared
    * updates oracle applies verbatim (proves the quantized base and the
    * raw-vector updates log merge on the shared lifecycle machinery). */
  private def ivfSq8UpdatesKnn(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("sq8_upd", dir) { u =>
      val base = embAsIndexInput(spark, dir)
      applyUpdatesScript(
        Ingest.ingest(spark, u, base, "IVF_SQ8", DistanceMetric.L2, timestamp = 1000L),
        base)
    }
    val prior = spark.conf.getOption(graft.index.IvfSq8Index.KFactorKey)
    spark.conf.set(graft.index.IvfSq8Index.KFactorKey, (1e9 / K).toString)
    try idsOnly(VectorIndex.open(spark, uri)
      .query(idxQueries(spark, dir), K, nprobe = 1 << 30))
    finally prior match {
      case Some(v) => spark.conf.set(graft.index.IvfSq8Index.KFactorKey, v)
      case None => spark.conf.unset(graft.index.IvfSq8Index.KFactorKey)
    }
  }

  /** Shared recall-emitting shape of the two VAMANA queries. Beam search is
    * not SQL-replayable, so the driver row is made hash-checkable the way
    * the reference itself gates Vamana — accuracy vs exact brute force
    * (`apis/python/test/test_ingestion.py:23`, floor 0.85): the raw beam
    * results persist under the index, the query returns per-query
    * intersection counts against the exact twin (the oracle-green
    * knn_flat_l2 path) plus the aggregate gate flag, and the DuckDB oracle
    * recomputes the same counts independently from the persisted beams and
    * its OWN exact twin. The 0.85 floor is also asserted eagerly here, so a
    * recall regression fails the query rather than just flipping a flag. */
  private def vamanaRecallFrame(
      spark: SparkSession, dir: String, uri: String, sub: String,
      beams: DataFrame, corpus: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    beams.write.mode("overwrite").parquet(s"$uri/$sub")
    val persisted = spark.read.parquet(s"$uri/$sub")
    val db = emb(spark, dir)
    // the exact twin scans `corpus` when given (e.g. the post-updates
    // merged set) but always takes the ORIGINAL first-NQ query batch
    val exact = Knn.bruteForce(corpus.getOrElse(db), db.where(col("vec_id") < NQ), K,
        DistanceMetric.L2, idCol = "vec_id", vecCol = "embedding",
        qidCol = "vec_id", qvecCol = "embedding")
      .select(col("qid"), col("id").as("neighbor_id"))
    val perQ = exact
      .join(persisted.withColumn("__hit", lit(1)), Seq("qid", "neighbor_id"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("hits"))
      .orderBy("qid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val total = perQ.map(_._2).sum
    require(total * 100 >= 85L * NQ * K,
      s"graft: vamana recall ${total.toDouble / (NQ * K)} below the 0.85 floor ($sub)")
    perQ.toDF("qid", "hits")
      .withColumn("meets_gate", lit(true))
      .orderBy("qid")
  }

  /** VAMANA graph search at reference defaults, emitted as per-query recall
    * vs the exact twin ([[vamanaRecallFrame]]) so the driver hash-checks
    * the reference's 0.85 accuracy gate instead of a rows-only count. */
  private def vamanaKnn(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("vamana", dir) { u =>
      Ingest.ingest(spark, u, embAsIndexInput(spark, dir), "VAMANA",
        DistanceMetric.L2, timestamp = 1000L)
    }
    vamanaRecallFrame(spark, dir, uri, "results_knn",
      idsOnly(VectorIndex.open(spark, uri).query(idxQueries(spark, dir), K)))
  }

  /** VAMANA served over PQ codes (the DiskANN memory layout,
    * [[graft.index.VamanaIndex.withPqTraversal]]): the beam walks m-int
    * codes (16x smaller task state than the float path), and the merged
    * k x kFactor candidates re-rank EXACTLY from the full vectors. Same
    * recall-frame emission as vamana_knn — the reference's 0.85 accuracy
    * gate vs the exact twin, hash-checked by the DuckDB oracle. Shares the
    * vamana build; codes train+attach once per version (idempotent). */
  private def vamanaKnnPq(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("vamana", dir) { u =>
      Ingest.ingest(spark, u, embAsIndexInput(spark, dir), "VAMANA",
        DistanceMetric.L2, timestamp = 1000L)
    }
    // codebook training + encode is build work: account it like a build
    // (cachedIndex's temp dir is unused — the codes attach to the vamana uri)
    cachedIndex("vamana_pq", dir) { _ =>
      VectorIndex.open(spark, uri).asInstanceOf[graft.index.VamanaIndex]
        .buildPqCodes()
    }
    vamanaRecallFrame(spark, dir, uri, "results_pq",
      idsOnly(VectorIndex.open(spark, uri).asInstanceOf[graft.index.VamanaIndex]
        .withPqTraversal().query(idxQueries(spark, dir), K)))
  }

  /** Shard-ROUTED VAMANA search at the PERF.md sweep-validated config
    * (16 shards × 3 boundary replicas; S=5 probes here — S=4 measured
    * 0.927 on the n=10k audit fixture but 0.84 on this NQ=10 driver set,
    * one probe more clears the 0.85 floor with margin while staying
    * O(S) ≪ O(shards)): each query beam-searches only its top-S shards
    * by shard-centroid distance, and the probed-shard set prunes the
    * base/graph scans physically (the 100 TB scale path — fan-out AND
    * reads are O(S) per query instead of O(shards)). Emitted as per-query
    * recall vs the exact twin ([[vamanaRecallFrame]]). */
  private def vamanaKnnRouted(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("vamana_routed", dir) { u =>
      Ingest.ingest(spark, u, embAsIndexInput(spark, dir), "VAMANA",
        DistanceMetric.L2, timestamp = 1000L,
        partitions = Some(16), shardReplicas = Some(3))
    }
    vamanaRecallFrame(spark, dir, uri, "results_routed",
      idsOnly(VectorIndex.open(spark, uri).asInstanceOf[graft.index.VamanaIndex]
        .queryLSearch(idxQueries(spark, dir), K,
          lSearch = graft.index.VamanaIndex.DefaultLSearch, nprobeShards = 5)))
  }

  /** Shard-granular VAMANA consolidation, oracle-visible: a 16-shard
    * graph build takes the SAME updates script as the FLAT lifecycle
    * rows, then [[graft.index.VamanaIndex.consolidateUpdates]] folds the
    * log by rebuilding ONLY the touched shards' graphs (untouched shards
    * byte-copy — the incremental path, spec-gated in IndexSpec; the 100 TB
    * lever that makes graph maintenance cost O(touched), not a full
    * rebuild). The folded index is queried all-shard and emitted as
    * per-query recall vs the exact twin of the MERGED corpus — the same
    * 0.85-gate recall frame as vamana_knn, with the updates algebra
    * inside both the engine result and the DuckDB replay. */
  private def vamanaConsolidatedKnn(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("vamana_consol", dir) { u =>
      val base = embAsIndexInput(spark, dir)
      applyUpdatesScript(
        Ingest.ingest(spark, u, base, "VAMANA", DistanceMetric.L2,
          timestamp = 1000L, partitions = Some(16)),
        base)
      val folded = VectorIndex.open(spark, u).consolidateUpdates(newTs = 3000L)
      // the row certifies the INCREMENTAL path priced for 100 TB: a silent
      // fall-through to the full re-ingest (gate regression) must fail the
      // build, not quietly pass the recall check at full-rebuild cost
      require(folded.asInstanceOf[graft.index.VamanaIndex]
          .shardCentroids.length == 16,
        "graft: vamana consolidation must preserve the 16-shard geometry")
    }
    val db = emb(spark, dir)
    val merged = db.where(col("vec_id") % 20 =!= 0 && col("vec_id") % 20 =!= 1)
      .select(col("vec_id"), col("embedding"))
      .unionAll(db.where(col("vec_id") % 20 === 1)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
      .unionAll(db.where(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          reverse(col("embedding")).as("embedding")))
    vamanaRecallFrame(spark, dir, uri, "results_consol",
      idsOnly(VectorIndex.open(spark, uri).query(idxQueries(spark, dir), K)),
      corpus = Some(merged))
  }

  /** Shared fvecs fixture, exported through the DSv2 write path (executor
    * shard writes + driver commit): shard order = partition order of the
    * vec_id range sort, so re-read row ids equal vec_ids. */
  private def fvecsFixture(spark: SparkSession, dir: String): String =
    cachedIndex("fvecs", dir) { u =>
      emb(spark, dir).orderBy("vec_id").select(col("embedding").as("vector"))
        .write.format("vecs").mode("overwrite").save(s"$u/emb.fvecs")
    }

  private def fvecsRoundtripKnn(spark: SparkSession, dir: String): DataFrame = {
    val path = fvecsFixture(spark, dir)
    val db = graft.io.VecsIO.readFvecs(spark, s"$path/emb.fvecs")
    val queries = db.where(col("row_id") < NQ)
      .select(col("row_id").as("qid"), col("vector").as("qvec"))
    idsOnly(Knn.bruteForce(db, queries, K, DistanceMetric.L2,
      idCol = "row_id", vecCol = "vector"))
  }

  /** DataSource V2 surface (`format("vecs")`) over the fvecs fixture with a
    * row_id range predicate: the filter pushes into the scan as plan-time
    * split pruning + record-exact trimming — the reference's range read
    * (`read_input_vectors(start_pos, end_pos)`, ingestion.py:451-493) as an
    * ordinary Catalyst pushed filter — then exact L2 k-NN over the rows
    * that survive. */
  private def vecsDsv2RangeKnn(spark: SparkSession, dir: String): DataFrame = {
    val path = fvecsFixture(spark, dir)
    def scan = spark.read.format("vecs").load(s"$path/emb.fvecs")
    val db = scan.where(col("row_id") >= 100 && col("row_id") < 400)
    val queries = scan.where(col("row_id") < NQ)
      .select(col("row_id").as("qid"), col("vector").as("qvec"))
    idsOnly(Knn.bruteForce(db, queries, K, DistanceMetric.L2,
      idCol = "row_id", vecCol = "vector"))
  }

  /** Autodetected-source ingest (reference S1 dispatch ingestion.py:400-421
    * + F7 `size` prefix ingestion.py:3168-3171): the index is built straight
    * from the .fvecs fixture URI with a size=400 prefix (a parallel
    * `row_id < 400` filter, not a limit); absent external ids synthesize to
    * row ids, so the exact L2 oracle is brute force over vec_id < 400. */
  private def sourceIngestAutodetect(spark: SparkSession, dir: String): DataFrame = {
    val fv = fvecsFixture(spark, dir)
    val uri = cachedIndex("src_ingest", dir) { u =>
      Ingest.ingestFromSource(spark, u, s"$fv/emb.fvecs", "FLAT",
        DistanceMetric.L2, timestamp = 1000L, size = Some(400L))
    }
    idsOnly(VectorIndex.open(spark, uri).query(idxQueries(spark, dir), K))
  }

  /** uint8 FLAT index over quantized embeddings: byte-packed storage +
    * asymmetric float-query kernels; oracle quantizes identically in SQL. */
  private def knnFlatU8(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("flat_u8", dir) { u =>
      Ingest.ingest(spark, u, quantizedU8(spark, dir), "FLAT",
        DistanceMetric.L2, dtype = "uint8", timestamp = 1000L)
    }
    idsOnly(VectorIndex.open(spark, uri).query(idxQueries(spark, dir), K))
  }

  /** Quantized input shared by the byte-dtype index queries. The lower
    * clamp matches PackBytes' storage clamp-to-0, so harness and index
    * quantize identically even for embedding components < -1.0. */
  private def quantizedU8(spark: SparkSession, dir: String): DataFrame =
    embAsIndexInput(spark, dir).select(col("external_id"),
      expr("transform(vector, x -> float(greatest(0.0, least(255.0, floor((x + 1.0) * 127.5)))))")
        .as("vector"))

  /** uint8 IVF_FLAT probe-all: byte-packed partitioned storage + asymmetric
    * kernels through the full prune/probe pipeline; exact at probe-all, so
    * the quantized-in-SQL oracle applies. */
  private def ivfFlatU8(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("ivf_u8", dir) { u =>
      Ingest.ingest(spark, u, quantizedU8(spark, dir), "IVF_FLAT",
        DistanceMetric.L2, dtype = "uint8", timestamp = 1000L)
    }
    idsOnly(VectorIndex.open(spark, uri).query(idxQueries(spark, dir), K, nprobe = 1 << 30))
  }

  /** uint8 IVF_PQ with probe-all + dataset-covering k_factor: the exact
    * byte re-rank reproduces brute force over the quantized db. */
  private def ivfPqU8ExactRerank(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("ivf_pq_u8", dir) { u =>
      Ingest.ingest(spark, u, quantizedU8(spark, dir), "IVF_PQ",
        DistanceMetric.L2, dtype = "uint8", timestamp = 1000L)
    }
    val idx = VectorIndex.open(spark, uri).asInstanceOf[graft.index.IvfPqIndex]
    idsOnly(idx.queryBase(idxQueries(spark, dir), K, nprobe0 = 1 << 30,
      kFactor = 1e9f / K))
  }

  /** Exact k-NN graph (nprobe = partitions): every vector's top-K
    * neighbors, oracle = full self-join QUALIFY. */
  private def knnGraphExact(spark: SparkSession, dir: String): DataFrame =
    graft.operators.KnnGraph.build(emb(spark, dir), 5, DistanceMetric.L2,
        partitions = 8, nprobe = 8, idCol = "vec_id", vecCol = "embedding")
      .select(col("id"), col("nbr_id")).orderBy("id", "nbr_id")

  /** Hard negatives at probe-all: per vector, top-5 nearest with a
    * DIFFERENT label — exact, ids-only for the oracle hash. */
  private def knnHardNegatives(spark: SparkSession, dir: String): DataFrame =
    graft.operators.KnnGraph.hardNegatives(emb(spark, dir), 5, DistanceMetric.L2,
        partitions = 8, nprobe = 8, idCol = "vec_id", vecCol = "embedding",
        labelCol = "label")
      .select(col("id"), col("nbr_id"), col("nbr_label"))
      .orderBy("id", "nbr_id")

  /** 2-round label propagation from a 20% seed set over the exact k-NN
    * graph — ids and int labels only, oracle replays both rounds unrolled.
    * The graph is this query's INPUT, not the operator under test, so it
    * builds once under cachedIndex (bench charges it to build_total, like
    * the index fixtures) and the timed path is the propagation itself. */
  private def knnLabelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val uri = cachedIndex("knn_edges", dir) { u =>
      graft.operators.KnnGraph.build(e, 5, DistanceMetric.L2,
          partitions = 8, nprobe = 8, idCol = "vec_id", vecCol = "embedding")
        .select(col("id"), col("nbr_id"))
        .write.parquet(s"$u/edges")
    }
    val edges = graft.SessionCache.parquet(spark, s"$uri/edges")
    val seeds = e.where(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("id"), col("label"))
    graft.operators.KnnGraph.propagateLabels(edges, seeds, iters = 2)
      .orderBy("id")
  }

  /** Contrastive triplets at probe-all: exact nearest positive + hard
    * negative per anchor, ids-only. */
  private def knnTriplets(spark: SparkSession, dir: String): DataFrame =
    graft.operators.KnnGraph.contrastiveTriplets(emb(spark, dir),
        DistanceMetric.L2, partitions = 8, nprobe = 8,
        idCol = "vec_id", vecCol = "embedding", labelCol = "label")
      .orderBy("id")

  /** Blocking centroids of the ANN-graph / ANN-dedup fixtures, trained once
    * per dir with the exact arguments the operators' own internal fits
    * would use, PERSISTED to parquet (through [[cachedIndex]], so the
    * training cost lands in the bench's build split like every other
    * fixture), and passed back in as presetCentroids — the DuckDB oracles
    * replay the multi-probe blocking from the same centroids the operators
    * actually used. Keyed by the cachedIndex label, value = collected rows. */
  private val graphCentroids =
    scala.collection.concurrent.TrieMap.empty[String, (String, Array[Array[Float]])]

  private def persistedCentroids(spark: SparkSession, dir: String, label: String)(
      train: () => Array[Array[Float]]): (String, Array[Array[Float]]) =
    graphCentroids.getOrElseUpdate(s"$label|$dir", {
      val path = cachedIndex(label, dir) { u =>
        import spark.implicits._
        train().zipWithIndex.map { case (c, i) => (i, c) }
          .toSeq.toDF("partition_id", "centroid")
          .repartition(1).write.mode("overwrite").parquet(u)
      }
      // read BACK from the persisted parquet (float32 roundtrips exactly):
      // what the operator uses is byte-identical to what the oracle reads
      val cents = spark.read.parquet(path).orderBy("partition_id").collect()
        .map(r => r.getSeq[Float](r.fieldIndex("centroid")).toArray)
      (path, cents)
    })

  private def annGraphCentroids(spark: SparkSession, dir: String): (String, Array[Array[Float]]) =
    persistedCentroids(spark, dir, "graph_cents") { () =>
      val parts = 8
      val d = emb(spark, dir)
        .select(col("vec_id").cast("long").as("__id"), col("embedding").as("vector"))
      val n = d.count()
      Ingest.trainCentroids(d, parts, Ingest.autoTrainingSize(n, parts), totalRows = n)
    }

  /** Approximate k-NN graph (nprobe=2 of 8): the scale configuration;
    * hash-checked against a DuckDB replay of the blocking from the
    * persisted centroids ([[knnGraphAnnReplayOracle]]). */
  private def knnGraphAnn(spark: SparkSession, dir: String): DataFrame =
    graft.operators.KnnGraph.build(emb(spark, dir), 5, DistanceMetric.L2,
        partitions = 8, nprobe = 2, idCol = "vec_id", vecCol = "embedding",
        presetCentroids = Some(annGraphCentroids(spark, dir)._2))
      .select(col("id"), col("nbr_id")).orderBy("id", "nbr_id")

  /** Hyperplanes of the LSH fixture: generated once (seeded, deterministic),
    * persisted through [[cachedIndex]] (timed as a build; trivially fast),
    * and read back so query and oracle share byte-identical planes. */
  private def lshPlanes(spark: SparkSession, dir: String): (String, Array[Array[Float]]) =
    graphCentroids.getOrElseUpdate(s"lsh_planes|$dir", {
      val path = cachedIndex("lsh_planes", dir) { u =>
        import spark.implicits._
        val dims = emb(spark, dir).select(size(col("embedding"))).head().getInt(0)
        graft.operators.LshKnn.planes(seed = 42L, nbits = 64, dims = dims)
          .zipWithIndex.map { case (p, i) => (i, p) }
          .toSeq.toDF("plane_id", "plane")
          .repartition(1).write.mode("overwrite").parquet(u)
      }
      val ps = spark.read.parquet(path).orderBy("plane_id").collect()
        .map(r => r.getSeq[Float](r.fieldIndex("plane")).toArray)
      (path, ps)
    })

  /** LSH-bucketed ANN (8 bands × 8 bits, cosine re-rank): the training-free
    * bucketing twin of the IVF scale path. Hash-checked against a DuckDB
    * replay of the banding from the persisted hyperplanes. */
  private def knnLsh(spark: SparkSession, dir: String): DataFrame = {
    val db = emb(spark, dir)
    val queries = db.where(col("vec_id") < NQ)
    graft.operators.LshKnn.search(db, queries, K,
        lshPlanes(spark, dir)._2, bands = 8, DistanceMetric.Cosine,
        idCol = "vec_id", vecCol = "embedding",
        qidCol = "vec_id", qvecCol = "embedding")
      .select(col("qid"), col("id").as("neighbor_id"))
      .orderBy("qid", "neighbor_id")
  }

  /** Candidate-list size of the binary-Hamming query. 16k clears 0.9
    * recall@10 on the audit sweep (BinaryRecallAudit → PERF.md) while the
    * re-rank stays a 160-row-per-query join — the knob trades exactly
    * this curve. */
  private val BinFetchK = 16 * K

  /** Binary sign-quantization ANN ([[graft.operators.BinaryKnn]]): persisted
    * 1-bit/dim sketch, Hamming shortlist of 4k over the bits-only scan,
    * exact L2 re-rank. The oracle replays both stages from the raw floats
    * (sign recompute ⊇ sketch-integrity check). */
  private def knnBinaryHamming(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("bin_sketch", dir) { u =>
      graft.operators.BinaryKnn.buildSketch(embAsIndexInput(spark, dir), u,
        idCol = "external_id", vecCol = "vector")
    }
    val db = emb(spark, dir)
    graft.operators.BinaryKnn.search(spark, uri, db, db.where(col("vec_id") < NQ),
        K, fetchK = BinFetchK, DistanceMetric.L2,
        idCol = "vec_id", vecCol = "embedding",
        qidCol = "vec_id", qvecCol = "embedding")
      .select(col("qid"), col("id").as("neighbor_id"))
      .orderBy("qid", "neighbor_id")
  }

  /** Radius search: all vectors within L2 distance 1.25 of each query
    * (sqrt-free SOS comparison — the OptimizeDistancePredicates shape). */
  private def rangeSearchL2(spark: SparkSession, dir: String): DataFrame = {
    val db = emb(spark, dir)
    val queries = db.where(col("vec_id") < NQ)
    Knn.rangeSearch(db, queries, 1.25, DistanceMetric.L2,
        idCol = "vec_id", vecCol = "embedding", qidCol = "vec_id", qvecCol = "embedding")
      .select(col("qid"), col("id").as("neighbor_id"))
      .orderBy("qid", "neighbor_id")
  }

  /** Cosine-radius search (all vectors with cosine distance ≤ 0.7 — an
    * angular neighborhood query; radius chosen inside an empty band of
    * the data's distance distribution, see the oracle note). */
  private def rangeSearchCosine(spark: SparkSession, dir: String): DataFrame = {
    val db = emb(spark, dir)
    val queries = db.where(col("vec_id") < NQ)
    Knn.rangeSearch(db, queries, 0.7, DistanceMetric.Cosine,
        idCol = "vec_id", vecCol = "embedding", qidCol = "vec_id", qvecCol = "embedding")
      .select(col("qid"), col("id").as("neighbor_id"))
      .orderBy("qid", "neighbor_id")
  }

  // ----- object layer / multimodal (rows-only: hash-embedding internals) -----

  /** Cache the URI only (like [[cachedIndex]]) and re-wrap per call: an
    * ObjectIndex holds its SparkSession, and a cached instance from a
    * stopped session would poison every later invocation. */
  private def objectIndex(spark: SparkSession, dir: String): graft.objects.ObjectIndex = {
    val uri = cachedIndex("obj_idx", dir) { u =>
      graft.objects.ObjectIndex.create(spark, u,
        new graft.objects.DocumentsTableReader(dir),
        new graft.objects.HashTextEmbedding(64), timestamp = 1000L)
    }
    new graft.objects.ObjectIndex(spark, uri,
      new graft.objects.DocumentsTableReader(dir),
      new graft.objects.HashTextEmbedding(64))
  }

  /** Image-directory object search (reference DirectoryImageReader,
    * object_readers/directory_reader.py:507): a deterministic binary-file
    * fixture stands in for real images (no codecs in this container — the
    * decode slot is Multimodal.stubDecode), read through the binaryFile
    * source, FLAT-indexed, self-retrieval queried. Payload bytes come from
    * [[graft.multimodal.Multimodal.fnvBytes]] (a pure-integer FNV stream),
    * so the DuckDB oracle regenerates the payloads AND replays the
    * stub-decode signature from the formula alone — full hash check, no
    * fixture files on the oracle side. */
  private def objectSearchImage(spark: SparkSession, dir: String): DataFrame = {
    val imgRoot = cachedIndex("imgdir", dir) { u =>
      val d = new java.io.File(s"$u/images"); d.mkdirs()
      for (i <- 0 until ImgN) {
        Files.write(d.toPath.resolve(f"img_$i%04d.png"),
          graft.multimodal.Multimodal.fnvBytes(i, 512 + 8 * i))
      }
    }
    val reader = new graft.objects.DirectoryImageReader(s"$imgRoot/images", "*.png")
    val embedding = new graft.objects.StubImageEmbedding(64)
    val uri = cachedIndex("img_idx", dir) { u =>
      graft.objects.ObjectIndex.create(spark, u, reader, embedding,
        indexType = "FLAT", metric = DistanceMetric.L2, timestamp = 1000L)
    }
    val idx = new graft.objects.ObjectIndex(spark, uri, reader, embedding)
    val queries = reader.readObjects(spark).where(col("external_id") < 5)
      .select(col("external_id").as("qid"), col("payload"))
    idx.query(queries, k = 3)
      .select(col("qid"), col("rank"), col("external_id"))
      .orderBy("qid", "rank")
  }

  /** Object search over a REAL trained model's embeddings: an actual MLlib
    * Word2Vec (skip-gram) fits on the corpus, its learned word vectors
    * persist under the index, and the object pipeline (chunk → mean of
    * word vectors → FLAT cosine index → query) serves from them
    * ([[graft.objects.WordVectorTextEmbedding]]; reference analogue:
    * embeddings/sentence_transformers_embedding.py — a model's encode
    * behind the ObjectEmbedding ABC). Replay contract: training is
    * engine-internal, but the model's OUTPUT table is the persisted
    * artifact, so the DuckDB oracle recomputes chunk/query embeddings from
    * the SAME word vectors and replays the cosine top-k — the averaging,
    * indexing, and serving path are all hash-checked on real model
    * weights (the centroid-replay pattern applied to a trained model). */
  private def objectSearchW2v(spark: SparkSession, dir: String): DataFrame = {
    val uri = cachedIndex("w2v_idx", dir) { u =>
      val model = graft.objects.WordVectorTextEmbedding.train(
        docs(spark, dir), dim = 32, seed = 42L)
      graft.objects.WordVectorTextEmbedding.save(spark, model, s"$u/word_vectors")
      graft.objects.ObjectIndex.create(spark, u,
        new graft.objects.DocumentsTableReader(dir), model,
        indexType = "FLAT", metric = DistanceMetric.Cosine, timestamp = 1000L)
    }
    val model = graft.objects.WordVectorTextEmbedding.load(spark, s"$uri/word_vectors")
    val idx = new graft.objects.ObjectIndex(spark, uri,
      new graft.objects.DocumentsTableReader(dir), model)
    val queries = docs(spark, dir).where(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("text"))
    idx.query(queries, k = K2obj, nprobe = 1 << 30)
      .select(col("qid"), col("rank"), col("external_id"))
      .orderBy("qid", "rank")
  }

  /** ColPali-style late-interaction object search: [[graft.objects
    * .SplitHalvesEmbedding]] emits two unit vectors per chunk and per
    * query, an INNER_PRODUCT index stores both under the chunk's external
    * id (the reference's multi-vector layout, colpali_embedding.py
    * :88-104), and the maxsim fusion mode scores Σᵢ maxⱼ ⟨qᵢ, dⱼ⟩ over
    * the surfaced candidates. The oracle replays chunking, both
    * half-embeddings, the per-query-vector shortlist, and the max/sum
    * fold — per-half normalization cancels into cosine exactly as the
    * object_search replay. Ids-and-rank output. */
  private def objectMaxsimIndex(spark: SparkSession, dir: String): graft.objects.ObjectIndex = {
    val uri = cachedIndex("obj_maxsim", dir) { u =>
      graft.objects.ObjectIndex.create(spark, u,
        new graft.objects.DocumentsTableReader(dir),
        new graft.objects.SplitHalvesEmbedding(64),
        metric = DistanceMetric.InnerProduct, timestamp = 1000L)
    }
    new graft.objects.ObjectIndex(spark, uri,
      new graft.objects.DocumentsTableReader(dir),
      new graft.objects.SplitHalvesEmbedding(64))
  }

  private def objectSearchMaxsim(spark: SparkSession, dir: String): DataFrame = {
    val queries = docs(spark, dir).where(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("text"))
    objectMaxsimIndex(spark, dir)
      .query(queries, k = K2obj, nprobe = 1 << 30,
        fusionMode = graft.objects.ObjectIndex.FusionMaxSim)
      .select(col("qid"), col("rank"), col("external_id"))
      .orderBy("qid", "rank")
  }

  /** Semantic object search with metadata join (reference object_index
    * query path, rows-only — embedding is engine-internal). */
  private def objectSearch(spark: SparkSession, dir: String): DataFrame = {
    val queries = docs(spark, dir).where(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("text"))
    objectIndex(spark, dir).query(queries, k = 5, nprobe = 1 << 30)
      .select(col("qid"), col("rank"), col("external_id"), col("lang"), col("source"))
      .orderBy("qid", "rank")
  }

  /** Same with metadata predicate pushdown + fetch_k inflation (F4/F6).
    * Emits the result SET (no rank column): two chunks whose embeddings are
    * scalar multiples tie in exact cosine but can order either way in
    * float32 after normalization, and the deep fetch_k=250 ranking
    * surfaces such ties — membership is the stable, oracle-checkable
    * contract here (exact ranks stay covered by object_search). Residual:
    * a tie pair straddling the k=5 repack boundary itself would still
    * differ (the oracle keeps the lower id, the engine whichever float32
    * favors); deterministic per fixture, currently interior at both SFs —
    * if this row ever goes red, check the rank-5/6 sims first. */
  private def objectSearchFiltered(spark: SparkSession, dir: String): DataFrame = {
    val queries = docs(spark, dir).where(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("text"))
    objectIndex(spark, dir)
      .query(queries, k = 5, metadataCond = Some("lang = 'en'"), nprobe = 1 << 30)
      .select(col("qid"), col("external_id"), col("lang"))
      .orderBy("qid", "external_id")
  }

  /** Pre-filter twin of [[objectSearchFiltered]]: the allowed ids semi-join
    * the candidate scan before ranking (no fetch_k overfetch), so the
    * oracle is the direct top-k over allowed chunks — no repack CTE. */
  private def objectSearchPrefiltered(spark: SparkSession, dir: String): DataFrame = {
    val queries = docs(spark, dir).where(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("text"))
    objectIndex(spark, dir)
      .query(queries, k = 5, metadataCond = Some("lang = 'en'"), nprobe = 1 << 30,
        filterMode = graft.objects.ObjectIndex.FilterPre)
      .select(col("qid"), col("external_id"), col("lang"))
      .orderBy("qid", "external_id")
  }

  /** Incremental object-index maintenance (reference object_index.py:736-881
    * `update_index` + embeddings_ingestion.py): the index is CREATED on the
    * even documents only, then [[graft.objects.ObjectIndex
    * .updateIndexFromReader]] with the full reader embeds just the odd
    * documents' chunks into the vector updates log and appends their
    * metadata rows to the metadata log — the existing corpus is never
    * re-embedded. The query merges base + additions and joins the MERGED
    * metadata view. FLAT raw-store base keeps every distance bit-identical
    * to a full-corpus build, so the oracle is the full-corpus replay —
    * hash-checking that create-half + add-half ≡ build-everything. */
  private def objectSearchIncremental(spark: SparkSession, dir: String): DataFrame = {
    val full = new graft.objects.DocumentsTableReader(dir)
    val embedding = new graft.objects.HashTextEmbedding(64)
    val uri = cachedIndex("obj_incr", dir) { u =>
      graft.objects.ObjectIndex.create(spark, u,
        new graft.objects.FilteredObjectReader(full, "doc_id % 2 = 0"),
        embedding, indexType = "FLAT", timestamp = 1000L)
      new graft.objects.ObjectIndex(spark, u, full, embedding)
        .updateIndexFromReader(ts = 2000L)
    }
    val idx = new graft.objects.ObjectIndex(spark, uri, full, embedding)
    val queries = docs(spark, dir).where(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("text"))
    idx.query(queries, k = K2obj, nprobe = 1 << 30)
      .select(col("qid"), col("rank"), col("external_id"), col("lang"), col("source"))
      .orderBy("qid", "rank")
  }

  /** PARTITION-granular incremental maintenance ([[graft.objects
    * .ObjectIndex.updateIndexFromReaderPartitions]] — the reference's
    * per-partition embeddings_ingestion fan-out): the index is created
    * on a corpus whose `src3` partition is missing half its documents
    * (ids ≡ 3 mod 40), then the reader moves to the current corpus
    * (full minus doc 23, itself a src3 member) and the partition diff
    * runs with partitionCol="source": ONLY src3's signature moved, so
    * its current documents re-embed (upsert) and doc 23's chunks
    * tombstone, while the other 19 partitions are never touched
    * (work ∝ 1/20 — spec-asserted with a counting embedding). FLAT raw
    * store keeps everything bit-identical to building on the current
    * corpus directly, so the oracle is the full replay minus doc 23. */
  private def objectSearchPartitionIncremental(spark: SparkSession, dir: String): DataFrame = {
    val embP = new graft.objects.HashTextEmbedding(64)
    val v2 = new graft.objects.FilteredObjectReader(
      new graft.objects.DocumentsTableReader(dir), "doc_id != 23")
    val uri = cachedIndex("obj_part_incr", dir) { u =>
      graft.objects.ObjectIndex.create(spark, u,
        new graft.objects.FilteredObjectReader(
          new graft.objects.DocumentsTableReader(dir), "NOT (doc_id % 40 = 3)"),
        embP, indexType = "FLAT", timestamp = 1000L)
      new graft.objects.ObjectIndex(spark, u, v2, embP)
        .updateIndexFromReaderPartitions(ts = 2000L, partitionCol = "source",
          contentHashCol = Some("n_chars"))
    }
    val idx = new graft.objects.ObjectIndex(spark, uri, v2, embP)
    val queries = docs(spark, dir).where(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("text"))
    idx.query(queries, k = K2obj, nprobe = 1 << 30)
      .select(col("qid"), col("rank"), col("external_id"))
      .orderBy("qid", "rank")
  }

  /** Update + delete + consolidate through the OBJECT layer, hash-gated
    * (the rest of the reference's `update_index` lifecycle,
    * object_index.py:736-881 + index.py:418-577, composed at the object
    * level): the full corpus indexes, documents 490–499 delete, document
    * 0's content is REPLACED (its original chunks tombstone, one new chunk
    * upserts), and `consolidate` folds both the vector and metadata logs
    * into fresh base tables before the query runs. The oracle replays the
    * search over the MODIFIED corpus (docs minus the deleted range, doc 0
    * rewritten) — create+mutate+consolidate must answer exactly like
    * building from the edited corpus directly. */
  private val UpsertText = "the quantum cartography of turnips is " +
    "entirely rewritten content for the upsert row"
  private def objectSearchUpserted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val full = new graft.objects.DocumentsTableReader(dir)
    val embU = new graft.objects.HashTextEmbedding(64)
    val uri = cachedIndex("obj_upsert", dir) { u =>
      graft.objects.ObjectIndex.create(spark, u, full, embU,
        indexType = "FLAT", timestamp = 1000L)
      val idx = new graft.objects.ObjectIndex(spark, u, full, embU)
      // tombstone the deleted docs' chunks AND doc 0's original chunks
      // (the replacement text re-chunks to a single chunk id 0)
      idx.deleteObjects(
        idx.metadata.where(col("doc_id").between(490, 499) || col("doc_id") === 0)
          .select("external_id"), ts = 2000L)
      idx.updateIndex(
        Seq((0L, 0L, UpsertText)).toDF("external_id", "doc_id", "text"),
        full.readMetadata(spark).where(col("external_id") === 0), ts = 3000L)
      idx.consolidate(4000L)
      ()
    }
    val idx = new graft.objects.ObjectIndex(spark, uri, full, embU)
    val queries = docs(spark, dir).where(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("text"))
    idx.query(queries, k = K2obj, nprobe = 1 << 30)
      .select(col("qid"), col("rank"), col("external_id"))
      .orderBy("qid", "rank")
  }

  /** Multimodal binary-column pipeline: documents' bytes as payloads →
    * batch feature extraction (decode stubbed, plumbing real). */
  private def multimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    val media = docs(spark, dir).select(
      col("doc_id").as("obj_id"),
      when(col("doc_id") % 2 === 0, lit("image")).otherwise(lit("audio")).as("modality"),
      encode(col("text"), "UTF-8").as("payload"))
    graft.multimodal.Multimodal.extractFeatures(media, 16)
      .select(col("obj_id"), col("modality"),
        size(filter(col("feature"), x => x =!= 0.0f)).cast("long").as("n_nonzero"))
      .orderBy("obj_id")
  }

  /** REAL image decode through the full Spark pipeline: the fixture is
    * [[graft.multimodal.Multimodal.testCardPng]] — genuine PNGs whose
    * pixels follow an integer formula — read back through the binaryFile
    * source and decoded with javax.imageio
    * ([[graft.multimodal.Multimodal.decodeImageStats]]). PNG is lossless,
    * so the DuckDB oracle replays the per-grid-cell RGB sums from the
    * formula alone; any decode defect (channel order, stride, color space)
    * breaks the hash. */
  private def multimodalImageDecode(spark: SparkSession, dir: String): DataFrame = {
    val root = cachedIndex("imgreal", dir) { u =>
      val d = new java.io.File(s"$u/cards"); d.mkdirs()
      for (i <- 0 until CardN) {
        Files.write(d.toPath.resolve(f"card_$i%04d.png"),
          graft.multimodal.Multimodal.testCardPng(i, 16 + i, 12 + i))
      }
    }
    val media = graft.index.Ingest.withSyntheticIds(
        spark.read.format("binaryFile").load(s"$root/cards")
          .select(col("path"), col("content").as("payload")), "path")
      .select(col("external_id").as("obj_id"), col("payload"))
    graft.multimodal.Multimodal.decodeImageStats(media, grid = 4)
      .orderBy("obj_id", "cell")
  }

  /** REAL OME-Zarr decode through the full Spark pipeline
    * ([[graft.objects.OmeZarrReader]] — the NGFF store the reference's
    * bioimage reader serves via tiledb.bioimg): seven zarr pyramids
    * whose pixels follow the test-card red formula are minted on disk
    * with a DIFFERENT on-disk dialect each — zarr v2 + zlib, v2 +
    * blosc/lz4 (numcodecs' real-world default, decoded by
    * [[graft.objects.BloscCodec]] through Spark's bundled lz4-java),
    * zarr V3 (NGFF 0.5: zarr.json metadata, c/-prefixed chunk keys) +
    * zstd + per-chunk crc32c, v2 + blosc/lz4 with BIT-shuffle
    * ([[graft.objects.BloscCodec.bitShuffle]] — the published bitshuffle
    * transposition in pure JVM), a V3 `sharding_indexed` store
    * (shard files of 2×2 inner chunks behind a crc32c-protected binary
    * index, inner chunks gzip'd), and a V3 `transpose` store (chunks
    * stored x-major behind a leading array→array transpose codec,
    * un-permuted by [[graft.objects.OmeZarrReader]]'s stride remap,
    * composed with zstd + crc32c), plus the COMPOSITION — a V3 sharded
    * store whose INNER chain leads with the transpose (the per-inner-
    * chunk stride remap) — their level-0 chunks read back
    * through the one-scan binaryFile path, decompressed (checksums
    * verified), decoded and re-encoded as tile PNGs, and the per-tile
    * pixel sums re-aggregated from the DECODED rasters. The DuckDB
    * oracle replays the sums from the formula alone — chunk-grid
    * layout, all seven dialect/codec paths, shard-index walk, C-order
    * plane slice, edge cropping, and the PNG round trip all sit inside
    * the hash. */
  private val ZarrN = 7
  private def multimodalZarrDecode(spark: SparkSession, dir: String): DataFrame = {
    val root = cachedIndex("zarr_store", dir) { u =>
      // one store per on-disk dialect/codec the wild writes: v2+zlib,
      // v2+blosc/lz4 (numcodecs' default), a zarr V3 (NGFF 0.5) zstd
      // store with per-chunk crc32c, a v2 blosc BIT-shuffle store, a
      // V3 sharded store, and a V3 transposed store — all inside one
      // hash oracle
      graft.objects.OmeZarrReader.writeTestZarr(
        java.nio.file.Paths.get(u, "img_00.zarr"),
        width = 40, height = 24, levels = 3, chunkY = 8, chunkX = 16,
        pixel = (x, y) => (3 * x + 5 * y) % 256, codec = "zlib")
      graft.objects.OmeZarrReader.writeTestZarr(
        java.nio.file.Paths.get(u, "img_01.zarr"),
        width = 40, height = 24, levels = 3, chunkY = 8, chunkX = 16,
        pixel = (x, y) => (3 * x + 5 * y + 7) % 256, codec = "blosc-lz4")
      graft.objects.OmeZarrReader.writeTestZarrV3(
        java.nio.file.Paths.get(u, "img_02.zarr"),
        width = 40, height = 24, levels = 3, chunkY = 8, chunkX = 16,
        pixel = (x, y) => (3 * x + 5 * y + 14) % 256,
        codec = "zstd", crc32c = true)
      graft.objects.OmeZarrReader.writeTestZarr(
        java.nio.file.Paths.get(u, "img_03.zarr"),
        width = 40, height = 24, levels = 3, chunkY = 8, chunkX = 16,
        pixel = (x, y) => (3 * x + 5 * y + 21) % 256, codec = "blosc-lz4-bitshuffle")
      graft.objects.OmeZarrReader.writeTestZarrV3(
        java.nio.file.Paths.get(u, "img_04.zarr"),
        width = 40, height = 24, levels = 3, chunkY = 8, chunkX = 16,
        pixel = (x, y) => (3 * x + 5 * y + 28) % 256,
        codec = "gzip", shardTiles = Some((2, 2)))
      graft.objects.OmeZarrReader.writeTestZarrV3(
        java.nio.file.Paths.get(u, "img_05.zarr"),
        width = 40, height = 24, levels = 3, chunkY = 8, chunkX = 16,
        pixel = (x, y) => (3 * x + 5 * y + 35) % 256,
        codec = "zstd", crc32c = true, transpose = true)
      // the transpose-INSIDE-sharding composition: shard files of 2x2
      // inner chunks whose inner chain leads with transpose [1,0]
      graft.objects.OmeZarrReader.writeTestZarrV3(
        java.nio.file.Paths.get(u, "img_06.zarr"),
        width = 40, height = 24, levels = 3, chunkY = 8, chunkX = 16,
        pixel = (x, y) => (3 * x + 5 * y + 42) % 256,
        codec = "gzip", shardTiles = Some((2, 2)), transpose = true)
    }
    val tiles = new graft.objects.OmeZarrReader(root, "*.zarr", level = 0)
      .readObjects(spark)
    graft.multimodal.Multimodal.decodeImageStats(
        tiles.select(
          (col("image_id") * 100 + col("tile_y") * 10 + col("tile_x")).as("obj_id"),
          col("payload")), grid = 1)
      .select(col("obj_id").as("tile_id"), col("width"), col("height"),
        col("r_sum").as("pix_sum"))
      .orderBy("tile_id")
  }

  /** REAL WAV decode through the full Spark pipeline — the audio twin of
    * [[multimodalImageDecode]]: fixtures are
    * [[graft.multimodal.Multimodal.testToneWav]] formula tones encoded by
    * the JDK WAV writer, decoded with javax.sound.sampled
    * ([[graft.multimodal.Multimodal.decodeAudioStats]]); PCM is lossless,
    * so the DuckDB oracle replays the per-window |sample| sums from the
    * formula alone. */
  private def multimodalAudioDecode(spark: SparkSession, dir: String): DataFrame = {
    val root = cachedIndex("wavreal", dir) { u =>
      val d = new java.io.File(s"$u/tones"); d.mkdirs()
      // the SAME formula PCM rotates through all three JDK-decodable
      // containers (WAV little-endian, AIFF and AU big-endian), so the
      // container+endianness handling is oracle-checked — the replay
      // below is container-agnostic by construction
      for (i <- 0 until ToneN) {
        val (ext, bytes) = i % 3 match {
          case 0 => ("wav", graft.multimodal.Multimodal.testToneWav(i, 400 + 16 * i))
          case 1 => ("aiff", graft.multimodal.Multimodal.testToneAiff(i, 400 + 16 * i))
          case _ => ("au", graft.multimodal.Multimodal.testToneAu(i, 400 + 16 * i))
        }
        Files.write(d.toPath.resolve(f"tone_$i%04d.$ext%s"), bytes)
      }
    }
    val media = graft.index.Ingest.withSyntheticIds(
        spark.read.format("binaryFile").load(s"$root/tones")
          .select(col("path"), col("content").as("payload")), "path")
      .select(col("external_id").as("obj_id"), col("payload"))
    graft.multimodal.Multimodal.decodeAudioStats(media, windows = 16)
      .orderBy("obj_id", "window")
  }

  /** REAL video decode through the full Spark pipeline — the video twin
    * of [[multimodalImageDecode]]: fixtures are
    * [[graft.multimodal.Multimodal.testClipAvi]] clips (hand-built AVI
    * containers around lossless PNG frames whose pixels follow the
    * (x, y, frame)-formula), read through the binaryFile source, the
    * container walked by [[graft.multimodal.Multimodal.parseAviFrames]]
    * and each frame decoded with javax.imageio
    * ([[graft.multimodal.Multimodal.decodeVideoStats]]). The DuckDB
    * oracle replays the per-(frame, grid-cell) RGB sums from the formula
    * alone; a container-walk defect (chunk padding, frame order) or a
    * frame-decode defect breaks the hash. */
  private def multimodalVideoDecode(spark: SparkSession, dir: String): DataFrame = {
    val root = cachedIndex("avireal", dir) { u =>
      val d = new java.io.File(s"$u/clips"); d.mkdirs()
      for (i <- 0 until VidN) {
        Files.write(d.toPath.resolve(f"clip_$i%04d.avi"),
          graft.multimodal.Multimodal.testClipAvi(i, 2 + i % 3, 16 + i, 12 + i))
      }
    }
    val media = graft.index.Ingest.withSyntheticIds(
        spark.read.format("binaryFile").load(s"$root/clips")
          .select(col("path"), col("content").as("payload")), "path")
      .select(col("external_id").as("obj_id"), col("payload"))
    graft.multimodal.Multimodal.decodeVideoStats(media, grid = 2)
      .orderBy("obj_id", "frame_idx", "cell")
  }

  // ----- text analysis / dedup operators (documents + embeddings tables) -----

  private def textTokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tokens")).orderBy("doc_id")

  private def textQuality(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id") +: TextOps.qualityFacets(col("text"))
        .map { case (n, c) => c.cast("long").as(n) }: _*).orderBy("doc_id")

  private def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      TextOps.fingerprintMd5(col("text")).as("fp")).orderBy("doc_id")

  private def textLangId(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      TextOps.langId(col("text")).as("lang_pred")).orderBy("doc_id")

  /** Gopher/Dolma-style repetitiveness signal, emitted as exact integers
    * (distinct vs total 3-gram counts) so the oracle hash-compares cleanly;
    * the ratio 1 - distinct/total is derived downstream. */
  private def textRepetition(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      size(TextOps.shingleSet(col("text"))).cast("long").as("n_shingles_distinct"),
      greatest(TextOps.tokenCount(col("text")) - lit(2), lit(1)).cast("long")
        .as("n_shingles_total")).orderBy("doc_id")

  /** PII scrubbing pass (emails/IPv4/phones → type tokens); the hashed
    * redacted text is the compared surface. */
  private def textRedactPii(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      md5(TextOps.redactPii(col("text"))).as("redacted_fp"),
      length(TextOps.redactPii(col("text"))).cast("long").as("n_chars_redacted"))
      .orderBy("doc_id")

  /** PCA projection of the embedding table: fitted once (MLlib covariance
    * eigenvectors), persisted as mean + component parquet, and served as a
    * fixed-order fold per component — the SemDeDup-style dimensionality
    * reduction ahead of embedding clustering
    * ([[graft.operators.EmbeddingOps]]). */
  private def pcaUri(spark: SparkSession, dir: String): String =
    cachedIndex("emb_pca", dir) { u =>
      graft.operators.EmbeddingOps.trainPca(emb(spark, dir), u, k = 8)
    }

  private def embeddingPca(spark: SparkSession, dir: String): DataFrame = {
    val uri = pcaUri(spark, dir)
    graft.operators.EmbeddingOps.projectPca(emb(spark, dir), uri)
      .orderBy("vec_id", "comp_idx")
  }

  /** CCNet-style perplexity filter: char-trigram LM trained on the English
    * subset (the clean-reference-corpus pattern), scoring every document.
    * Log-probs are persisted as integer micro-nats at train time, so
    * scoring is exact integer summation + one double division — the DuckDB
    * oracle replays it bit-for-bit from the model parquet without calling
    * ln ([[graft.text.LangModel]]). */
  private def lmModelUri(spark: SparkSession, dir: String): String =
    cachedIndex("lm_trigram", dir) { u =>
      graft.text.LangModel.trainCharTrigram(
        docs(spark, dir).where(col("lang") === "en"), u)
    }

  private def textLmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val uri = lmModelUri(spark, dir)
    graft.text.LangModel.scoreDocs(docs(spark, dir), uri).orderBy("doc_id")
  }

  /** CCNet head/middle/tail perplexity bucketing per language
    * ([[graft.text.LangModel.ccnetBuckets]]) — the composition step
    * downstream of the LM filter; oracle recomputes the per-language
    * ranks from the persisted model in DuckDB. */
  private def textCcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val uri = lmModelUri(spark, dir)
    graft.text.LangModel.ccnetBuckets(docs(spark, dir), uri).orderBy("doc_id")
  }

  /** DSIR importance selection ([[graft.text.Dsir]]): hashed word-bigram
    * importance weights (target = the English subset, raw = whole corpus)
    * fit once to integer micro-nats; the query integer-sums the persisted
    * weights per document and flags the deterministic top-20% slice. The
    * DuckDB oracle replays features (FNV mod buckets), sums, and the
    * row_number boundary from the model parquet alone. */
  private def dsirUri(spark: SparkSession, dir: String): String =
    cachedIndex("dsir", dir) { u =>
      graft.text.Dsir.fit(docs(spark, dir), col("lang") === "en", u)
    }

  private def textDsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val uri = dsirUri(spark, dir)
    graft.text.Dsir.select(docs(spark, dir), uri).orderBy("doc_id")
  }

  /** Sliding token-window chunking (64-token windows, stride 48 —
    * [[graft.text.TextOps.chunkTokenWindows]]): the RAG splitter as a
    * pure projection; the oracle replays windows, offsets, and the FNV
    * content signature exactly. */
  private def textChunkWindows(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextOps.chunkTokenWindows(docs(spark, dir))
      .orderBy("doc_id", "chunk_idx")

  /** Corpus-wide boilerplate line removal
    * ([[graft.text.Dedup.dedupBoilerplateLines]] — the C4 §2.2 /
    * RefinedWeb line-wise filter): a line recurring across ≥ 3 distinct
    * documents is dropped everywhere and each document reassembles from
    * its surviving lines. The fixture's documents are single-line, so the
    * query first derives a deterministic multi-line frame — a newline
    * after every 3rd token, ONE global regexp_replace (an earlier
    * tokens→transform→slice derivation was semantically identical but
    * dominated the query's cost: the big nested-HOF expression is
    * re-codegen'd and re-evaluated in each of the pipeline's corpus
    * branches; the single regex is cheap everywhere) — mirrored with the
    * same pattern + 'g' in the oracle; the frequency count, the ≥ 2-char
    * candidate guard, the anti join, and the in-order reassembly are all
    * oracle-checked (two fixture docs empty out entirely, pinning the
    * all-boilerplate path). */
  private def textLineDedup(spark: SparkSession, dir: String): DataFrame = {
    val seg = docs(spark, dir).select(col("doc_id"),
      regexp_replace(trim(col("text")), "(\\S+ \\S+ \\S+) ", "$1\n").as("text"))
    Dedup.dedupBoilerplateLines(seg, minDocFreq = 3, minLineChars = 2,
        idCol = "doc_id")
      .select(col("id").as("doc_id"), col("clean_text"), col("n_lines"),
        col("removed_lines"))
      .orderBy("doc_id")
  }

  /** Training-shard export manifest ([[graft.text.ShardExport]]): the
    * corpus materialized as 8 deterministic id-hash shards; the returned
    * manifest is recomputed from the WRITTEN files (n_docs / token totals /
    * per-shard XOR of FNV-1a text hashes / id range), so the oracle —
    * which re-derives every shard assignment and every signature from the
    * documents table in HUGEINT arithmetic — transitively checks that the
    * export wrote exactly the corpus, no row dropped or duplicated. */
  private def shardExportUri(spark: SparkSession, dir: String): String =
    cachedIndex("shard_export", dir) { u =>
      graft.text.ShardExport.write(docs(spark, dir), u, numShards = 8)
    }

  private def textExportManifest(spark: SparkSession, dir: String): DataFrame =
    graft.text.ShardExport.manifest(spark, shardExportUri(spark, dir))
      .orderBy("shard")

  /** BM25 lexical top-k ([[graft.text.Bm25]]): idf fit once to integer
    * micro-nats + exact persisted avgdl; query-time scoring is one pinned
    * double expression floored per (query, doc, term) and integer-summed,
    * so the DuckDB oracle replays the whole ranking from the persisted
    * model. Query batch = the first 5 documents (the object-search
    * convention). */
  private def bm25Uri(spark: SparkSession, dir: String): String =
    cachedIndex("bm25", dir) { u =>
      graft.text.Bm25.fit(docs(spark, dir), u)
    }

  private def textBm25Topk(spark: SparkSession, dir: String): DataFrame = {
    val uri = bm25Uri(spark, dir)
    graft.text.Bm25.topkIndexed(spark,
        docs(spark, dir).where(col("doc_id") < 5), K, uri)
      .select(col("qid"), col("id").as("neighbor_id"), col("score_micro"))
      .orderBy("qid", "neighbor_id")
  }

  /** Hybrid retrieval ([[graft.operators.RankFusion]]): RRF of the dense
    * cosine top-k (embeddings) and the sparse BM25 top-k (documents) for
    * the same first-5 query ids — ranks only enter the fusion, so the
    * oracle replays both retrievers and the `1/(60+rank)` sum exactly. */
  private def hybridRrfSearch(spark: SparkSession, dir: String): DataFrame = {
    val uri = bm25Uri(spark, dir)
    val sparse = graft.text.Bm25.topkIndexed(spark,
        docs(spark, dir).where(col("doc_id") < 5), K, uri)
      .select(col("qid"), col("id"), col("rank"))
    val db = emb(spark, dir)
    val dense = Knn.bruteForce(db, db.where(col("vec_id") < 5), K,
        DistanceMetric.Cosine, idCol = "vec_id", vecCol = "embedding",
        qidCol = "vec_id", qvecCol = "embedding")
      .select(col("qid"), col("id"), col("rank"))
    graft.operators.RankFusion.rrf(dense, sparse, K)
      .select(col("qid"), col("id").as("neighbor_id"), col("fused_rank"),
        col("in_a").as("in_dense"), col("in_b").as("in_sparse"))
      .orderBy("qid", "neighbor_id")
  }

  /** Model-based quality classifier: MLlib logistic regression over the
    * exact integer quality facets, weakly labeled by the heuristic score's
    * top/bottom quantiles. Weights persist once; the query (and oracle)
    * evaluate the same fixed-order linear logit — the learned-filter stage
    * of the curation pipeline ([[graft.text.QualityClassifier]]). */
  private def qualityClfUri(spark: SparkSession, dir: String): String =
    cachedIndex("quality_clf", dir) { u =>
      graft.text.QualityClassifier.train(docs(spark, dir), u)
    }

  private def textQualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val uri = qualityClfUri(spark, dir)
    graft.text.QualityClassifier.scoreLogit(docs(spark, dir), uri)
      .orderBy("doc_id")
  }

  /** Gopher rule bank: integer facets + per-rule flags + the conjunction.
    * All-expression projection ([[TextOps.gopherRules]]) — flags are exact
    * integer cross-multiplications, so the oracle hash-compares. */
  private def textGopherRules(spark: SparkSession, dir: String): DataFrame = {
    val facetAndFlagCols =
      (TextOps.gopherFacets(col("text")) ++ TextOps.gopherRules(col("text")))
        .map { case (n, c) => c.as(n) }
    docs(spark, dir)
      .select(col("doc_id") +: facetAndFlagCols: _*)
      .orderBy("doc_id")
  }

  private def textWinnow(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
        toColumn(WinnowFingerprint(toExpression(col("text")))).as("fps"))
      .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"),
        array_min(col("fps")).as("fp_min")).orderBy("doc_id")

  private def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(docs(spark, dir), fingerprint = TextOps.tokenSetFingerprint)
      .orderBy("fp")

  private def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(spark, dir), 0.8, Seq("lang", "source"))
      .orderBy("id_a", "id_b")

  /** Token-budgeted training-mix composition: 200 tokens per (lang,
    * source) bucket, documents prioritized by id (deterministic). */
  private def textMixBudget(spark: SparkSession, dir: String): DataFrame =
    TextOps.sampleByTokenBudget(docs(spark, dir), tokenBudget = 200,
        bucketCols = Seq("lang", "source"), orderCol = col("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy("doc_id")

  /** α=0.5 temperature mixture: per-language sqrt-flattened token budget
    * shares with epoch repeat factors — integer-deterministic, so the
    * DuckDB replay hash-matches (sqrt is IEEE-correctly-rounded in both
    * engines; everything downstream is long DIV/mod). */
  private def textMixTemperature(spark: SparkSession, dir: String): DataFrame =
    TextOps.mixTemperature(docs(spark, dir), totalTokenBudget = 60000L,
        groupCol = "lang")
      .orderBy("doc_id")

  /** The temperature allocation MATERIALIZED: one row per (document,
    * epoch) the α=0.5 mix actually trains on
    * ([[graft.text.TextOps.epochExpand]]). */
  private def textMixEpochs(spark: SparkSession, dir: String): DataFrame =
    TextOps.epochExpand(TextOps.mixTemperature(docs(spark, dir),
        totalTokenBudget = 60000L, groupCol = "lang"))
      .orderBy("doc_id", "epoch_idx")

  /** Subword seed vocabulary: top-500 word substrings (≤ 6 chars,
    * "##" continuations) by corpus frequency
    * ([[graft.text.TextOps.vocabSeed]]). */
  private def textVocabSeed(spark: SparkSession, dir: String): DataFrame =
    TextOps.vocabSeed(docs(spark, dir)).orderBy("rank")

  /** Dataset-card profile per (lang, source): integer moments + lower
    * median ([[graft.text.TextOps.corpusProfile]]). The input unions three
    * deterministic NULL-lang rows so the null-bucket contract (a null group
    * key is a real profile bucket, kept through null-safe joins) is
    * oracle-checked, not just engine-internal — the oracle mirrors the
    * union and joins IS NOT DISTINCT FROM. */
  private def textCorpusProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nullBucket = Seq(
      (9000001L, "alpha beta gamma", Option.empty[String], "nullsrc"),
      (9000002L, "alpha beta", Option.empty[String], "nullsrc"),
      (9000003L, "alpha beta gamma delta epsilon", Option.empty[String], "nullsrc"))
      .toDF("doc_id", "text", "lang", "source")
    val in = docs(spark, dir).select("doc_id", "text", "lang", "source")
      .unionByName(nullBucket)
    TextOps.corpusProfile(in).orderBy("lang", "source")
  }

  /** Whitespace vs BPE-ish pretokenizer counts side by side — the regex
    * is the RE2-compatible GPT-2 subset, so DuckDB replays it exactly. */
  private def textBpeTokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_ws_tokens"),
        TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** BPE tokenizer TRAINING ([[graft.text.BpeTrainer]], Sennrich 2016):
    * learn [[BpeMergeCount]] merges from the corpus's lowercase-word
    * frequencies and emit the merge table itself. The DuckDB oracle
    * re-learns the merges — one CTE per training step replaying the
    * pair-count argmax and the leftmost-replace application with the
    * same (count desc, pair asc) tie-break — so the TRAINING ALGORITHM,
    * not just an output artifact, is hash-checked. The fitted table is
    * persisted once per session (cachedIndex) and shared with
    * [[textBpeEncode]]. */
  private val BpeMergeCount = 8
  private def bpeModelUri(spark: SparkSession, dir: String): String =
    cachedIndex("bpe_model", dir) { u =>
      graft.text.BpeTrainer.train(docs(spark, dir), BpeMergeCount)
        .repartition(1).write.parquet(s"$u/merges")
    }

  private def textBpeTrain(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.parquet(spark, s"${bpeModelUri(spark, dir)}/merges").orderBy("rank")

  /** Per-document token counts under the learned merges — the encode
    * half: a pure codegen'd replace chain ([[graft.text.BpeTrainer
    * .encodeExpr]], merges as plan literals, no UDF/join). The oracle
    * re-learns the merges AND re-encodes every document. */
  private def textBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val merges = graft.SessionCache.parquet(spark, s"${bpeModelUri(spark, dir)}/merges")
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.BpeTrainer.encodeTokenCounts(docs(spark, dir), merges)
      .orderBy("doc_id")
  }

  /** The training CTE chain shared by the BPE oracles: `head` derives
    * (word freqs → spaced segmentations w0), then `count` × (pair
    * counts, argmax, apply) steps — alphabet-agnostic (letter symbols
    * and byte-mode hex pairs ride the same replay). */
  private def bpeStepsFrom(head: String, count: Int): String = {
    val steps = (1 to count).map { t =>
      s"""p$t AS MATERIALIZED (
         |  SELECT pr AS pair, sum(f) AS c FROM (
         |    SELECT unnest(list_transform(range(1, len(s)), i -> s[i] || ' ' || s[i+1])) AS pr, f
         |    FROM (SELECT string_split(trim(w), ' ') AS s, f FROM w${t - 1}))
         |  GROUP BY 1),
         |m$t AS MATERIALIZED (SELECT pair FROM p$t ORDER BY c DESC, pair LIMIT 1),
         |w$t AS MATERIALIZED (SELECT
         |          replace(w, ' ' || (SELECT pair FROM m$t) || ' ',
         |                  ' ' || replace((SELECT pair FROM m$t), ' ', '') || ' ') AS w, f
         |        FROM w${t - 1})""".stripMargin
    }
    (Seq(head) ++ steps).mkString(",\n")
  }

  /** Letter-mode head + [[BpeMergeCount]] steps. */
  private def bpeOracleSteps: String =
    bpeStepsFrom(
      // AS MATERIALIZED is load-bearing: every step reads w(t-1) twice
      // (pair counts + apply), so inlined CTEs re-derive the chain
      // exponentially — materialization makes the replay linear in steps
      """words AS MATERIALIZED (
        |  SELECT word, count(*)::BIGINT AS f
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |        FROM documents)
        |  GROUP BY 1),
        |w0 AS MATERIALIZED (SELECT ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS w, f FROM words)""".stripMargin,
      BpeMergeCount)

  private def bpeTrainOracle: String = {
    val union = (1 to BpeMergeCount)
      .map(t => s"SELECT $t AS rank, pair FROM m$t").mkString(" UNION ALL ")
    s"""WITH $bpeOracleSteps
       |SELECT rank, pair, replace(pair, ' ', '') AS merged
       |FROM ($union) ORDER BY rank""".stripMargin
  }

  /** The sentinel-anchored encode chain over a word-valued SQL expr —
    * shared by the BPE encode oracles. */
  private def bpeChainSql(wordExpr: String): String =
    (1 to BpeMergeCount).foldLeft(
        s"' ' || regexp_replace($wordExpr, '(.)', '\\1 ', 'g')") { (c, t) =>
      s"replace($c, (SELECT ' ' || pair || ' ' FROM m$t), " +
        s"(SELECT ' ' || replace(pair, ' ', '') || ' ' FROM m$t))"
    }

  private def bpeEncodeOracle: String = {
    val chain = bpeChainSql("word")
    s"""WITH $bpeOracleSteps,
       |enc AS (
       |  SELECT doc_id, $chain AS w
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |        FROM documents))
       |SELECT doc_id, sum(len(string_split(trim(w), ' ')))::BIGINT AS n_bpe_tokens
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Token-ID export under the learned merges ([[graft.text.BpeTrainer
    * .encodeIds]] → the rank-greedy [[graft.text.BpeTokenIds]] kernel):
    * (doc_id, pos, token_id) rows, ids 0–25 = a–z, 26+i = merge i's
    * output. The oracle RE-LEARNS the merges, RE-DERIVES the vocabulary
    * from them, re-encodes every word via the sentinel chain, and
    * re-numbers positions — the whole tokenizer, training through id
    * space, sits inside one hash. Bounded to [[BpeIdsDocs]] docs. */
  private val BpeIdsDocs = 40
  private def textBpeEncodeIds(spark: SparkSession, dir: String): DataFrame = {
    val merges = graft.SessionCache.parquet(spark, s"${bpeModelUri(spark, dir)}/merges")
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.BpeTrainer.encodeIds(
        docs(spark, dir).where(col("doc_id") < BpeIdsDocs), merges)
      .orderBy("doc_id", "pos")
  }

  private def bpeEncodeIdsOracle: String = {
    val union = (1 to BpeMergeCount)
      .map(t => s"SELECT $t AS rank, pair FROM m$t").mkString(" UNION ALL ")
    s"""WITH $bpeOracleSteps,
       |vocab AS MATERIALIZED (
       |  SELECT replace(pair, ' ', '') AS sym, 26 + rank - 1 AS id FROM ($union)),
       |dw AS MATERIALIZED (
       |  SELECT doc_id, wpos, words[wpos] AS word FROM (
       |    SELECT doc_id, unnest(generate_series(1, len(words))) AS wpos, words
       |    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words
       |          FROM documents WHERE doc_id < $BpeIdsDocs))),
       |encw AS MATERIALIZED (
       |  SELECT doc_id, wpos, string_split(trim(${bpeChainSql("word")}), ' ') AS syms
       |  FROM dw),
       |toks AS (
       |  SELECT doc_id, wpos, spos, syms[spos] AS sym FROM (
       |    SELECT doc_id, wpos, unnest(generate_series(1, len(syms))) AS spos, syms
       |    FROM encw)),
       |ids AS (
       |  SELECT t.doc_id, t.wpos, t.spos,
       |    CASE WHEN length(t.sym) = 1 THEN ascii(t.sym) - 97 ELSE v.id END AS token_id
       |  FROM toks t LEFT JOIN vocab v ON v.sym = t.sym)
       |SELECT doc_id,
       |  (row_number() OVER (PARTITION BY doc_id ORDER BY wpos, spos) - 1)::INT AS pos,
       |  token_id::INT AS token_id
       |FROM ids ORDER BY doc_id, pos""".stripMargin
  }

  /** The tokenizer's LAST MILE — packed training sequences of real token
    * ids: BPE ids ([[textBpeEncodeIds]]'s kernel) laid into fixed-length
    * sequences under the deterministic shard/cumsum layout of
    * [[TextOps.packSequences]], emitting (shard, seq_id, seq_pos,
    * token_id) — the materialized batch a dataloader reads. The oracle
    * composes its two proven halves: re-learn merges → re-derive ids →
    * replay the id-hash shard routing and the per-shard running-total
    * packing. Windowed only per shard (the packSequences contract). */
  private val PackIdsSeqLen = 64
  private val PackIdsShards = 4
  private def textPackIds(spark: SparkSession, dir: String): DataFrame = {
    val merges = graft.SessionCache.parquet(spark, s"${bpeModelUri(spark, dir)}/merges")
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val d40 = docs(spark, dir).where(col("doc_id") < BpeIdsDocs)
    val ids = graft.text.BpeTrainer.encodeIds(d40, merges)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val assign = ids.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
      .withColumn("shard",
        TextOps.hashBucket(col("doc_id").cast("string"), PackIdsShards, "packids"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
    ids.join(assign, "doc_id")
      .select(col("shard").cast("long").as("shard"),
        ((col("cum_before") + col("pos")) / PackIdsSeqLen).cast("long").as("seq_id"),
        ((col("cum_before") + col("pos")) % PackIdsSeqLen).cast("long").as("seq_pos"),
        col("token_id"))
      .orderBy("shard", "seq_id", "seq_pos")
  }

  private def textPackIdsOracle: String = {
    val union = (1 to BpeMergeCount)
      .map(t => s"SELECT $t AS rank, pair FROM m$t").mkString(" UNION ALL ")
    s"""WITH $bpeOracleSteps,
       |vocab AS MATERIALIZED (
       |  SELECT replace(pair, ' ', '') AS sym, 26 + rank - 1 AS id FROM ($union)),
       |dw AS MATERIALIZED (
       |  SELECT doc_id, wpos, words[wpos] AS word FROM (
       |    SELECT doc_id, unnest(generate_series(1, len(words))) AS wpos, words
       |    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words
       |          FROM documents WHERE doc_id < $BpeIdsDocs))),
       |encw AS MATERIALIZED (
       |  SELECT doc_id, wpos, string_split(trim(${bpeChainSql("word")}), ' ') AS syms
       |  FROM dw),
       |toks AS (
       |  SELECT doc_id, wpos, spos, syms[spos] AS sym FROM (
       |    SELECT doc_id, wpos, unnest(generate_series(1, len(syms))) AS spos, syms
       |    FROM encw)),
       |tids AS (
       |  SELECT t.doc_id, t.wpos, t.spos,
       |    CASE WHEN length(t.sym) = 1 THEN ascii(t.sym) - 97 ELSE v.id END AS token_id
       |  FROM toks t LEFT JOIN vocab v ON v.sym = t.sym),
       |pos AS MATERIALIZED (
       |  SELECT doc_id,
       |    (row_number() OVER (PARTITION BY doc_id ORDER BY wpos, spos) - 1)::BIGINT AS pos,
       |    token_id
       |  FROM tids),
       |cnt AS (SELECT doc_id, count(*)::BIGINT AS n_tokens FROM pos GROUP BY doc_id),
       |asg AS (SELECT doc_id, n_tokens,
       |  ${fnvSql("doc_id::VARCHAR || ':packids'")} % $PackIdsShards AS shard FROM cnt),
       |cum AS (SELECT doc_id, shard,
       |  coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM asg)
       |SELECT c.shard::BIGINT AS shard,
       |  ((c.cum_before + p.pos) // $PackIdsSeqLen)::BIGINT AS seq_id,
       |  ((c.cum_before + p.pos) % $PackIdsSeqLen)::BIGINT AS seq_pos,
       |  p.token_id::INT AS token_id
       |FROM pos p JOIN cum c USING (doc_id)
       |ORDER BY shard, seq_id, seq_pos""".stripMargin
  }

  /** BYTE-level BPE training ([[graft.text.BpeTrainer.trainBytes]] —
    * the GPT-2-class tokenizer real pipelines train): pretokens come
    * from the RE2-safe GPT-2-style regex (contractions, ` ?letters`,
    * ` ?digits`, ` ?punct`, whitespace runs; case PRESERVED), symbols
    * are UTF-8 bytes as uppercase hex pairs, so non-ASCII text trains
    * as its real byte sequences. The corpus is deterministically
    * unicode-SALTED (the synthetic text is pure ASCII) with accented
    * Latin, CJK, and ß — multi-byte UTF-8 actually flows through
    * training. The DuckDB oracle re-learns every merge over
    * `hex(encode(word))` segmentations — pretokenizer, byte
    * decomposition, pair argmax, tie-break, and leftmost replace all
    * sit inside the hash. */
  private val BpeByteMergeCount = 8
  private val BpeByteDocs = 40

  /** The unicode salt, Spark side. EXPLICIT \\u escapes only — a pasted
    * glyph precomposes silently and breaks byte-level parity. */
  private def byteSalted(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(" caf\u00e9 na\u00efve"))
          .when(col("doc_id") % 5 === 1, lit(" \u65e5\u672c\u8a9e"))
          .when(col("doc_id") % 5 === 2, lit(" \u00fcber stra\u00dfe"))
          .otherwise(lit(""))).as("text"))

  /** The same salt in DuckDB, characters built by code point (chr) so
    * no literal glyph rides the SQL. */
  private def byteSaltSql: String =
    "text || CASE WHEN doc_id % 5 = 0 THEN ' caf' || chr(233) || ' na' || chr(239) || 've' " +
      "WHEN doc_id % 5 = 1 THEN ' ' || chr(26085) || chr(26412) || chr(35486) " +
      "WHEN doc_id % 5 = 2 THEN ' ' || chr(252) || 'ber stra' || chr(223) || 'e' " +
      "ELSE '' END"

  /** [[graft.text.BpeTrainer.BytePretokenRegex]] with SQL-quoted
    * apostrophes (the contraction alternatives). */
  private def byteRegexSql: String =
    "''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\r\\f\\p{L}\\p{N}]+|[ \\t\\n\\r\\f]+"

  private def bpeByteModelUri(spark: SparkSession, dir: String): String =
    cachedIndex("bpe_bytes_model", dir) { u =>
      graft.text.BpeTrainer.trainBytes(byteSalted(spark, dir), BpeByteMergeCount)
        .repartition(1).write.parquet(s"$u/merges")
    }

  private def textBpeTrainBytes(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.parquet(spark, s"${bpeByteModelUri(spark, dir)}/merges").orderBy("rank")

  /** Byte-mode head: GPT-2-style pretokens of the SALTED text →
    * hex-pair segmentations. */
  private def bpeByteOracleSteps: String =
    bpeStepsFrom(
      s"""words AS MATERIALIZED (
         |  SELECT word, count(*)::BIGINT AS f
         |  FROM (SELECT unnest(regexp_extract_all($byteSaltSql, '$byteRegexSql')) AS word
         |        FROM documents)
         |  GROUP BY 1),
         |w0 AS MATERIALIZED (SELECT ' ' || regexp_replace(hex(encode(word)), '(..)', '\\1 ', 'g') AS w, f FROM words)""".stripMargin,
      BpeByteMergeCount)

  private def bpeTrainBytesOracle: String = {
    val union = (1 to BpeByteMergeCount)
      .map(t => s"SELECT $t AS rank, pair FROM m$t").mkString(" UNION ALL ")
    s"""WITH $bpeByteOracleSteps
       |SELECT rank, pair, replace(pair, ' ', '') AS merged
       |FROM ($union) ORDER BY rank""".stripMargin
  }

  /** BYTE-level token-ID export ([[graft.text.BpeTrainer.encodeIdsBytes]]
    * → the chain-faithful [[graft.text.BpeByteTokenIds]] kernel): ids
    * 0–255 = raw bytes, 256+i = merge i's output, positions dense per
    * document over the pretoken stream. The oracle RE-LEARNS the merges,
    * re-encodes every pretoken through the hex-symbol replace chain, and
    * converts hex pairs back to byte values — training through id space
    * in one hash, multi-byte UTF-8 included. */
  private def textBpeEncodeIdsBytes(spark: SparkSession, dir: String): DataFrame = {
    val merges = graft.SessionCache.parquet(spark, s"${bpeByteModelUri(spark, dir)}/merges")
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.BpeTrainer.encodeIdsBytes(
        byteSalted(spark, dir).where(col("doc_id") < BpeByteDocs), merges)
      .orderBy("doc_id", "pos")
  }

  /** The sentinel-anchored byte-mode encode chain over a word-valued
    * SQL expr: hex-pair spacing, then the learned replaces. */
  private def bpeByteChainSql(wordExpr: String): String =
    (1 to BpeByteMergeCount).foldLeft(
        s"' ' || regexp_replace(hex(encode($wordExpr)), '(..)', '\\1 ', 'g')") { (c, t) =>
      s"replace($c, (SELECT ' ' || pair || ' ' FROM m$t), " +
        s"(SELECT ' ' || replace(pair, ' ', '') || ' ' FROM m$t))"
    }

  private def bpeEncodeIdsBytesOracle: String = {
    val union = (1 to BpeByteMergeCount)
      .map(t => s"SELECT $t AS rank, pair FROM m$t").mkString(" UNION ALL ")
    s"""WITH $bpeByteOracleSteps,
       |vocab AS MATERIALIZED (
       |  SELECT replace(pair, ' ', '') AS sym, 256 + rank - 1 AS id FROM ($union)),
       |dw AS MATERIALIZED (
       |  SELECT doc_id, wpos, words[wpos] AS word FROM (
       |    SELECT doc_id, unnest(generate_series(1, len(words))) AS wpos, words
       |    FROM (SELECT doc_id, regexp_extract_all($byteSaltSql, '$byteRegexSql') AS words
       |          FROM documents WHERE doc_id < $BpeByteDocs))),
       |encw AS MATERIALIZED (
       |  SELECT doc_id, wpos, string_split(trim(${bpeByteChainSql("word")}), ' ') AS syms
       |  FROM dw),
       |toks AS (
       |  SELECT doc_id, wpos, spos, syms[spos] AS sym FROM (
       |    SELECT doc_id, wpos, unnest(generate_series(1, len(syms))) AS spos, syms
       |    FROM encw)),
       |ids AS (
       |  SELECT t.doc_id, t.wpos, t.spos,
       |    CASE WHEN length(t.sym) = 2
       |      THEN (instr('0123456789ABCDEF', t.sym[1]) - 1) * 16
       |           + (instr('0123456789ABCDEF', t.sym[2]) - 1)
       |      ELSE v.id END AS token_id
       |  FROM toks t LEFT JOIN vocab v ON v.sym = t.sym)
       |SELECT doc_id,
       |  (row_number() OVER (PARTITION BY doc_id ORDER BY wpos, spos) - 1)::INT AS pos,
       |  token_id::INT AS token_id
       |FROM ids ORDER BY doc_id, pos""".stripMargin
  }

  /** Canonical text normalization ([[TextOps.normalizeText]]): each doc
    * is deterministically DIRTIED first — a decomposed accent (e +
    * U+0301), a zero-width space, stray tab/CR LF — so the row proves
    * NFC composition, invisible-char stripping, newline unification,
    * and whitespace collapse, not an identity map over the clean
    * synthetic corpus. The oracle replays the dirtying and the full
    * normalize chain (`nfc_normalize` + RE2 `regexp_replace`) and the
    * normalized STRINGS themselves sit inside the hash. */
  private def textNormalize(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        concat(lit("e\u0301\u200B \t"), col("text"), lit(" \r\nx")).as("__dirty"))
      .select(col("doc_id"),
        length(col("__dirty")).cast("long").as("n_raw"),
        TextOps.normalizeText(col("__dirty")).as("norm_text"))
      .select(col("doc_id"), col("n_raw"),
        length(col("norm_text")).cast("long").as("n_norm"), col("norm_text"))
      .orderBy("doc_id")

  /** Exact dedup BEFORE vs AFTER normalization — the composition that
    * motivates [[TextOps.normalizeText]]: every document gets an
    * equivalence-preserving dirty twin (ZWSP prefix, doubled spaces,
    * CRLF tail — byte-different, content-identical), and the query
    * counts each doc's distinct dedup keys over the raw text (2: raw
    * exact-dedup misses the twin) and over the normalized text (1: the
    * twin collapses). The oracle replays the dirtying and the full
    * normalize chain; distinct STRINGS are the keys, so no hash
    * function needs cross-engine agreement. */
  private def dedupExactNormalized(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).select(col("doc_id"), col("text"))
    val dirty = base.select(col("doc_id"),
      concat(lit("\u200B"), regexp_replace(col("text"), " ", "  "), lit(" \r\n"))
        .as("text"))
    base.unionByName(dirty)
      .select(col("doc_id"), col("text"),
        TextOps.normalizeText(col("text")).as("__norm"))
      .groupBy("doc_id")
      .agg(countDistinct(col("text")).as("n_raw_keys"),
        countDistinct(col("__norm")).as("n_norm_keys"))
      .orderBy("doc_id")
  }

  private def dedupExactNormalizedOracle: String =
    s"""WITH v AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id, chr(8203) || replace(text, ' ', '  ') || ' ' || chr(13) || chr(10)
       |  FROM documents)
       |SELECT doc_id,
       |  count(DISTINCT text)::BIGINT AS n_raw_keys,
       |  count(DISTINCT ${normalizeSql("text")})::BIGINT AS n_norm_keys
       |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** [[TextOps.normalizeText]] replayed over a SQL expression — shared
    * by every oracle that normalizes. */
  private def normalizeSql(e: String): String =
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      s"nfc_normalize($e), " +
      """'[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'), """ +
      """'[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'), """ +
      """'\r\n?', chr(10), 'g'), """ +
      """'[ \t]+', ' ', 'g'), """ +
      """'^[ \n]+|[ \n]+$', '', 'g')"""

  private def textNormalizeOracle: String = {
    // chr(769)=U+0301 combining acute, chr(8203)=U+200B ZWSP
    val dirty = "'e' || chr(769) || chr(8203) || ' ' || chr(9) || text || " +
      "' ' || chr(13) || chr(10) || 'x'"
    val norm = normalizeSql("__dirty")
    s"""SELECT doc_id, length(__dirty)::BIGINT AS n_raw,
       |  length(norm_text)::BIGINT AS n_norm, norm_text
       |FROM (SELECT doc_id, __dirty, $norm AS norm_text
       |      FROM (SELECT doc_id, $dirty AS __dirty FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** Top-30%-per-language cut by token count — exact window ranks,
    * integer score so the oracle replays the ordering bit-for-bit. */
  private def textTopQuantile(spark: SparkSession, dir: String): DataFrame =
    TextOps.topQuantileByGroup(docs(spark, dir), permyriad = 3000,
        groupCol = "lang", scoreCol = TextOps.tokenCount(col("text")))
      .select(col("doc_id"), col("lang"), col("grp_rank"),
        col("grp_size").cast("long").as("grp_size"), col("kept"))
      .orderBy("doc_id")

  /** Per-source document cap: at most 20 docs per source, ranked by
    * lexical richness (distinct-token count — the integer facet the
    * quality family already oracle-checks), windowless via MinTopKLong
    * heaps (see [[TextOps.capPerGroup]]). */
  private def textSourceCap(spark: SparkSession, dir: String): DataFrame =
    TextOps.capPerGroup(docs(spark, dir), n = 20, groupCol = "source",
        scoreCol = size(TextOps.distinctTokens(col("text"))))
      .orderBy("source", "doc_id")

  /** Test-set decontamination: every 10th document plays the held-out
    * benchmark; the rest of the corpus is scored for shingle overlap
    * against it. */
  private def textDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.contaminationHits(
        d.where(col("doc_id") % 10 =!= 0),
        d.where(col("doc_id") % 10 === 0))
      .orderBy("doc_id")
  }

  private def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(docs(spark, dir), 0.8).orderBy("id_a", "id_b")

  private def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docs(spark, dir), maxHamming = 3).orderBy("id_a", "id_b")

  private def dedupEmbeddingCosine(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(emb(spark, dir), 0.4).orderBy("id_a", "id_b")

  /** Blocking centroids of the ANN-dedup fixture: trained once per dir over
    * the NORMALIZED embeddings with exactly the arguments
    * [[graft.text.Dedup.embeddingCosinePairsAnn]]'s internal fit would use,
    * persisted, and passed back as presetCentroids — the same
    * replay-from-persisted-artifact contract as [[annGraphCentroids]]. */
  private def annDedupCentroids(spark: SparkSession, dir: String): (String, Array[Array[Float]]) =
    persistedCentroids(spark, dir, "dedup_cents") { () =>
      val v = emb(spark, dir).select(
        graft.functions.vector_normalize(col("embedding").cast("array<float>")).as("vector"))
      val n = v.count()
      val k = Ingest.autoPartitions(n)
      Ingest.trainCentroids(v, k, Ingest.autoTrainingSize(n, k), totalRows = n)
    }

  /** Centroid-blocked multi-probe variant (the scale path: blocks come from
    * the data, not a label column). Hash-checked against a DuckDB replay of
    * the blocking from the persisted centroids; the recall-vs-exact gate
    * stays spec-tested (TextSpec). */
  private def dedupEmbeddingCosineAnn(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairsAnn(emb(spark, dir), 0.4,
        presetCentroids = Some(annDedupCentroids(spark, dir)._2))
      .orderBy("id_a", "id_b")

  /** End-to-end curation funnel — the hygiene operators composed the way
    * a real pipeline runs them: Gopher rule bank (word floor lowered to
    * 10 for the short synthetic docs) → exact-dup canonicalization among
    * rule survivors → trained-classifier keep → DSIR top-half selection
    * among the remaining survivors. Emits per-document funnel flags; ONE
    * composed DuckDB oracle replays all four stages, two of them from
    * persisted models. */
  private def pipelineCurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val clfUri = qualityClfUri(spark, dir)
    val dsUri = dsirUri(spark, dir)
    val d = docs(spark, dir)
    // calibrated to the synthetic word-soup: word floor 10, required
    // stopwords >= 1 (the corpus vocabulary carries only "the" from the
    // required list — the >= 2 natural-English default would zero the
    // funnel, which the oracle would happily confirm but proves nothing)
    val gPass = TextOps.gopherRules(col("text"), minWords = 10L,
      minRequiredWords = 1L).last._2
    val s1 = d.select(col("doc_id"), col("text"), gPass.as("keep_gopher"))
      .withColumn("__fp", TextOps.fingerprintMd5(col("text")))
    val canon = s1.where(col("keep_gopher"))
      .groupBy("__fp").agg(min("doc_id").as("__canon"))
    // FALSE && NULL is FALSE in both engines, and a gopher-surviving doc's
    // fingerprint group always contains itself, so keep_dedup never nulls
    val s2 = s1.join(canon, Seq("__fp"), "left")
      .withColumn("keep_dedup", col("keep_gopher") && col("doc_id") === col("__canon"))
    val clf = graft.text.QualityClassifier.scoreLogit(d, clfUri)
      .select(col("doc_id"), col("keep").as("keep_clf"))
    // materialize the funnel's decision frame ONCE: s3 feeds the DSIR
    // selection (whose boundary machinery runs several sequential jobs)
    // AND the final output join — lazily, the gopher+fingerprint+classifier
    // lineage re-evaluates per job/branch (profiled as ~7 repeated
    // single-task evaluations dominating the query; guide §5 "localCheckpoint
    // is a cheaper way to cut lineage")
    val s3 = s2.join(clf, Seq("doc_id")).localCheckpoint()
    val survivors = s3.where(col("keep_dedup") && col("keep_clf"))
      .select(col("doc_id"), col("text"))
    val sel = graft.text.Dsir.select(survivors, dsUri, keepPermille = 500)
      .select(col("doc_id"), col("selected").as("selected_dsir"))
    s3.join(sel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("keep_gopher"), col("keep_dedup"), col("keep_clf"),
        coalesce(col("selected_dsir"), lit(false)).as("selected_dsir"))
      .withColumn("final_keep",
        col("keep_dedup") && col("keep_clf") && col("selected_dsir"))
      .orderBy("doc_id")
  }

  /** Soft duplication score: per-doc shared-shingle fraction
    * ([[graft.text.Dedup.duplicationScore]]). */
  private def textDupScore(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicationScore(docs(spark, dir)).orderBy("doc_id")

  /** Per-cluster farthest members over the SAME persisted blocking
    * centroids the ANN dedup uses
    * ([[graft.operators.EmbeddingOps.clusterOutliers]]). */
  private def embeddingClusterOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EmbeddingOps.clusterOutliers(emb(spark, dir),
        annDedupCentroids(spark, dir)._2)
      .orderBy("centroid_id", "vec_id")

  /** DuckDB-side 3-shingle set CTE shared by the jaccard oracles. */
  private val shingleCte: String =
    """WITH t AS (SELECT doc_id, lang, source, text,
      |            regexp_split_to_array(trim(text), '\s+') toks FROM documents),
      |s AS (SELECT doc_id, lang, source,
      |        CASE WHEN len(toks) < 3 THEN [trim(text)]
      |             ELSE list_distinct(list_transform(range(1, len(toks)-1),
      |                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END sh
      |      FROM t)""".stripMargin

  /** Corpus dedup end-to-end: LSH pairs -> connected components ->
    * canonical assignment; oracle = recursive-CTE transitive closure over
    * the exhaustive-pairs graph. */
  private def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupAssignments(docs(spark, dir), 0.8)
      .select(col("doc_id"), col("component")).orderBy("doc_id")

  /** Quality-canonical dedup: same LSH-pair components as dedup_components,
    * but the cluster survivor is the highest-quality member (integer
    * quality = distinct-token count, ties to min id) instead of the min id.
    * The oracle replays the closure CTE plus an exact per-component argmax. */
  private def dedupCanonicalQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val assigns = Dedup.dedupAssignments(d, 0.8).select(col("doc_id"), col("component"))
    val qual = d.select(col("doc_id"),
      size(TextOps.distinctTokens(col("text"))).cast("long").as("quality"))
    Dedup.canonicalByQuality(assigns, qual).orderBy("doc_id")
  }

  /** Semantic corpus dedup (SemDeDup shape): centroid-blocked cosine pairs
    * -> components -> canonical. Hash-checked end-to-end: the oracle
    * replays the blocking from the persisted centroids and closes the pair
    * graph with a recursive CTE (the dedup_components pattern). */
  private def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupAssignmentsEmbedding(emb(spark, dir), 0.4,
        presetCentroids = Some(annDedupCentroids(spark, dir)._2))
      .select(col("vec_id"), col("component")).orderBy("vec_id")

  /** Cross-document duplicated 5-token spans (exact substring dedup): span
    * and merged-token-coverage counts per document. The engine shuffles
    * 64-bit shingle hashes; the oracle groups the shingle strings — equal
    * modulo a 64-bit collision between two distinct spans of the corpus. */
  private def dedupSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpans(docs(spark, dir), spanTokens = 5, minDocs = 2)
      .orderBy("doc_id")

  /** Deterministic split + stratified-sample assignment: the reproducible
    * holdout (80/10/10 by id hash) and a per-language downsample (25% of
    * en, 50% of fr, everything else kept). Distinct salts — the two draws
    * must be independent, and `u mod 1000` is a function of
    * `u mod 10000`, so reusing one hash would correlate them. */
  private def textHashSplit(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      TextOps.hashSplit(col("doc_id"), 800, 100, salt = "split1").as("split"),
      TextOps.hashBucket(col("doc_id").cast("string"), 10000, salt = "sample1")
        .cast("long").as("sample_bucket"),
      TextOps.stratifiedKeep(col("doc_id"), col("lang"),
          Map("en" -> 2500, "fr" -> 5000), salt = "sample1")
        .cast("int").as("kept"))
      .orderBy("doc_id")

  /** Per-document distinctive terms, integer-exact ranking (tf DESC, df
    * ASC, term) — see TextOps.distinctiveTerms for why not tf·ln(N/df). */
  private def textDistinctiveTerms(spark: SparkSession, dir: String): DataFrame =
    TextOps.distinctiveTerms(docs(spark, dir), topK = 3)
      .orderBy("doc_id", "rank")

  /** Concat-and-split packing into 256-token training sequences over 8
    * id-hashed shards, documents laid down in doc_id order. */
  private def textPackSequences(spark: SparkSession, dir: String): DataFrame =
    TextOps.packSequences(docs(spark, dir), seqTokens = 256, numShards = 8,
        orderCol = col("doc_id"), salt = "pack1")
      .select(col("doc_id"), col("shard").cast("long").as("shard"),
        col("n_tokens"), col("seq_id"), col("seq_offset"), col("n_seqs"))
      .orderBy("doc_id")

  // ----- relational operators over the TPC-H-ish tables (engine breadth:
  // scan+filter pushdown, hash agg, broadcast join, window top-k). Money
  // math in DECIMAL so sums are exact across engines. -----

  private def q1Agg(spark: SparkSession, dir: String): DataFrame =
    // NOT Par.spread: tried both raw (defeats column pruning) and
    // projected-first (sortBeforeRepartition + shuffling 600k rows costs
    // more than the 3-split decimal aggregation saves) — the map-side
    // partial agg already collapses the shuffle to a few hundred bytes
    table(spark, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // Hashed surface is integer cents (×100, disc_price ×10⁴): decimal
        // sums are exact but engines disagree on decimal canonicalization at
        // the driver's hash layer, so scale each row to BIGINT before the sum
        // on BOTH sides. The decimal(18,x) cast keeps the double→money
        // rounding identical to DuckDB's.
        sum((col("l_quantity").cast("decimal(18,2)") * lit(100)).cast("long"))
          .as("sum_qty_c"),
        sum((col("l_extendedprice").cast("decimal(18,2)") * lit(100)).cast("long"))
          .as("sum_base_price_c"),
        sum(((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(18,4)") * lit(10000)).cast("long"))
          .as("sum_disc_price_c4"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private def qJoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val orders = table(spark, dir, "orders")
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  private def qTopCustomers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val orders = table(spark, dir, "orders")
    val cust = table(spark, dir, "customer")
    val nation = table(spark, dir, "nation")
    val counts = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      .join(broadcast(cust), col("o_custkey") === cust("c_custkey"))
      .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
      .select(col("n_name"), col("c_custkey"), col("n_orders"))
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("n_orders").desc, col("c_custkey"))
    counts.withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
      .select(col("n_name"), col("c_custkey"), col("n_orders"))
      .orderBy("n_name", "c_custkey")
  }

  // ----- event-time operators (events stream table) -----

  private def eventsWindowed(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventOps.windowedCounts(
        graft.streaming.EventOps.loadEvents(spark, dir))
      .orderBy("window_start", "event_type")

  private def eventsSessionized(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventOps.sessionized(
        graft.streaming.EventOps.loadEvents(spark, dir))
      .orderBy("user_id", "session_idx")

  /** As-of join: each purchase picks up the most recent prior view by the
    * same user (union + running window — one shuffle, no inequality join;
    * [[graft.operators.AsOfJoin.asOf]]). Left-outer: first purchases keep
    * null view columns. */
  private def eventsAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.EventOps.loadEvents(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = ev.where(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    graft.operators.AsOfJoin.asOf(purchases, views,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        rightCols = Seq("event_id", "value"), tieBreaker = "event_id",
        rightPrefix = "view_")
      .select(
        col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"), col("value"),
        col("view_event_id").as("view_id"),
        unix_micros(col("view_ts")).as("view_us"),
        col("view_value"))
      .orderBy("purchase_id")
  }

  /** Bounded time-band join: every (click, purchase-within-10-minutes)
    * pair per user via bucketed equi-join
    * ([[graft.operators.AsOfJoin.timeBandJoin]] — shuffle is 2×|right|,
    * never the |L|×|R| inequality product). */
  private def eventsBandJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.EventOps.loadEvents(spark, dir)
    def side(t: String) = ev.where(col("event_type") === t)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("es"))
    graft.operators.AsOfJoin.timeBandJoin(
        side("click"), side("purchase"),
        keys = Seq("user_id"), leftTs = "es", rightTs = "es",
        band = 600000000L) // 10 min in micros
      .select(col("user_id"), col("l_event_id").as("click_id"),
        col("r_event_id").as("purchase_id"),
        (col("r_es") - col("l_es")).as("gap_us"))
      .orderBy("click_id", "purchase_id")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    knnFlat(DistanceMetric.L2)(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_flat_l2" -> (knnFlat(DistanceMetric.L2) _),
    "knn_flat_sos" -> (knnFlat(DistanceMetric.SumOfSquares) _),
    "knn_flat_cosine" -> (knnFlat(DistanceMetric.Cosine) _),
    "knn_flat_ip" -> (knnFlat(DistanceMetric.InnerProduct) _),
    "knn_matryoshka" -> (knnMatryoshka _),
    "knn_mmr_diversify" -> (knnMmrDiversify _),
    "ivf_flat_probe_all" -> (ivfProbeAll _),
    "ivf_flat_filtered" -> (ivfFiltered _),
    "sql_index_topk" -> (sqlIndexTopk _),
    "sql_index_topk_filtered" -> (sqlIndexTopkFiltered _),
    "sql_index_topk_pq" -> (sqlIndexTopkPq _),
    "sql_index_topk_sq8" -> (sqlIndexTopkSq8 _),
    "sql_index_topk_vamana" -> (sqlIndexTopkVamana _),
    "sql_index_topk_batch" -> (sqlIndexTopkBatch _),
    "ivf_flat_cosine_probe_all" -> (ivfCosineProbeAll _),
    "ivf_flat_nprobe" -> (ivfNprobe _),
    "ivf_partition_histogram" -> (ivfPartitionHistogram _),
    "ivf_pq_exact_rerank" -> (ivfPqExactRerank _),
    "vamana_knn" -> (vamanaKnn _),
    "vamana_knn_routed" -> (vamanaKnnRouted _),
    "vamana_knn_pq" -> (vamanaKnnPq _),
    "fvecs_roundtrip_knn" -> (fvecsRoundtripKnn _),
    "vecs_dsv2_range_knn" -> (vecsDsv2RangeKnn _),
    "source_ingest_autodetect" -> (sourceIngestAutodetect _),
    "knn_flat_u8" -> (knnFlatU8 _),
    "ivf_flat_u8" -> (ivfFlatU8 _),
    "ivf_pq_u8_exact_rerank" -> (ivfPqU8ExactRerank _),
    "knn_graph_exact" -> (knnGraphExact _),
    "knn_hard_negatives" -> (knnHardNegatives _),
    "knn_label_propagation" -> (knnLabelPropagation _),
    "knn_triplets" -> (knnTriplets _),
    "range_search_l2" -> (rangeSearchL2 _),
    "range_search_cosine" -> (rangeSearchCosine _),
    "knn_graph_ann" -> (knnGraphAnn _),
    "knn_lsh" -> (knnLsh _),
    "knn_binary_hamming" -> (knnBinaryHamming _),
    "object_maxsim_topk" -> (objectMaxsimTopk _),
    "object_search_maxsim" -> (objectSearchMaxsim _),
    "object_search" -> (objectSearch _),
    "object_search_incremental" -> (objectSearchIncremental _),
    "object_search_partition_incremental" -> (objectSearchPartitionIncremental _),
    "object_search_upserted" -> (objectSearchUpserted _),
    "object_search_filtered" -> (objectSearchFiltered _),
    "object_search_prefiltered" -> (objectSearchPrefiltered _),
    "object_search_image" -> (objectSearchImage _),
    "object_search_w2v" -> (objectSearchW2v _),
    "multimodal_features" -> (multimodalFeatures _),
    "multimodal_image_decode" -> (multimodalImageDecode _),
    "multimodal_zarr_decode" -> (multimodalZarrDecode _),
    "multimodal_audio_decode" -> (multimodalAudioDecode _),
    "multimodal_video_decode" -> (multimodalVideoDecode _),
    "q1_agg" -> (q1Agg _),
    "q_join_revenue" -> (qJoinRevenue _),
    "q_top_customers" -> (qTopCustomers _),
    "events_windowed" -> (eventsWindowed _),
    "events_sessionized" -> (eventsSessionized _),
    "events_asof_join" -> (eventsAsofJoin _),
    "events_band_join" -> (eventsBandJoin _),
    "ivf_pq_default" -> (ivfPqDefault _),
    "ivf_sq8_exact_rerank" -> (ivfSq8ExactRerank _),
    "ivf_sq8_default" -> (ivfSq8Default _),
    "ivf_sq8_cosine" -> (ivfSq8Cosine _),
    "ivf_sq8_updates_knn" -> (ivfSq8UpdatesKnn _),
    "updates_knn" -> (updatesKnn _),
    "binary_idx_updates_knn" -> (binaryIdxUpdatesKnn _),
    "consolidated_updates_knn" -> (consolidatedUpdatesKnn _),
    "lifecycle_compacted_knn" -> (lifecycleCompactedKnn _),
    "vamana_consolidated_knn" -> (vamanaConsolidatedKnn _),
    "cleared_history_knn" -> (clearedHistoryKnn _),
    "vecs_source_metadata" -> (vecsSourceMetadata _),
    "emb_medoid" -> (embMedoid _),
    "timetravel_knn" -> (timetravelKnn _),
    "timetravel_range_knn" -> (timetravelRangeKnn _),
    "text_token_count" -> (textTokenCount _),
    "text_normalize" -> (textNormalize _),
    "dedup_exact_normalized" -> (dedupExactNormalized _),
    "text_quality" -> (textQuality _),
    "text_fingerprint" -> (textFingerprint _),
    "text_langid" -> (textLangId _),
    "text_line_dedup" -> (textLineDedup _),
    "text_winnow" -> (textWinnow _),
    "text_repetition" -> (textRepetition _),
    "text_redact_pii" -> (textRedactPii _),
    "text_gopher_rules" -> (textGopherRules _),
    "text_lm_perplexity" -> (textLmPerplexity _),
    "text_ccnet_buckets" -> (textCcnetBuckets _),
    "text_dsir_select" -> (textDsirSelect _),
    "text_bm25_topk" -> (textBm25Topk _),
    "text_chunk_windows" -> (textChunkWindows _),
    "hybrid_rrf_search" -> (hybridRrfSearch _),
    "text_quality_classifier" -> (textQualityClassifier _),
    "embedding_pca" -> (embeddingPca _),
    "dedup_exact" -> (dedupExact _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "text_decontaminate" -> (textDecontaminate _),
    "text_mix_budget" -> (textMixBudget _),
    "text_mix_temperature" -> (textMixTemperature _),
    "text_mix_epochs" -> (textMixEpochs _),
    "text_corpus_profile" -> (textCorpusProfile _),
    "text_vocab_seed" -> (textVocabSeed _),
    "text_dup_score" -> (textDupScore _),
    "text_export_manifest" -> (textExportManifest _),
    "embedding_cluster_outliers" -> (embeddingClusterOutliers _),
    "pipeline_curation_funnel" -> (pipelineCurationFunnel _),
    "text_top_quantile" -> (textTopQuantile _),
    "text_source_cap" -> (textSourceCap _),
    "text_bpe_token_count" -> (textBpeTokenCount _),
    "text_bpe_train" -> (textBpeTrain _),
    "text_bpe_train_bytes" -> (textBpeTrainBytes _),
    "text_bpe_encode_ids_bytes" -> (textBpeEncodeIdsBytes _),
    "text_bpe_encode" -> (textBpeEncode _),
    "text_bpe_encode_ids" -> (textBpeEncodeIds _),
    "text_pack_ids" -> (textPackIds _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_embedding_cosine" -> (dedupEmbeddingCosine _),
    "dedup_embedding_cosine_ann" -> (dedupEmbeddingCosineAnn _),
    "dedup_components" -> (dedupComponents _),
    "dedup_canonical_quality" -> (dedupCanonicalQuality _),
    "dedup_semantic" -> (dedupSemantic _),
    "dedup_spans" -> (dedupSpans _),
    "text_hash_split" -> (textHashSplit _),
    "text_distinctive_terms" -> (textDistinctiveTerms _),
    "text_pack_sequences" -> (textPackSequences _),
  )

  /** α=0.5 temperature-mix replay (shared by text_mix_temperature and, as
    * a CTE, the materialized text_mix_epochs). */
  private val mixTemperatureOracle: String =
    """WITH d AS (SELECT doc_id, lang,
      |  len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens
      |  FROM documents WHERE lang IS NOT NULL),
      |g AS (SELECT lang, sum(n_tokens)::BIGINT AS group_tokens,
      |        floor(sqrt(sum(n_tokens)::BIGINT))::BIGINT AS weight
      |      FROM d GROUP BY lang),
      |t AS (SELECT *, sum(weight) OVER ()::BIGINT AS total_w FROM g),
      |a AS (SELECT lang, group_tokens,
      |        (CASE WHEN total_w = 0 THEN 0
      |              ELSE weight * 1000000 // total_w END)::BIGINT AS share_ppm
      |      FROM t),
      |b AS (SELECT lang, group_tokens, share_ppm,
      |        (60000 * share_ppm // 1000000)::BIGINT AS target FROM a),
      |c AS (SELECT d.doc_id, d.lang, d.n_tokens, b.group_tokens, b.share_ppm, b.target,
      |        coalesce(sum(d.n_tokens) OVER (PARTITION BY d.lang ORDER BY d.doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |      FROM d JOIN b USING (lang))
      |SELECT doc_id, lang, n_tokens::BIGINT AS n_tokens, share_ppm,
      |  (CASE WHEN group_tokens = 0 THEN 0
      |        ELSE target // group_tokens END)::BIGINT AS n_epochs,
      |  (CASE WHEN group_tokens = 0 THEN 0
      |        ELSE (cum_before < target % group_tokens)::INT END)::INT AS kept_partial
      |FROM c ORDER BY doc_id""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "knn_flat_l2" -> knnOracle("list_distance(n.embedding, q.embedding)"),
    "knn_flat_sos" -> knnOracle("list_distance(n.embedding, q.embedding)"),
    "knn_flat_cosine" -> knnOracle("list_cosine_similarity(n.embedding, q.embedding) DESC"),
    "knn_flat_ip" -> knnOracle("list_inner_product(n.embedding, q.embedding) DESC"),
    "knn_matryoshka" ->
      s"""WITH cand AS (
         |  SELECT q.vec_id AS qid, n.vec_id AS id,
         |         q.embedding AS qemb, n.embedding AS nemb
         |  FROM (SELECT * FROM embeddings WHERE vec_id < $NQ) q
         |  CROSS JOIN embeddings n
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |    list_cosine_similarity(n.embedding[1:$MatPrefixDims],
         |                           q.embedding[1:$MatPrefixDims]) DESC,
         |    n.vec_id) <= $MatShortlist
         |)
         |SELECT qid, id AS neighbor_id FROM cand
         |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY
         |  list_cosine_similarity(nemb, qemb) DESC, id) <= $K
         |ORDER BY qid, neighbor_id""".stripMargin,
    "knn_mmr_diversify" -> mmrOracle,
    "ivf_flat_probe_all" -> knnOracle("list_distance(n.embedding, q.embedding)"),
    // filtered ANN is exact at probe-all: brute force over the allowed set
    "ivf_flat_filtered" ->
      knnOracle("list_distance(n.embedding, q.embedding)", "vec_id % 3 = 0"),
    // binary-quantization two-stage replay: Hamming over recomputed sign
    // bits (>= 0, so -0.0 counts non-negative on both engines) shortlists
    // BinFetchK per query with (ham, id) tie-break = MinTopK's contract,
    // then the exact-L2 re-rank picks the final K
    "knn_binary_hamming" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NQ),
         |h AS (
         |  SELECT q.qid, n.vec_id AS id, n.embedding AS e, q.qe AS qe,
         |    list_sum(list_transform(range(1, len(q.qe) + 1),
         |      i -> CASE WHEN (q.qe[i] >= 0) <> (n.embedding[i] >= 0) THEN 1 ELSE 0 END)) AS ham
         |  FROM q CROSS JOIN embeddings n),
         |cand AS (SELECT * FROM h
         |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY ham, id) <= $BinFetchK)
         |SELECT qid, id AS neighbor_id FROM cand
         |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY list_distance(e, qe), id) <= $K
         |ORDER BY qid, neighbor_id""".stripMargin,
    // MaxSim late interaction: replay BOTH stages — per-query-vector
    // shortlist by (dot desc, vid asc), then exact MaxSim on the candidate
    // objects. The re-rank dot is the STRICT left-to-right DOUBLE fold on
    // both sides (dot_product_strict ↔ list_sum over the zipped doubles,
    // the embedding_pca-proven replay form), so the floor-micro pin is
    // bit-exact; the shortlist uses float ordering only (never compared).
    "object_maxsim_topk" ->
      s"""WITH e AS (SELECT vec_id // 4 AS obj, vec_id AS vid, embedding FROM embeddings),
         |q AS (SELECT obj AS qid, vid AS qvid, embedding AS qvec FROM e WHERE obj < $MaxSimQObjs),
         |sl AS (
         |  SELECT q.qid, d.obj
         |  FROM q CROSS JOIN e d
         |  QUALIFY row_number() OVER (PARTITION BY q.qvid
         |    ORDER BY list_inner_product(d.embedding, q.qvec) DESC, d.vid) <= $MaxSimShortlist),
         |cand AS (SELECT DISTINCT qid, obj FROM sl),
         |m AS (
         |  SELECT c.qid, c.obj, qv.qvid,
         |    max(list_sum(list_transform(
         |      list_zip(dv.embedding::DOUBLE[], qv.qvec::DOUBLE[]),
         |      s -> s[1] * s[2]))) AS m
         |  FROM cand c
         |  JOIN e dv ON dv.obj = c.obj
         |  JOIN q qv ON qv.qid = c.qid
         |  GROUP BY 1, 2, 3),
         |s AS (
         |  SELECT qid, obj,
         |    sum(CAST(floor(m::DOUBLE * 1000000.0) AS BIGINT)) AS score_micro
         |  FROM m GROUP BY 1, 2)
         |SELECT qid, obj AS neighbor_obj FROM s
         |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, obj) <= $K
         |ORDER BY qid, neighbor_obj""".stripMargin,
    "sql_index_topk" -> sqlTopkSingleOracle,
    // filtered twin: the allowed set ranks directly (exact at probe-all)
    "sql_index_topk_filtered" ->
      s"""SELECT 0::BIGINT AS qid, n.vec_id AS neighbor_id
         |FROM (SELECT * FROM embeddings WHERE vec_id = 0) q
         |CROSS JOIN (SELECT * FROM embeddings WHERE vec_id % 3 = 0) n
         |QUALIFY row_number() OVER (ORDER BY list_distance(n.embedding, q.embedding), n.vec_id) <= $K
         |ORDER BY neighbor_id""".stripMargin,
    "sql_index_topk_batch" ->
      s"""SELECT q.vec_id AS qid, n.vec_id AS neighbor_id
         |FROM (SELECT * FROM embeddings WHERE vec_id < $NQ) q
         |CROSS JOIN embeddings n
         |QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY list_distance(n.embedding, q.embedding), n.vec_id) <= $K
         |ORDER BY qid, neighbor_id""".stripMargin,
    // PQ/VAMANA-backed SQL tables at probe-all registration: exact top-k,
    // same brute-force oracle as the IVF_FLAT single-constant form
    "sql_index_topk_pq" -> sqlTopkSingleOracle,
    "sql_index_topk_sq8" -> sqlTopkSingleOracle,
    "sql_index_topk_vamana" -> sqlTopkSingleOracle,
    "ivf_flat_cosine_probe_all" -> knnOracle("list_cosine_similarity(n.embedding, q.embedding) DESC"),
    // ivf_flat_nprobe: oracle appended dynamically (ivfNprobeReplayOracle) —
    // DuckDB replays the probe against the PERSISTED centroids, so the
    // trained k-means stops being "engine-internal" and the default-nprobe
    // path gets a hash check instead of rows-only.
    "ivf_pq_exact_rerank" -> knnOracle("list_distance(n.embedding, q.embedding)"),
    "fvecs_roundtrip_knn" -> knnOracle("list_distance(n.embedding, q.embedding)"),
    "vecs_dsv2_range_knn" ->
      s"""SELECT q.vec_id AS qid, n.vec_id AS neighbor_id
         |FROM (SELECT * FROM embeddings WHERE vec_id < $NQ) q
         |CROSS JOIN (SELECT * FROM embeddings WHERE vec_id >= 100 AND vec_id < 400) n
         |QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY list_distance(n.embedding, q.embedding), n.vec_id) <= $K
         |ORDER BY qid, neighbor_id""".stripMargin,
    "source_ingest_autodetect" ->
      s"""SELECT q.vec_id AS qid, n.vec_id AS neighbor_id
         |FROM (SELECT * FROM embeddings WHERE vec_id < $NQ) q
         |CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 400) n
         |QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY list_distance(n.embedding, q.embedding), n.vec_id) <= $K
         |ORDER BY qid, neighbor_id""".stripMargin,
    "range_search_l2" ->
      s"""SELECT q.vec_id AS qid, n.vec_id AS neighbor_id
         |FROM (SELECT * FROM embeddings WHERE vec_id < $NQ) q
         |CROSS JOIN embeddings n
         |WHERE list_distance(n.embedding, q.embedding) <= 1.25
         |ORDER BY qid, neighbor_id""".stripMargin,
    // radius 0.7 sits inside an empty band of the cosine-distance
    // distribution at both oracle SFs (nearest observed distance is
    // >= 4.5e-4 away), so the float32 engine compare and the double
    // oracle compare cannot disagree on any row
    "range_search_cosine" ->
      s"""SELECT q.vec_id AS qid, n.vec_id AS neighbor_id
         |FROM (SELECT * FROM embeddings WHERE vec_id < $NQ) q
         |CROSS JOIN embeddings n
         |WHERE 1 - list_cosine_similarity(n.embedding, q.embedding) <= 0.7
         |ORDER BY qid, neighbor_id""".stripMargin,
    "knn_graph_exact" ->
      """SELECT a.vec_id AS id, b.vec_id AS nbr_id
        |FROM embeddings a CROSS JOIN embeddings b
        |WHERE a.vec_id <> b.vec_id
        |QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY list_distance(b.embedding, a.embedding), b.vec_id) <= 5
        |ORDER BY id, nbr_id""".stripMargin,
    // 2-round LPA unrolled: votes from labeled neighbors, majority by
    // (count DESC, label ASC), seeds clamped, previous label persists only
    // when no neighbor is labeled
    "knn_label_propagation" ->
      """WITH e AS (
        |  SELECT a.vec_id AS id, b.vec_id AS nbr
        |  FROM embeddings a CROSS JOIN embeddings b
        |  WHERE a.vec_id <> b.vec_id
        |  QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY list_distance(b.embedding, a.embedding), b.vec_id) <= 5),
        |seeds AS (SELECT vec_id AS id, label FROM embeddings WHERE vec_id % 5 = 0),
        |nodes AS (SELECT DISTINCT id FROM (SELECT id FROM e UNION ALL SELECT nbr FROM e)),
        |l0 AS (SELECT n.id, s.label AS lbl FROM nodes n LEFT JOIN seeds s USING (id)),
        |v1 AS (SELECT e.id, l.lbl AS nlbl, count(*) AS c
        |       FROM e JOIN l0 l ON e.nbr = l.id WHERE l.lbl IS NOT NULL GROUP BY 1, 2),
        |w1 AS (SELECT id, nlbl FROM v1
        |       QUALIFY row_number() OVER (PARTITION BY id ORDER BY c DESC, nlbl ASC) = 1),
        |l1 AS (SELECT l0.id, coalesce(s.label, w1.nlbl, l0.lbl) AS lbl
        |       FROM l0 LEFT JOIN w1 USING (id) LEFT JOIN seeds s USING (id)),
        |v2 AS (SELECT e.id, l.lbl AS nlbl, count(*) AS c
        |       FROM e JOIN l1 l ON e.nbr = l.id WHERE l.lbl IS NOT NULL GROUP BY 1, 2),
        |w2 AS (SELECT id, nlbl FROM v2
        |       QUALIFY row_number() OVER (PARTITION BY id ORDER BY c DESC, nlbl ASC) = 1),
        |l2 AS (SELECT l1.id, coalesce(s.label, w2.nlbl, l1.lbl) AS lbl
        |       FROM l1 LEFT JOIN w2 USING (id) LEFT JOIN seeds s USING (id))
        |SELECT id, lbl AS label FROM l2 ORDER BY id""".stripMargin,
    // triplets: nearest same-label + nearest different-label per anchor
    "knn_triplets" ->
      """WITH pos AS (
        |  SELECT a.vec_id AS id, a.label, b.vec_id AS pos_id
        |  FROM embeddings a CROSS JOIN embeddings b
        |  WHERE a.vec_id <> b.vec_id AND a.label = b.label
        |  QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY list_distance(b.embedding, a.embedding), b.vec_id) <= 1),
        |neg AS (
        |  SELECT a.vec_id AS id, b.vec_id AS neg_id
        |  FROM embeddings a CROSS JOIN embeddings b
        |  WHERE a.vec_id <> b.vec_id AND a.label IS DISTINCT FROM b.label
        |  QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY list_distance(b.embedding, a.embedding), b.vec_id) <= 1)
        |SELECT id, label, pos_id, neg_id FROM pos JOIN neg USING (id)
        |ORDER BY id""".stripMargin,
    // hard negatives: nearest different-label vectors (contrastive mining)
    "knn_hard_negatives" ->
      """SELECT a.vec_id AS id, b.vec_id AS nbr_id, b.label AS nbr_label
        |FROM embeddings a CROSS JOIN embeddings b
        |WHERE a.vec_id <> b.vec_id AND a.label IS DISTINCT FROM b.label
        |QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY list_distance(b.embedding, a.embedding), b.vec_id) <= 5
        |ORDER BY id, nbr_id""".stripMargin,
    "knn_flat_u8" -> u8KnnOracle,
    "ivf_flat_u8" -> u8KnnOracle,
    "ivf_pq_u8_exact_rerank" -> u8KnnOracle,
    "updates_knn" -> updatesOracle,
    // exact at probe-all over the identical merged state
    "binary_idx_updates_knn" -> updatesOracle,
    // SQ8 probe-all + covering kFactor re-ranks exactly → brute force
    "ivf_sq8_exact_rerank" -> knnOracle("list_distance(n.embedding, q.embedding)"),
    // same updates script, probe-all + covering kFactor → exact merge
    "ivf_sq8_updates_knn" -> updatesOracle,
    // a consolidated fold must serve the identical merged state
    "consolidated_updates_knn" -> updatesOracle,
    // SQ8 cosine: probe-all + covering kFactor → exact cosine brute force
    "ivf_sq8_cosine" -> knnOracle("list_cosine_similarity(n.embedding, q.embedding) DESC"),
    // 15 fragments → compacted → vacuumed log serves the same merge
    "lifecycle_compacted_knn" -> updatesOracle,
    // after clear_history the surviving full version is plain brute force
    "cleared_history_knn" -> knnOracle("list_distance(n.embedding, q.embedding)"),
    // header-only fvecs metadata == source table statistics
    "vecs_source_metadata" ->
      """SELECT count(*)::BIGINT AS n_vectors, max(len(embedding))::INT AS dims
        |FROM embeddings""".stripMargin,
    // exact medoid: argmin of summed pairwise L2, id tie-break (margins
    // between candidate sums are orders above float accumulation noise on
    // these fixtures — checked at both oracle SFs)
    "emb_medoid" ->
      """WITH s AS (
        |  SELECT a.vec_id AS ia, sum(list_distance(a.embedding, b.embedding)) AS total
        |  FROM embeddings a CROSS JOIN embeddings b GROUP BY 1)
        |SELECT ia AS medoid_id FROM s ORDER BY total, ia LIMIT 1""".stripMargin,
    "timetravel_knn" -> timetravelOracle,
    "timetravel_range_knn" -> timetravelRangeOracle,
    "text_token_count" ->
      """SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') toks FROM documents)
        |SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(toks) AS n_tokens,
        |  len(list_distinct(toks)) AS n_distinct_tokens,
        |  len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) AS n_stopwords,
        |  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
        |FROM t ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(lower(array_to_string(regexp_split_to_array(trim(text), '\s+'), ' '))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // text_winnow and dedup_simhash are ported below (the corpus is ASCII,
    // so DuckDB can replay the byte-level FNV-1a in HUGEINT mod-2^64
    // arithmetic); text_langid's stopword-profile vote replays directly.
    //
    // Object search replayed END-TO-END: reader chunking (1000/100),
    // HashTextEmbedding (FNV buckets, un-normalized — normalization
    // cancels in cosine), probe-all cosine top-k with the (sim DESC,
    // external_id) tie-break, and the doc-level metadata join. The single
    // embedding per query makes the reciprocal fusion rank-preserving, so
    // the oracle ranks by similarity directly.
    // ColPali-style maxsim replay: same chunking, but each chunk and each
    // query embeds BOTH text halves (seq 0/1); per-(query, half) top-K2obj
    // shortlist by (sim desc, id), then max-per-half × sum-across-halves.
    // Per-half normalization cancels into cosine (the object_search trick),
    // so the raw-hash-vector cosine IS the normalized dot the IP index ranks.
    "object_search_maxsim" ->
      s"""WITH chunks AS (
         |  SELECT doc_id * 1000 + i AS external_id, doc_id, ch AS text
         |  FROM (
         |    SELECT doc_id, unnest(chs) AS ch, generate_subscripts(chs, 1) - 1 AS i
         |    FROM (
         |      SELECT doc_id,
         |        CASE WHEN length(text) <= 1000 THEN [text]
         |             ELSE list_transform(range(0, length(text), 900), s -> substr(text, s+1, 1000))
         |        END AS chs
         |      FROM documents)
         |  )
         |),
         |halves AS (SELECT unnest([0, 1]) AS seq),
         |dh AS (
         |  SELECT external_id, h.seq,
         |    list_transform(regexp_split_to_array(trim(CASE WHEN h.seq = 0
         |      THEN substr(text, 1, length(text) // 2)
         |      ELSE substr(text, length(text) // 2 + 1) END), '\\s+'),
         |      t -> ${fnvSql("t")}) AS hs
         |  FROM chunks CROSS JOIN halves h),
         |dv AS (SELECT external_id, seq, $hashEmbeddingSql AS v FROM dh),
         |qh AS (
         |  SELECT doc_id AS qid, h.seq,
         |    list_transform(regexp_split_to_array(trim(CASE WHEN h.seq = 0
         |      THEN substr(text, 1, length(text) // 2)
         |      ELSE substr(text, length(text) // 2 + 1) END), '\\s+'),
         |      t -> ${fnvSql("t")}) AS hs
         |  FROM documents CROSS JOIN halves h WHERE doc_id < 5),
         |qv AS (SELECT qid, seq, $hashEmbeddingSql AS v FROM qh),
         |sc AS (
         |  SELECT q.qid, q.seq, d.external_id,
         |    list_cosine_similarity(q.v, d.v) AS sim
         |  FROM qv q CROSS JOIN dv d),
         |sl AS (SELECT * FROM sc
         |  QUALIFY row_number() OVER (PARTITION BY qid, seq
         |    ORDER BY sim DESC, external_id) <= $K2obj),
         |fused AS (
         |  SELECT qid, external_id, sum(m) AS score FROM (
         |    SELECT qid, seq, external_id, max(sim) AS m FROM sl GROUP BY 1, 2, 3)
         |  GROUP BY 1, 2)
         |SELECT qid,
         |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, external_id)::INT AS rank,
         |  external_id
         |FROM fused
         |QUALIFY rank <= $K2obj
         |ORDER BY qid, rank""".stripMargin,
    "object_search" ->
      s"""$objectSearchScoredCte,
         |ranked AS (
         |  SELECT qid, external_id, doc_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, external_id) AS rank
         |  FROM scored
         |)
         |SELECT r.qid, r.rank::INT AS rank, r.external_id, d.lang, d.source
         |FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
         |WHERE r.rank <= $K2obj
         |ORDER BY qid, rank""".stripMargin,
    // update+delete+consolidate lifecycle: the oracle replays the search
    // over the EDITED corpus (docs 490-499 removed, doc 0's text replaced)
    // — create+mutate+consolidate must answer exactly like building from
    // the edited corpus directly. Queries stay the ORIGINAL doc_id<5 texts
    // (qid 0 queries with its old text against its new content).
    "object_search_upserted" ->
      s"""${objectSearchScoredCteFrom(
             s"(SELECT doc_id, CASE WHEN doc_id = 0 THEN '$UpsertText' ELSE text END AS text " +
               "FROM documents WHERE doc_id NOT BETWEEN 490 AND 499)")}
         |SELECT qid,
         |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, external_id)::INT AS rank,
         |  external_id
         |FROM scored
         |QUALIFY rank <= $K2obj
         |ORDER BY qid, rank""".stripMargin,
    // incremental maintenance: create-half + add-half must equal the
    // full-corpus build bit-for-bit (FLAT raw store both sides), so the
    // oracle IS the full-corpus replay — identical to object_search's
    "object_search_incremental" ->
      s"""$objectSearchScoredCte,
         |ranked AS (
         |  SELECT qid, external_id, doc_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, external_id) AS rank
         |  FROM scored
         |)
         |SELECT r.qid, r.rank::INT AS rank, r.external_id, d.lang, d.source
         |FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
         |WHERE r.rank <= $K2obj
         |ORDER BY qid, rank""".stripMargin,
    // partition-granular maintenance: V1-create (src3 half-missing) +
    // partition diff to V2 (full minus doc 23) must equal building on V2
    // directly bit-for-bit — src3 re-embeds deterministically, doc 23's
    // chunks tombstone, every other partition rides its V1 base vectors
    "object_search_partition_incremental" ->
      s"""${objectSearchScoredCteFrom(
             "(SELECT doc_id, text FROM documents WHERE doc_id != 23)")}
         |SELECT qid,
         |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, external_id)::INT AS rank,
         |  external_id
         |FROM scored
         |QUALIFY rank <= $K2obj
         |ORDER BY qid, rank""".stripMargin,
    // fetch_k inflation (50×k candidates) then the metadata filter and the
    // order-preserving repack, emitted as the survivor SET (see the Spark
    // side for why rank is omitted here). A cutoff past the corpus row
    // count is a no-op, so the 250 literal is safe at every SF. Exact
    // ties (scalar-multiple embeddings) rank by external_id on both sides.
    "object_search_filtered" ->
      s"""$objectSearchScoredCte,
         |ranked AS (
         |  SELECT qid, external_id, doc_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, external_id) AS rn
         |  FROM scored
         |),
         |cand AS (
         |  SELECT r.qid, r.external_id, r.rn, d.lang
         |  FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
         |  WHERE r.rn <= ${50 * K2obj} AND d.lang = 'en'
         |),
         |repack AS (
         |  SELECT qid, external_id, lang,
         |    row_number() OVER (PARTITION BY qid ORDER BY rn) AS rank
         |  FROM cand
         |)
         |SELECT qid, external_id, lang FROM repack
         |WHERE rank <= $K2obj
         |ORDER BY qid, external_id""".stripMargin,
    // pre-filter twin: no fetch_k CTE — the allowed set ranks directly
    "object_search_prefiltered" ->
      s"""$objectSearchScoredCte,
         |ranked AS (
         |  SELECT s.qid, s.external_id, d.lang,
         |    row_number() OVER (PARTITION BY s.qid ORDER BY s.sim DESC, s.external_id) AS rank
         |  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
         |  WHERE d.lang = 'en'
         |)
         |SELECT qid, external_id, lang FROM ranked
         |WHERE rank <= $K2obj
         |ORDER BY qid, external_id""".stripMargin,
    //
    // Stopword-profile voting replayed exactly: per-language occurrence
    // counts, argmax via struct max (score first, then lang code — the
    // same tie-break Spark's greatest(struct(score, lang)) applies),
    // zero hits => 'und'. Profiles mirror TextOps.stopwords verbatim.
    "text_langid" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
        |SELECT doc_id,
        |  CASE WHEN best['score'] > 0 THEN best['lang'] ELSE 'und' END AS lang_pred
        |FROM (
        |  SELECT doc_id, list_max([
        |    {'score': len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','ein','eine','zu','mit','von'], x))), 'lang': 'de'},
        |    {'score': len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))), 'lang': 'en'},
        |    {'score': len(list_filter(toks, x -> list_contains(['el','la','los','las','y','es','un','una','de','para'], x))), 'lang': 'es'},
        |    {'score': len(list_filter(toks, x -> list_contains(['le','la','les','et','est','un','une','de','dans','pour'], x))), 'lang': 'fr'},
        |    {'score': len(list_filter(toks, x -> list_contains(['il','la','gli','e','è','un','una','di','per','con'], x))), 'lang': 'it'},
        |    {'score': len(list_filter(toks, x -> list_contains(['o','a','os','as','e','é','um','uma','de','para'], x))), 'lang': 'pt'}
        |  ]) AS best FROM t
        |)
        |ORDER BY doc_id""".stripMargin,
    //
    // Boilerplate line removal replayed exactly: the same 3-token line
    // derivation (newline after every 3rd token — one global regex with
    // identical non-overlapping left-to-right semantics in RE2 and Java),
    // corpus-wide distinct-doc line frequency over >= 2-char candidates,
    // df >= 3 drop set, anti join (LEFT JOIN ... IS NULL — short lines
    // can't be in the drop set so the single predicate covers the guard
    // too), and in-order string_agg reassembly; fully-emptied docs
    // survive as '' through the outer coalesce.
    "text_line_dedup" ->
      """WITH seg AS (
        |  SELECT doc_id, string_split(
        |    regexp_replace(trim(text), '(\S+ \S+ \S+) ', '\1' || chr(10), 'g'),
        |    chr(10)) AS lines
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, unnest(lines) AS line, generate_subscripts(lines, 1) AS pos FROM seg),
        |f AS (
        |  SELECT line, count(DISTINCT doc_id) AS df FROM l WHERE length(line) >= 2 GROUP BY line),
        |b AS (SELECT line FROM f WHERE df >= 3),
        |kept AS (
        |  SELECT l.doc_id, l.pos, l.line FROM l LEFT JOIN b ON l.line = b.line
        |  WHERE b.line IS NULL),
        |o AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
        |         count(*) AS kept FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, coalesce(o.clean_text, '') AS clean_text,
        |       len(s.lines)::BIGINT AS n_lines,
        |       (len(s.lines) - coalesce(o.kept, 0))::BIGINT AS removed_lines
        |FROM seg s LEFT JOIN o USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    //
    // SimHash (Charikar) replayed exactly: FNV-1a per whitespace token,
    // per-bit majority vote (strictly-greater, matching votes > 0), signed
    // i64 signature. The engine's 16-bit chunk blocking is EXACT for
    // hamming <= 3 by pigeonhole (3 flips cannot touch all 4 chunks), so
    // the oracle is the plain all-pairs hamming predicate.
    "dedup_simhash" ->
      s"""WITH h AS (
        |  SELECT doc_id,
        |    list_transform(regexp_split_to_array(trim(text), '\\s+'),
        |      t -> ${fnvSql("t")}) AS hs
        |  FROM documents
        |),
        |s AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_transform(range(0, 64), b ->
        |        CASE WHEN len(list_filter(hs, x -> (x // (1::HUGEINT << b)) % 2 = 1)) * 2 > len(hs)
        |             THEN (1::HUGEINT << b) ELSE 0::HUGEINT END),
        |      (a, x) -> a + x) AS sigu
        |  FROM h
        |),
        |sig AS (
        |  SELECT doc_id,
        |    (CASE WHEN sigu >= 9223372036854775808::HUGEINT
        |          THEN sigu - 18446744073709551616::HUGEINT ELSE sigu END)::BIGINT AS sig
        |  FROM s
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    //
    // Winnowing (SIGMOD'03) replayed exactly: FNV-1a over 5-byte grams
    // (the xor only touches the low byte, so h - h%256 + xor(h%256, b)
    // is the 64-bit xor), each gram converted to SIGNED i64 BEFORE the
    // window minima — Spark compares Longs, and an unsigned min picks
    // different grams. Windows of 4, distinct picks, count + min.
    "text_winnow" ->
      """WITH b AS (
        |  SELECT doc_id, list_transform(split(text, ''), c -> unicode(c)::HUGEINT) AS bl
        |  FROM documents
        |),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(
        |      CASE WHEN len(bl) < 5 THEN [list_reduce(list_concat([14695981039346656037::HUGEINT], bl),
        |             (h, x) -> ((h - (h % 256) + xor((h % 256)::BIGINT, x::BIGINT)::HUGEINT)
        |                        * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)]
        |           ELSE list_transform(range(1, len(bl) - 5 + 2),
        |             i -> list_reduce(list_concat([14695981039346656037::HUGEINT], bl[i:i+4]),
        |               (h, x) -> ((h - (h % 256) + xor((h % 256)::BIGINT, x::BIGINT)::HUGEINT)
        |                          * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT))
        |      END,
        |      h -> (CASE WHEN h >= 9223372036854775808::HUGEINT
        |                 THEN h - 18446744073709551616::HUGEINT ELSE h END)::BIGINT) AS grams
        |  FROM b
        |),
        |p AS (
        |  SELECT doc_id, list_transform(range(1, greatest(1, len(grams) - 3) + 1),
        |    s -> list_min(grams[s:least(s+3, len(grams))])) AS picked
        |  FROM g
        |)
        |SELECT doc_id, len(list_distinct(picked))::BIGINT AS n_fp, list_min(picked) AS fp_min
        |FROM p ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      s"""$shingleCte
         |SELECT s.doc_id, len(s.sh)::BIGINT AS n_shingles_distinct,
         |  greatest(len(t.toks) - 2, 1)::BIGINT AS n_shingles_total
         |FROM s JOIN t ON s.doc_id = t.doc_id
         |ORDER BY s.doc_id""".stripMargin,
    "text_redact_pii" ->
      """SELECT doc_id, md5(r) AS redacted_fp, length(r)::BIGINT AS n_chars_redacted
        |FROM (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g'),
        |    '\+?[0-9]{0,3} ?\(?[0-9]{2,4}\)?([-. ][0-9]{2,4}){1,4}\b|\+?[0-9]{7,15}\b', '[PHONE]', 'g') AS r
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // Gopher rule bank replay: identical tokenization/regex classes, flags
    // by the same integer cross-multiplications (never ratio doubles).
    "text_gopher_rules" ->
      """WITH t AS (SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS toks,
        |    split(text, chr(10)) AS lines
        |  FROM documents),
        |f AS (SELECT doc_id,
        |  len(toks)::BIGINT AS n_words,
        |  length(regexp_replace(text, '\s', '', 'g'))::BIGINT AS sum_word_len,
        |  (length(text) - length(replace(text, '#', ''))
        |     + len(regexp_extract_all(text, '\.\.\.')))::BIGINT AS n_symbols,
        |  len(lines)::BIGINT AS n_lines,
        |  len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]')))::BIGINT AS n_bullet_lines,
        |  len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$')))::BIGINT AS n_ellipsis_lines,
        |  len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::BIGINT AS n_alpha_words,
        |  len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))),
        |      ['the','be','to','of','and','that','have','with']))::BIGINT AS n_required_words
        |  FROM t)
        |SELECT *,
        |  (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
        |  (sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words) AS ok_mean_word_len,
        |  (10 * n_symbols <= n_words) AS ok_symbol_ratio,
        |  (10 * n_bullet_lines <= 9 * n_lines) AS ok_bullet_lines,
        |  (10 * n_ellipsis_lines <= 3 * n_lines) AS ok_ellipsis_lines,
        |  (5 * n_alpha_words >= 4 * n_words) AS ok_alpha_words,
        |  (n_required_words >= 2) AS ok_required_words,
        |  ((n_words >= 50 AND n_words <= 100000)
        |    AND (sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words)
        |    AND (10 * n_symbols <= n_words)
        |    AND (10 * n_bullet_lines <= 9 * n_lines)
        |    AND (10 * n_ellipsis_lines <= 3 * n_lines)
        |    AND (5 * n_alpha_words >= 4 * n_words)
        |    AND (n_required_words >= 2)) AS pass
        |FROM f ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp,
        |  min(doc_id) AS canonical_id, count(*) AS cnt
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""$shingleCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM s a JOIN s b
         |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,
    "text_mix_budget" ->
      // DuckDB's window SUM over BIGINT yields HUGEINT; re-cast in the outer
      // select so the driver's hash layer sees int64 on both engines (same
      // canonicalization q1_agg needs for its decimal sums).
      """SELECT doc_id, n_tokens::BIGINT AS n_tokens, cum_tokens::BIGINT AS cum_tokens FROM (
        |  SELECT doc_id,
        |         len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens,
        |         sum(len(regexp_split_to_array(trim(text), '\s+'))::BIGINT)
        |           OVER (PARTITION BY lang, source ORDER BY doc_id
        |                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |  FROM documents)
        |WHERE cum_tokens - n_tokens < 200
        |ORDER BY doc_id""".stripMargin,
    // α=0.5 temperature-mix replay: floor(sqrt) weights (IEEE sqrt is
    // correctly rounded — engines agree bit-for-bit), ppm shares and epoch
    // counts by integer `//`, every output column re-cast BIGINT/INT
    // (window sums are HUGEINT in DuckDB — the mix_budget lesson).
    "text_mix_temperature" -> mixTemperatureOracle,
    // soft-dup replay: same distinct-shingle sets, corpus df, >=2 test,
    // integer-DIV permille
    "text_dup_score" ->
      s"""$shingleCte,
         |e AS (SELECT doc_id, unnest(sh) AS sh FROM s),
         |f AS (SELECT sh, count(*)::BIGINT AS df FROM e GROUP BY sh),
         |a AS (
         |  SELECT e.doc_id, count(*)::BIGINT AS n_shingles,
         |    sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared
         |  FROM e JOIN f USING (sh) GROUP BY e.doc_id)
         |SELECT doc_id, n_shingles, n_shared,
         |  (n_shared * 1000 // n_shingles)::BIGINT AS dup_permille
         |FROM a ORDER BY doc_id""".stripMargin,
    // shard-export manifest replay: shard = unsigned FNV-1a(doc_id) % 8
    // (the engine's split-mod trick IS unsigned mod — hash_split lesson),
    // content_sig = bit_xor of the SIGNED per-doc text hash (HUGEINT FNV
    // converted to two's-complement BIGINT first), token totals from the
    // same whitespace split. Matching the manifest the engine recomputed
    // from its written files proves the export wrote exactly the corpus.
    "text_export_manifest" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_reduce(list_concat([14695981039346656037::HUGEINT],
        |        list_transform(split(doc_id::VARCHAR, ''), c -> unicode(c)::HUGEINT)),
        |    (h, x) -> ((h - (h % 256) + xor((h % 256)::BIGINT, x::BIGINT)::HUGEINT)
        |               * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) % 8 AS shard,
        |    list_reduce(list_concat([14695981039346656037::HUGEINT],
        |        list_transform(split(text, ''), c -> unicode(c)::HUGEINT)),
        |    (h, x) -> ((h - (h % 256) + xor((h % 256)::BIGINT, x::BIGINT)::HUGEINT)
        |               * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS sigu,
        |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS nt
        |  FROM documents)
        |SELECT shard::INT AS shard,
        |  count(*)::BIGINT AS n_docs,
        |  sum(nt)::BIGINT AS n_tokens,
        |  bit_xor((CASE WHEN sigu >= 9223372036854775808::HUGEINT
        |        THEN sigu - 18446744073709551616::HUGEINT ELSE sigu END)::BIGINT) AS content_sig,
        |  min(doc_id)::BIGINT AS id_lo,
        |  max(doc_id)::BIGINT AS id_hi
        |FROM h GROUP BY shard ORDER BY shard""".stripMargin,
    // seed-vocabulary replay: every ≤6-char substring of every lowercased
    // token ("##" marks continuations), global counts, top-500 by
    // (cnt desc, piece)
    "text_vocab_seed" ->
      """WITH w AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |p AS (
        |  SELECT unnest(flatten(list_transform(range(1, len(w) + 1), i ->
        |    list_transform(range(1, least(6, len(w) - i + 1) + 1), l ->
        |      CASE WHEN i = 1 THEN substr(w, i::INT, l::INT)
        |           ELSE '##' || substr(w, i::INT, l::INT) END)))) AS piece
        |  FROM w),
        |c AS (SELECT piece, count(*)::BIGINT AS cnt FROM p GROUP BY piece)
        |SELECT row_number() OVER (ORDER BY cnt DESC, piece)::INT AS rank, piece, cnt
        |FROM c
        |QUALIFY rank <= 500
        |ORDER BY rank""".stripMargin,
    // dataset-card replay: same integer moments, lower median at rank
    // (n+1) DIV 2 in the unique (dl, doc_id) order, mean under integer DIV
    "text_corpus_profile" ->
      """WITH base AS (
        |  SELECT doc_id, text, lang, source FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (9000001, 'alpha beta gamma', NULL, 'nullsrc'),
        |    (9000002, 'alpha beta', NULL, 'nullsrc'),
        |    (9000003, 'alpha beta gamma delta epsilon', NULL, 'nullsrc'))
        |    v(doc_id, text, lang, source)),
        |d AS (
        |  SELECT lang, source, doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS dl
        |  FROM base),
        |a AS (
        |  SELECT lang, source, count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS n_tokens,
        |    min(dl)::BIGINT AS min_tokens, max(dl)::BIGINT AS max_tokens,
        |    (sum(dl) * 100 // count(*))::BIGINT AS mean_tokens_x100
        |  FROM d GROUP BY 1, 2),
        |m AS (
        |  SELECT lang, source, dl AS median_tokens FROM (
        |    SELECT lang, source, dl,
        |      row_number() OVER (PARTITION BY lang, source ORDER BY dl, doc_id) AS rn,
        |      count(*) OVER (PARTITION BY lang, source) AS n
        |    FROM d)
        |  WHERE rn = (n + 1) // 2)
        |SELECT a.lang, a.source, a.n_docs, a.n_tokens, a.min_tokens, a.max_tokens,
        |  a.mean_tokens_x100, m.median_tokens::BIGINT AS median_tokens
        |FROM a JOIN m ON a.lang IS NOT DISTINCT FROM m.lang
        |  AND a.source IS NOT DISTINCT FROM m.source
        |ORDER BY a.lang, a.source""".stripMargin,
    // the allocation materialized: one row per (doc, epoch_idx) with the
    // full-epoch + kept-partial copy count, zero-copy docs dropped
    "text_mix_epochs" ->
      s"""WITH mix AS (
         |$mixTemperatureOracle
         |)
         |SELECT doc_id,
         |  unnest(range(0, n_epochs + kept_partial))::INT AS epoch_idx,
         |  (n_epochs + kept_partial)::INT AS n_copies
         |FROM mix WHERE n_epochs + kept_partial >= 1
         |ORDER BY doc_id, epoch_idx""".stripMargin,
    // same RE2 pattern, DuckDB regexp_extract_all count (the leading
    // '' is SQL quote-escaping for the pattern's contraction quote)
    "text_bpe_token_count" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_ws_tokens,
        |  len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))::BIGINT AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_normalize" -> textNormalizeOracle,
    "dedup_exact_normalized" -> dedupExactNormalizedOracle,
    "text_bpe_train" -> bpeTrainOracle,
    "text_bpe_train_bytes" -> bpeTrainBytesOracle,
    "text_bpe_encode_ids_bytes" -> bpeEncodeIdsBytesOracle,
    "text_bpe_encode" -> bpeEncodeOracle,
    "text_bpe_encode_ids" -> bpeEncodeIdsOracle,
    "text_pack_ids" -> textPackIdsOracle,
    // exact per-group quantile cut replay: same rank/ceil-div integers
    "text_top_quantile" ->
      """SELECT doc_id, lang, grp_rank, grp_size,
        |  (grp_rank <= (grp_size * 3000 + 9999) // 10000)::INT AS kept
        |FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY len(regexp_split_to_array(trim(text), '\s+')) DESC, doc_id)::BIGINT AS grp_rank,
        |    count(*) OVER (PARTITION BY lang)::BIGINT AS grp_size
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // NULL-text docs are excluded on BOTH sides (capPerGroup's documented
    // null-score contract; the score is NULL iff text is)
    "text_source_cap" ->
      """SELECT source, doc_id, rn::INT AS cap_rank FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) DESC, doc_id) AS rn
        |  FROM documents WHERE text IS NOT NULL)
        |WHERE rn <= 20
        |ORDER BY source, doc_id""".stripMargin,
    "text_decontaminate" ->
      s"""$shingleCte,
         |b AS (SELECT DISTINCT unnest(sh) AS sh FROM s WHERE doc_id % 10 = 0),
         |c AS (SELECT doc_id, unnest(sh) AS sh FROM s WHERE doc_id % 10 <> 0)
         |SELECT c.doc_id, count(*)::BIGINT AS n_overlap
         |FROM c JOIN b USING (sh)
         |GROUP BY c.doc_id
         |ORDER BY c.doc_id""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""$shingleCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_components" ->
      s"""WITH RECURSIVE
         |t AS (SELECT doc_id, lang, source, text,
         |        regexp_split_to_array(trim(text), '\\s+') toks FROM documents),
         |sh_s AS (SELECT doc_id,
         |        CASE WHEN len(toks) < 3 THEN [trim(text)]
         |             ELSE list_distinct(list_transform(range(1, len(toks)-1),
         |                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END sh
         |      FROM t),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |          FROM sh_s a JOIN sh_s b ON a.doc_id < b.doc_id
         |          WHERE len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comp AS (SELECT d.doc_id, least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component
         |         FROM documents d LEFT JOIN reach r ON d.doc_id = r.a GROUP BY d.doc_id)
         |SELECT doc_id, component FROM comp ORDER BY doc_id""".stripMargin,
    // Same transitive closure as dedup_components, then an exact
    // per-component argmax on the integer quality (max quality, tie -> min
    // id) — replayed as max-join-min, the window-free SQL equivalent of the
    // engine's max(struct(q, -id)) aggregate.
    "dedup_canonical_quality" ->
      s"""WITH RECURSIVE
         |t AS (SELECT doc_id, text,
         |        regexp_split_to_array(trim(text), '\\s+') toks FROM documents),
         |sh_s AS (SELECT doc_id,
         |        CASE WHEN len(toks) < 3 THEN [trim(text)]
         |             ELSE list_distinct(list_transform(range(1, len(toks)-1),
         |                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END sh
         |      FROM t),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |          FROM sh_s a JOIN sh_s b ON a.doc_id < b.doc_id
         |          WHERE len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comp AS (SELECT d.doc_id, least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component
         |         FROM documents d LEFT JOIN reach r ON d.doc_id = r.a GROUP BY d.doc_id),
         |q AS (SELECT doc_id, len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS quality
         |      FROM documents),
         |j AS (SELECT c.doc_id, c.component, q.quality FROM comp c JOIN q USING (doc_id)),
         |m AS (SELECT component, max(quality) AS canonical_quality FROM j GROUP BY 1),
         |canon AS (SELECT j.component, min(j.doc_id) AS canonical_id, m.canonical_quality
         |          FROM j JOIN m ON j.component = m.component AND j.quality = m.canonical_quality
         |          GROUP BY j.component, m.canonical_quality)
         |SELECT j.doc_id, j.component, c.canonical_id, c.canonical_quality,
         |       j.doc_id = c.canonical_id AS is_canonical
         |FROM j JOIN canon c ON j.component = c.component ORDER BY j.doc_id""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum((l_quantity::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_qty_c,
        |  sum((l_extendedprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_base_price_c,
        |  sum(((l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)))::DECIMAL(18,4) * 10000)::BIGINT)::BIGINT AS sum_disc_price_c4,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= '1998-09-02'
        |GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_revenue" ->
      """SELECT o_orderpriority,
        |  sum(l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q_top_customers" ->
      """SELECT n_name, c_custkey, n_orders FROM (
        |  SELECT n_name, c_custkey, n_orders,
        |    row_number() OVER (PARTITION BY n_name ORDER BY n_orders DESC, c_custkey) AS rn
        |  FROM (
        |    SELECT n_name, c_custkey, count(*) AS n_orders
        |    FROM orders JOIN customer ON o_custkey = c_custkey
        |    JOIN nation ON c_nationkey = n_nationkey
        |    GROUP BY 1, 2))
        |WHERE rn <= 5 ORDER BY n_name, c_custkey""".stripMargin,
    "events_windowed" ->
      """SELECT (floor(epoch(ts) / 300) * 300)::BIGINT AS window_start, event_type,
        |  count(*) AS n, min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "events_sessionized" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM g)
        |SELECT user_id, session_idx::BIGINT AS session_idx, count(*) AS n_events
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin,
    // As-of replay: per purchase, the latest (ts, event_id)-ordered view at
    // or before it — row_number over an inequality left join. The engine
    // computes the identical total order with a running window, never the
    // inequality product; same semantics, different physics.
    "events_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |     v AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view')
        |SELECT p.event_id AS purchase_id, p.user_id, epoch_us(p.ts) AS purchase_us, p.value,
        |       v.event_id AS view_id, epoch_us(v.ts) AS view_us, v.value AS view_value
        |FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
        |QUALIFY row_number() OVER (PARTITION BY p.event_id ORDER BY v.ts DESC, v.event_id DESC) = 1
        |ORDER BY purchase_id""".stripMargin,
    "events_band_join" ->
      """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS es FROM events WHERE event_type = 'click'),
        |     p AS (SELECT event_id, user_id, epoch_us(ts) AS es FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id, p.es - c.es AS gap_us
        |FROM c JOIN p ON c.user_id = p.user_id AND p.es >= c.es AND p.es <= c.es + 600000000
        |ORDER BY click_id, purchase_id""".stripMargin,
    // Full replay of the stub multimodal featurizer: the FNV-1a byte fold
    // (Multimodal.stubDecode) re-run as a recursive CTE in HUGEINT modular
    // arithmetic — xor emulated on the low byte, the 64-bit wrap as
    // `% 2^64`, the sign bit as `(h // 2^32) % 2` (`//`: DuckDB's `/` is
    // float division). dim=16 is a power of two, so Java's signed
    // `((h % dim) + dim) % dim` equals the unsigned `h % 16` here.
    // Normalization can't change nonzero-ness, so n_nonzero compares the
    // pre-norm ±1 bucket sums (exact integers). Assumes ASCII payloads
    // (ord == utf8 byte; the documents fixture is ASCII — checked).
    // Image object search replay: regenerate the FNV payload stream (gh)
    // and fold the stub-decode signature (dh) in ONE recursive CTE — both
    // are pure 64-bit integer arithmetic (HUGEINT mod 2^64, low-byte xor
    // trick as in multimodal_features). Bucket sums are exact integers;
    // ranking by cosine over the RAW integer signatures equals the
    // engine's L2-over-normalized ranking (d² = 2 − 2cos), sidestepping
    // normalization roundoff entirely. Ties rank by external_id on both
    // sides.
    "object_search_image" ->
      s"""WITH RECURSIVE steps AS (
         |  SELECT i::BIGINT AS ext_id, (512 + 8*i)::BIGINT AS len, 0::BIGINT AS j,
         |    (14695981039346656037::HUGEINT - (14695981039346656037::HUGEINT % 256)
         |      + xor((14695981039346656037::HUGEINT % 256)::BIGINT, i)::HUGEINT) AS gh,
         |    14695981039346656037::HUGEINT AS dh
         |  FROM range(0, $ImgN) t(i)
         |  UNION ALL
         |  SELECT ext_id, len, j + 1, gh2,
         |    (((dh - (dh % 256)
         |        + xor((dh % 256)::BIGINT, ((gh2 // 16777216::HUGEINT) % 256)::BIGINT)::HUGEINT)
         |      * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)
         |  FROM (
         |    SELECT ext_id, len, j, dh,
         |      (((gh - (gh % 256) + xor((gh % 256)::BIGINT, (j % 256)::BIGINT)::HUGEINT)
         |        * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS gh2
         |    FROM steps WHERE j < len)
         |),
         |sums AS (
         |  SELECT ext_id, (dh % 64)::INT AS bucket,
         |    sum(CASE WHEN ((dh // 4294967296::HUGEINT) % 2) = 0 THEN 1 ELSE -1 END)::BIGINT AS s
         |  FROM steps WHERE j > 0 GROUP BY 1, 2),
         |vecs AS (
         |  SELECT f.ext_id, list(coalesce(su.s, 0)::DOUBLE ORDER BY r.b) AS v
         |  FROM (SELECT DISTINCT ext_id FROM sums) f
         |  CROSS JOIN range(0, 64) r(b)
         |  LEFT JOIN sums su ON su.ext_id = f.ext_id AND su.bucket = r.b
         |  GROUP BY f.ext_id)
         |SELECT q.ext_id AS qid,
         |  (row_number() OVER (PARTITION BY q.ext_id
         |     ORDER BY list_cosine_similarity(c.v, q.v) DESC, c.ext_id))::INT AS rank,
         |  c.ext_id AS external_id
         |FROM (SELECT * FROM vecs WHERE ext_id < 5) q CROSS JOIN vecs c
         |QUALIFY rank <= 3
         |ORDER BY qid, rank""".stripMargin,
    // Real-decode replay: regenerate the test-card pixel formula and
    // re-aggregate the grid-cell RGB sums — the engine's numbers come from
    // javax.imageio-decoded rasters of real PNG bytes, so equality proves
    // the decode (PNG is lossless). Max card is 55x51, so the fixed
    // 56/52 ranges cover every (x, y).
    "multimodal_image_decode" ->
      s"""WITH imgs AS (
         |  SELECT i::BIGINT AS obj_id, (16 + i)::BIGINT AS w, (12 + i)::BIGINT AS h
         |  FROM range(0, $CardN) t(i)),
         |px AS (
         |  SELECT obj_id, w, h,
         |    ((y * 4 // h) * 4 + (x * 4 // w))::INT AS cell,
         |    (3*x + 5*y + 7*obj_id) % 256 AS r,
         |    (11*x + 13*y + 17*obj_id) % 256 AS g,
         |    (19*x + 23*y + 29*obj_id) % 256 AS b
         |  FROM imgs
         |  CROSS JOIN range(0, 56) rx(x)
         |  CROSS JOIN range(0, 52) ry(y)
         |  WHERE x < w AND y < h)
         |SELECT obj_id, max(w)::INT AS width, max(h)::INT AS height, cell,
         |  sum(r)::BIGINT AS r_sum, sum(g)::BIGINT AS g_sum, sum(b)::BIGINT AS b_sum
         |FROM px GROUP BY obj_id, cell
         |ORDER BY obj_id, cell""".stripMargin,
    // Real-OME-Zarr replay: regenerate the red-channel formula over each
    // image's 8x16 chunk grid (3 cols x 3 rows at 40x24) and re-aggregate
    // the per-tile pixel sums — the engine's numbers come from zarr chunk
    // buffers (zlib / blosc byte- and BIT-shuffle / zstd+crc32c /
    // sharding_indexed / transpose dialects) re-encoded and decoded
    // through lossless PNG, so equality proves the chunk-grid walk, every
    // codec path, the shard-index walk, the (possibly transposed) C-order
    // plane slice, and the edge cropping.
    "multimodal_zarr_decode" ->
      s"""WITH tiles AS (
         |  SELECT i::BIGINT AS img, gy::BIGINT AS gy, gx::BIGINT AS gx,
         |    least(16, 40 - gx * 16)::INT AS w, least(8, 24 - gy * 8)::INT AS h
         |  FROM range(0, $ZarrN) t(i)
         |  CROSS JOIN range(0, 3) ty(gy) CROSS JOIN range(0, 3) tx(gx)),
         |px AS (
         |  SELECT img, gy, gx, w, h,
         |    (3 * (gx * 16 + x) + 5 * (gy * 8 + y) + 7 * img) % 256 AS v
         |  FROM tiles
         |  CROSS JOIN range(0, 16) rx(x) CROSS JOIN range(0, 8) ry(y)
         |  WHERE x < w AND y < h)
         |SELECT (img * 100 + gy * 10 + gx) AS tile_id,
         |  max(w) AS width, max(h) AS height, sum(v)::BIGINT AS pix_sum
         |FROM px GROUP BY img, gy, gx
         |ORDER BY tile_id""".stripMargin,
    // Real-WAV replay: regenerate the tone formula and re-aggregate the
    // per-window |sample| sums — the engine's numbers come from
    // javax.sound.sampled-decoded PCM of real WAV bytes, so equality
    // proves the decode (PCM is lossless). Max tone is 864 samples, so
    // the fixed range covers every j. sample_rate pins the header parse.
    "multimodal_audio_decode" ->
      s"""WITH tones AS (
         |  SELECT i::BIGINT AS obj_id, (400 + 16*i)::BIGINT AS n
         |  FROM range(0, $ToneN) t(i)),
         |s AS (
         |  SELECT obj_id, n,
         |    ((j * 16) // n)::INT AS w,
         |    abs(((j * (3 + obj_id) + 7 * obj_id) % 2048) - 1024) AS a
         |  FROM tones CROSS JOIN range(0, 864) rj(j) WHERE j < n)
         |SELECT obj_id, 8000 AS sample_rate, max(n)::BIGINT AS n_samples,
         |  w AS "window", sum(a)::BIGINT AS abs_sum
         |FROM s GROUP BY obj_id, w
         |ORDER BY obj_id, w""".stripMargin,
    // Real-AVI replay: regenerate the per-(clip, frame) pixel formula and
    // re-aggregate the grid-cell RGB sums — the engine's numbers come from
    // a hand-walked RIFF container + javax.imageio-decoded PNG frames, so
    // equality proves the container walk AND the frame decode (PNG is
    // lossless). Fixed pixel ranges cover the largest clip.
    "multimodal_video_decode" ->
      s"""WITH clips AS (
         |  SELECT i::BIGINT AS obj_id, (2 + i % 3)::INT AS nf,
         |    (16 + i)::BIGINT AS w, (12 + i)::BIGINT AS h
         |  FROM range(0, $VidN) t(i)),
         |fr AS (
         |  SELECT obj_id, nf, w, h, f::INT AS frame_idx,
         |    (obj_id + 31 * f)::BIGINT AS s
         |  FROM clips CROSS JOIN range(0, 4) tf(f) WHERE f < nf),
         |px AS (
         |  SELECT obj_id, frame_idx, nf, w, h,
         |    ((y * 2 // h) * 2 + (x * 2 // w))::INT AS cell,
         |    (3*x + 5*y + 7*s) % 256 AS r,
         |    (11*x + 13*y + 17*s) % 256 AS g,
         |    (19*x + 23*y + 29*s) % 256 AS b
         |  FROM fr
         |  CROSS JOIN range(0, 28) rx(x)
         |  CROSS JOIN range(0, 24) ry(y)
         |  WHERE x < w AND y < h)
         |SELECT obj_id, frame_idx, max(nf)::INT AS n_frames,
         |  max(w)::INT AS width, max(h)::INT AS height, cell,
         |  sum(r)::BIGINT AS r_sum, sum(g)::BIGINT AS g_sum, sum(b)::BIGINT AS b_sum
         |FROM px GROUP BY obj_id, frame_idx, cell
         |ORDER BY obj_id, frame_idx, cell""".stripMargin,
    "multimodal_features" ->
      """WITH RECURSIVE b AS (
        |  SELECT doc_id, list_transform(range(1, length(text)+1), i -> ord(substring(text, i::INT, 1))) AS bytes
        |  FROM documents),
        |steps AS (
        |  SELECT doc_id, 0 AS i, 14695981039346656037::HUGEINT AS h FROM b
        |  UNION ALL
        |  SELECT s.doc_id, s.i + 1,
        |    (((s.h - (s.h % 256) + xor((s.h % 256)::BIGINT, b.bytes[s.i + 1])::HUGEINT)
        |      * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)
        |  FROM steps s JOIN b USING (doc_id) WHERE s.i < len(b.bytes)),
        |emits AS (
        |  SELECT doc_id, (h % 16)::INT AS bucket,
        |    CASE WHEN ((h // 4294967296::HUGEINT) % 2) = 0 THEN 1 ELSE -1 END AS sgn
        |  FROM steps WHERE i > 0),
        |sums AS (SELECT doc_id, bucket, sum(sgn) AS s FROM emits GROUP BY 1, 2),
        |nz AS (SELECT doc_id, count(*) FILTER (WHERE s <> 0)::BIGINT AS n_nonzero FROM sums GROUP BY 1)
        |SELECT d.doc_id AS obj_id,
        |  CASE WHEN d.doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
        |  coalesce(nz.n_nonzero, 0)::BIGINT AS n_nonzero
        |FROM documents d LEFT JOIN nz ON nz.doc_id = d.doc_id ORDER BY obj_id""".stripMargin,
    "dedup_embedding_cosine" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    // Duplicated-span replay groups the shingle STRINGS (the engine groups
    // their 64-bit hashes — equal modulo a hash collision). DuckDB `//` is
    // integer division; Spark's count/5 divides in double then truncates,
    // exact for any count < 2^52.
    "dedup_spans" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |s0 AS (SELECT doc_id,
        |         list_transform(range(1, len(toks) - 3),
        |           i -> array_to_string(toks[i:i+4], ' ')) AS shs
        |       FROM t WHERE len(toks) >= 5),
        |shg AS (SELECT doc_id, unnest(shs) AS sh, generate_subscripts(shs, 1) - 1 AS pos FROM s0),
        |dup AS (SELECT sh FROM shg GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT g.doc_id, g.pos FROM shg g JOIN dup USING (sh)),
        |cov AS (SELECT doc_id, pos, unnest(range(pos, pos + 5)) AS tpos FROM hits),
        |agg AS (SELECT doc_id, (count(*) // 5)::BIGINT AS n_dup_spans,
        |               count(DISTINCT tpos)::BIGINT AS n_dup_tokens
        |        FROM cov GROUP BY doc_id)
        |SELECT t.doc_id, greatest(len(t.toks) - 4, 0)::BIGINT AS n_spans,
        |  coalesce(a.n_dup_spans, 0)::BIGINT AS n_dup_spans,
        |  coalesce(a.n_dup_tokens, 0)::BIGINT AS n_dup_tokens
        |FROM t LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // Split/sample replay: the FNV bucket is the unsigned hash mod m —
    // DuckDB's HUGEINT replay is already unsigned, so a plain % matches
    // the engine's signed-long unsigned-mod reconstruction.
    // Token-window chunking replay: identical window starts (multiples of
    // the 48 stride below n − overlap, one window for short docs), offsets
    // recoverable as st/stride, FNV content hash converted to the signed
    // BIGINT Spark emits
    "text_chunk_windows" ->
      s"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, ts, len(ts) AS n,
         |    unnest(range(0, greatest(len(ts) - 16, 1), 48)) AS st
         |  FROM t),
         |h AS (
         |  SELECT doc_id, st, n,
         |    ${fnvSql("array_to_string(list_slice(ts, st + 1, st + 64), ' ')")} AS hu
         |  FROM c)
         |SELECT doc_id,
         |  (st // 48)::INT AS chunk_idx,
         |  st::INT AS start_tok,
         |  least(64, n - st)::INT AS n_tokens,
         |  (CASE WHEN hu >= 9223372036854775808::HUGEINT
         |        THEN hu - 18446744073709551616::HUGEINT ELSE hu END)::BIGINT AS chunk_hash
         |FROM h ORDER BY doc_id, chunk_idx""".stripMargin,
    "text_hash_split" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |  ${fnvSql("doc_id::VARCHAR || ':split1'")} % 1000 AS bs,
         |  ${fnvSql("doc_id::VARCHAR || ':sample1'")} % 10000 AS bk
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN bs < 800 THEN 'train' WHEN bs < 900 THEN 'val' ELSE 'test' END AS split,
         |  bk::BIGINT AS sample_bucket,
         |  (bk < CASE lang WHEN 'en' THEN 2500 WHEN 'fr' THEN 5000 ELSE 10000 END)::INT AS kept
         |FROM h ORDER BY doc_id""".stripMargin,
    // Sequence-packing replay: same FNV shard route, same per-shard window
    // cumsum; DuckDB's window SUM over BIGINT is HUGEINT, hence the ::BIGINT
    // canonicalization on everything derived from it (the text_mix_budget
    // lesson).
    "text_pack_sequences" ->
      s"""WITH d AS (SELECT doc_id,
         |  ${fnvSql("doc_id::VARCHAR || ':pack1'")} % 8 AS shard,
         |  len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, shard, n_tokens,
         |  coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM d)
         |SELECT doc_id, shard::BIGINT AS shard, n_tokens::BIGINT AS n_tokens,
         |  (cum_before // 256)::BIGINT AS seq_id,
         |  (cum_before % 256)::BIGINT AS seq_offset,
         |  ((cum_before + n_tokens - 1) // 256 - cum_before // 256 + 1)::BIGINT AS n_seqs
         |FROM c ORDER BY doc_id""".stripMargin,
    "text_distinctive_terms" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        |SELECT tf.doc_id,
        |  row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, df.df ASC, tf.term ASC)::INT AS rank,
        |  tf.term, tf.tf, df.df
        |FROM tf JOIN df USING (term)
        |QUALIFY row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) <= 3
        |ORDER BY doc_id, rank""".stripMargin,
  ) ++ w2vReplayOracle ++
    ivfNprobeReplayOracle ++ ivfHistogramReplayOracle ++ ivfPqDefaultReplayOracle ++
    ivfSq8DefaultReplayOracle ++
    knnGraphAnnReplayOracle ++ annDedupReplayOracles ++ lshReplayOracle ++
    lmReplayOracle ++ dsirReplayOracle ++ bm25ReplayOracle ++
    qualityClfReplayOracle ++ pipelineFunnelOracle ++ pcaReplayOracle ++
    vamanaRecallOracle("vamana", "results_knn", "vamana_knn") ++
    vamanaRecallOracle("vamana_routed", "results_routed", "vamana_knn_routed") ++
    vamanaRecallOracle("vamana", "results_pq", "vamana_knn_pq") ++
    vamanaConsolRecallOracle

  /** DuckDB verification of the VAMANA recall frames: recompute the exact
    * top-k twin from `embeddings` directly, intersect with the PERSISTED
    * beam results ([[vamanaRecallFrame]] wrote them during the query run),
    * and re-derive the per-query hit counts plus the reference's 0.85
    * accuracy-gate flag (`test_ingestion.py:23`) entirely inside DuckDB.
    * The engine's recall arithmetic and the gate decision are therefore
    * independently replayed; only the beam contents themselves come from
    * the engine (they are the artifact under test). Present only once the
    * fixture exists (same dump-order contract as
    * [[ivfNprobeReplayOracle]]). */
  private def vamanaRecallOracle(
      label: String, sub: String, queryName: String): Map[String, String] =
    indexCache.collectFirst { case (k, uri) if k.startsWith(s"$label|") => uri }
      .map { uri =>
        queryName ->
          s"""WITH beams AS (
             |  SELECT qid, neighbor_id FROM read_parquet('$uri/$sub/*.parquet')),
             |exact AS (
             |  SELECT q.vec_id AS qid, n.vec_id AS neighbor_id
             |  FROM (SELECT * FROM embeddings WHERE vec_id < $NQ) q
             |  CROSS JOIN embeddings n
             |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_distance(n.embedding, q.embedding), n.vec_id) <= $K),
             |hits AS (
             |  SELECT e.qid, count(b.neighbor_id)::BIGINT AS hits
             |  FROM exact e LEFT JOIN beams b USING (qid, neighbor_id)
             |  GROUP BY e.qid)
             |SELECT qid, hits,
             |  (SELECT sum(hits) * 100 >= 85 * $NQ * $K FROM hits) AS meets_gate
             |FROM hits ORDER BY qid""".stripMargin
      }.toMap

  /** [[vamanaRecallOracle]]'s shape with the exact twin computed over the
    * post-consolidation MERGED corpus (the updatesOracle algebra: deletes
    * %20==0, re-vectors %20==1 reversed, +1000000 additions) — DuckDB
    * independently re-derives both the merged ground truth and the
    * per-query hit counts against the engine's persisted beams, so the
    * incremental shard-rebuild consolidation sits inside the hash. */
  private def vamanaConsolRecallOracle: Map[String, String] =
    indexCache.collectFirst { case (k, uri) if k.startsWith("vamana_consol|") => uri }
      .map { uri =>
        "vamana_consolidated_knn" ->
          s"""WITH beams AS (
             |  SELECT qid, neighbor_id FROM read_parquet('$uri/results_consol/*.parquet')),
             |merged AS (
             |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 NOT IN (0, 1)
             |  UNION ALL
             |  SELECT vec_id, list_reverse(embedding) FROM embeddings WHERE vec_id % 20 = 1
             |  UNION ALL
             |  SELECT vec_id + 1000000, list_reverse(embedding) FROM embeddings WHERE vec_id < 50
             |),
             |exact AS (
             |  SELECT q.vec_id AS qid, n.vec_id AS neighbor_id
             |  FROM (SELECT * FROM embeddings WHERE vec_id < $NQ) q
             |  CROSS JOIN merged n
             |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_distance(n.embedding, q.embedding), n.vec_id) <= $K),
             |hits AS (
             |  SELECT e.qid, count(b.neighbor_id)::BIGINT AS hits
             |  FROM exact e LEFT JOIN beams b USING (qid, neighbor_id)
             |  GROUP BY e.qid)
             |SELECT qid, hits,
             |  (SELECT sum(hits) * 100 >= 85 * $NQ * $K FROM hits) AS meets_gate
             |FROM hits ORDER BY qid""".stripMargin
      }.toMap

  /** DuckDB replay of the PCA projection from the persisted mean and
    * components: float32 embeddings widen to double exactly on both
    * engines, centering/products/partial sums evaluate in the same index
    * order (list_transform + sequential list_sum ↔ zip_with + left-fold
    * aggregate), so the projected doubles compare bit-for-bit. */
  private def pcaReplayOracle: Map[String, String] =
    indexCache.collectFirst { case (k, uri) if k.startsWith("emb_pca|") => uri }
      .map { uri =>
        "embedding_pca" ->
          s"""WITH m AS (SELECT mean FROM read_parquet('$uri/mean/*.parquet')),
             |c AS (SELECT comp_idx, comp FROM read_parquet('$uri/components/*.parquet')),
             |x AS (SELECT vec_id,
             |  list_transform(list_zip(embedding::DOUBLE[], (SELECT mean FROM m)),
             |    s -> s[1] - s[2]) AS ce
             |  FROM embeddings)
             |SELECT x.vec_id, c.comp_idx,
             |  list_sum(list_transform(list_zip(x.ce, c.comp), s -> s[1] * s[2])) AS proj
             |FROM x CROSS JOIN c
             |ORDER BY vec_id, comp_idx""".stripMargin
      }.toMap

  /** DuckDB replay of the learned quality filter: the text_quality-proven
    * facet SQL, weights via scalar subqueries on the persisted parquet, and
    * the logit summed in the same fixed left-associative feature order —
    * bit-identical doubles, no sigmoid on either side. */
  /** Composed four-stage funnel replay: gopher flags (word floor 10),
    * canonical-among-survivors dedup, the persisted-weight logit, and the
    * DSIR top-half boundary computed over ONLY the stage-3 survivors —
    * available once both model fixtures exist. */
  private def pipelineFunnelOracle: Map[String, String] = {
    val clfU = indexCache.collectFirst { case (k, u) if k.startsWith("quality_clf|") => u }
    val dsU = indexCache.collectFirst { case (k, u) if k.startsWith("dsir|") => u }
    (clfU, dsU) match {
      case (Some(cu), Some(du)) => Map(
        "pipeline_curation_funnel" ->
          s"""WITH gt AS (SELECT doc_id, text,
             |    regexp_split_to_array(trim(text), '\\s+') AS toks,
             |    split(text, chr(10)) AS lines
             |  FROM documents),
             |gfa AS (SELECT doc_id,
             |  len(toks)::BIGINT AS n_words,
             |  length(regexp_replace(text, '\\s', '', 'g'))::BIGINT AS sum_word_len,
             |  (length(text) - length(replace(text, '#', ''))
             |     + len(regexp_extract_all(text, '\\.\\.\\.')))::BIGINT AS n_symbols,
             |  len(lines)::BIGINT AS n_lines,
             |  len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]')))::BIGINT AS n_bullet_lines,
             |  len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$')))::BIGINT AS n_ellipsis_lines,
             |  len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::BIGINT AS n_alpha_words,
             |  len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))),
             |      ['the','be','to','of','and','that','have','with']))::BIGINT AS n_required_words
             |  FROM gt),
             |g AS (SELECT doc_id,
             |  ((n_words >= 10 AND n_words <= 100000)
             |    AND (sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words)
             |    AND (10 * n_symbols <= n_words)
             |    AND (10 * n_bullet_lines <= 9 * n_lines)
             |    AND (10 * n_ellipsis_lines <= 3 * n_lines)
             |    AND (5 * n_alpha_words >= 4 * n_words)
             |    AND (n_required_words >= 1)) AS keep_gopher
             |  FROM gfa),
             |fpt AS (SELECT doc_id,
             |    md5(lower(array_to_string(regexp_split_to_array(trim(text), '\\s+'), ' '))) AS fp
             |  FROM documents),
             |canon AS (
             |  SELECT fpt.fp, min(fpt.doc_id) AS canon
             |  FROM fpt JOIN g USING (doc_id) WHERE g.keep_gopher GROUP BY fpt.fp),
             |d2 AS (
             |  SELECT g.doc_id, g.keep_gopher,
             |    (g.keep_gopher AND fpt.doc_id = c.canon) AS keep_dedup
             |  FROM g JOIN fpt USING (doc_id) LEFT JOIN canon c ON fpt.fp = c.fp),
             |cf AS (SELECT doc_id,
             |  length(text)::BIGINT AS n_chars,
             |  len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens,
             |  len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS n_distinct_tokens,
             |  len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
             |    x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x)))::BIGINT AS n_stopwords,
             |  (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::BIGINT AS n_punct
             |  FROM documents),
             |cw AS (SELECT feature, weight FROM read_parquet('$cu/weights/*.parquet')),
             |cs AS (SELECT doc_id,
             |  (SELECT weight FROM cw WHERE feature = '__intercept')
             |    + (SELECT weight FROM cw WHERE feature = 'n_chars') * n_chars::DOUBLE
             |    + (SELECT weight FROM cw WHERE feature = 'n_tokens') * n_tokens::DOUBLE
             |    + (SELECT weight FROM cw WHERE feature = 'n_distinct_tokens') * n_distinct_tokens::DOUBLE
             |    + (SELECT weight FROM cw WHERE feature = 'n_stopwords') * n_stopwords::DOUBLE
             |    + (SELECT weight FROM cw WHERE feature = 'n_punct') * n_punct::DOUBLE AS logit
             |  FROM cf),
             |surv AS (
             |  SELECT d2.doc_id FROM d2 JOIN cs USING (doc_id)
             |  WHERE d2.keep_dedup AND cs.logit > 0),
             |dtk AS (
             |  SELECT d.doc_id, regexp_split_to_array(trim(lower(d.text)), '\\s+') AS t
             |  FROM documents d JOIN surv USING (doc_id)),
             |dg AS (
             |  SELECT doc_id,
             |    unnest(list_transform(range(1, len(t)),
             |      i -> ${fnvSql("t[i] || ' ' || t[i+1]")} % ${graft.text.Dsir.DefaultBuckets})) AS bucket
             |  FROM dtk WHERE len(t) >= 2),
             |dm AS (SELECT bucket, logw_micro FROM read_parquet('$du/model/*.parquet')),
             |dsums AS (
             |  SELECT dg.doc_id, sum(dm.logw_micro)::BIGINT AS score_micro
             |  FROM dg JOIN dm USING (bucket) GROUP BY 1),
             |da AS (
             |  SELECT surv.doc_id, coalesce(dsums.score_micro, 0)::BIGINT AS score_micro
             |  FROM surv LEFT JOIN dsums USING (doc_id)),
             |dr AS (
             |  SELECT doc_id,
             |    row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rn,
             |    count(*) OVER () AS n
             |  FROM da),
             |sel AS (SELECT doc_id, rn <= (n * 500 + 999) // 1000 AS selected FROM dr)
             |SELECT d2.doc_id, d2.keep_gopher, d2.keep_dedup,
             |  (cs.logit > 0) AS keep_clf,
             |  coalesce(sel.selected, false) AS selected_dsir,
             |  (d2.keep_dedup AND cs.logit > 0 AND coalesce(sel.selected, false)) AS final_keep
             |FROM d2
             |JOIN cs USING (doc_id)
             |LEFT JOIN sel USING (doc_id)
             |ORDER BY doc_id""".stripMargin)
      case _ => Map.empty
    }
  }

  private def qualityClfReplayOracle: Map[String, String] =
    indexCache.collectFirst { case (k, uri) if k.startsWith("quality_clf|") => uri }
      .map { uri =>
        "text_quality_classifier" ->
          s"""WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
             |f AS (SELECT doc_id,
             |  length(text)::BIGINT AS n_chars,
             |  len(toks)::BIGINT AS n_tokens,
             |  len(list_distinct(toks))::BIGINT AS n_distinct_tokens,
             |  len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x)))::BIGINT AS n_stopwords,
             |  (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::BIGINT AS n_punct
             |  FROM t),
             |w AS (SELECT feature, weight FROM read_parquet('$uri/weights/*.parquet')),
             |s AS (SELECT doc_id,
             |  (SELECT weight FROM w WHERE feature = '__intercept')
             |    + (SELECT weight FROM w WHERE feature = 'n_chars') * n_chars::DOUBLE
             |    + (SELECT weight FROM w WHERE feature = 'n_tokens') * n_tokens::DOUBLE
             |    + (SELECT weight FROM w WHERE feature = 'n_distinct_tokens') * n_distinct_tokens::DOUBLE
             |    + (SELECT weight FROM w WHERE feature = 'n_stopwords') * n_stopwords::DOUBLE
             |    + (SELECT weight FROM w WHERE feature = 'n_punct') * n_punct::DOUBLE AS logit
             |  FROM f)
             |SELECT doc_id, logit, logit > 0 AS keep
             |FROM s ORDER BY doc_id""".stripMargin
      }.toMap

  /** DuckDB replay of the perplexity scorer against the PERSISTED trigram
    * model: identical trigram explosion, the same
    * seen → unseen-in-context → unseen-context coalesce, an exact BIGINT
    * sum of the persisted micro-nat log-probs, and the same two-division
    * mean. No `ln` on the oracle side — the model parquet carries every
    * transcendental already quantized. */
  private def lmReplayOracle: Map[String, String] =
    indexCache.collectFirst { case (k, uri) if k.startsWith("lm_trigram|") => uri }
      .map { uri =>
        // shared CTE block: trigram explode → persisted-model lookups →
        // per-doc integer sums (the text_lm_perplexity contract)
        val lmCtes =
          s"""WITH gi AS (
             |  SELECT doc_id, lower(text) AS t,
             |         unnest(range(1, greatest(length(lower(text)) - 1, 1))) AS i
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, substring(t, i::INT, 3) AS gram,
             |         substring(t, i::INT, 2) AS ctx
             |  FROM gi),
             |m3 AS (SELECT gram, logp_micro FROM read_parquet('$uri/model3/*.parquet')),
             |m2 AS (SELECT ctx, unseen_logp_micro FROM read_parquet('$uri/model2/*.parquet')),
             |meta AS (SELECT logp0_micro FROM read_parquet('$uri/meta/*.parquet')),
             |scored AS (
             |  SELECT g.doc_id,
             |    coalesce(m3.logp_micro, m2.unseen_logp_micro,
             |      (SELECT logp0_micro FROM meta)) AS lp
             |  FROM g LEFT JOIN m3 USING (gram) LEFT JOIN m2 ON g.ctx = m2.ctx),
             |a AS (
             |  SELECT doc_id, count(*)::BIGINT AS n_grams,
             |         sum(lp)::BIGINT AS sum_logp_micro
             |  FROM scored GROUP BY doc_id)""".stripMargin
        Map(
          "text_lm_perplexity" ->
            s"""$lmCtes
               |SELECT d.doc_id, coalesce(a.n_grams, 0)::BIGINT AS n_grams,
               |  a.sum_logp_micro,
               |  (a.sum_logp_micro::DOUBLE / 1000000.0) / a.n_grams::DOUBLE AS avg_logp
               |FROM documents d LEFT JOIN a USING (doc_id)
               |ORDER BY doc_id""".stripMargin,
          // per-language rank → ⌊rank·3/n⌋ bucket; avg_logp doubles are
          // hash-identical across engines (text_lm_perplexity proves it),
          // so the DESC ordering replays exactly; no-gram docs stay null
          "text_ccnet_buckets" ->
            s"""$lmCtes,
               |j AS (
               |  SELECT d.doc_id, d.lang,
               |    (a.sum_logp_micro::DOUBLE / 1000000.0) / a.n_grams::DOUBLE AS avg_logp
               |  FROM documents d JOIN a USING (doc_id)),
               |r AS (
               |  SELECT doc_id, lang,
               |    row_number() OVER (PARTITION BY lang ORDER BY avg_logp DESC, doc_id) - 1 AS rk,
               |    count(*) OVER (PARTITION BY lang) AS n
               |  FROM j)
               |SELECT d.doc_id, d.lang, ((r.rk * 3) // r.n)::INT AS ppl_bucket
               |FROM documents d LEFT JOIN r USING (doc_id)
               |ORDER BY doc_id""".stripMargin)
      }.getOrElse(Map.empty)

  /** DuckDB replay of the DSIR scorer + top-slice selector against the
    * PERSISTED importance model: identical bigram hashing (FNV-1a in
    * HUGEINT, unsigned mod buckets), exact BIGINT weight sums, and the
    * row_number() boundary that [[graft.text.Dsir.select]]'s distributed
    * boundary comparison reproduces. No `ln` on the oracle side. */
  private def dsirReplayOracle: Map[String, String] =
    indexCache.collectFirst { case (k, uri) if k.startsWith("dsir|") => uri }
      .map { uri =>
        "text_dsir_select" ->
          s"""WITH tk AS (
             |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
             |  FROM documents),
             |g AS (
             |  SELECT doc_id,
             |    unnest(list_transform(range(1, len(t)),
             |      i -> ${fnvSql("t[i] || ' ' || t[i+1]")} % ${graft.text.Dsir.DefaultBuckets})) AS bucket
             |  FROM tk WHERE len(t) >= 2),
             |m AS (SELECT bucket, logw_micro FROM read_parquet('$uri/model/*.parquet')),
             |s AS (
             |  SELECT g.doc_id, count(*)::BIGINT AS n_bigrams,
             |         sum(m.logw_micro)::BIGINT AS score_micro
             |  FROM g JOIN m USING (bucket) GROUP BY 1),
             |a AS (
             |  SELECT d.doc_id, coalesce(s.n_bigrams, 0)::BIGINT AS n_bigrams,
             |         coalesce(s.score_micro, 0)::BIGINT AS score_micro
             |  FROM documents d LEFT JOIN s USING (doc_id)),
             |r AS (
             |  SELECT *, row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rn,
             |         count(*) OVER () AS n
             |  FROM a)
             |SELECT doc_id, n_bigrams, score_micro,
             |       rn <= (n * 200 + 999) // 1000 AS selected
             |FROM r ORDER BY doc_id""".stripMargin
      }.toMap

  /** DuckDB replay of the BM25 ranking against the PERSISTED idf/avgdl
    * model: identical tokenization, the same pinned double expression per
    * (query, doc, term) floored to an integral contribution, exact
    * integer totals, same (score desc, id) top-k. No `ln` on the oracle
    * side. */
  /** DuckDB replay of [[objectSearchW2v]] from the PERSISTED Word2Vec
    * word-vector table: chunk the documents exactly like
    * DocumentsTableReader, average the learned vectors over each chunk's /
    * query's tokens, and rank by cosine — the trained model's outputs are
    * the replayable contract (training itself stays engine-internal).
    * Present only once the fixture exists in this process (same dump-order
    * contract as [[ivfNprobeReplayOracle]]). */
  private def w2vReplayOracle: Map[String, String] =
    indexCache.collectFirst { case (k, uri) if k.startsWith("w2v_idx|") => uri }
      .map { uri =>
        "object_search_w2v" ->
          s"""WITH chunks AS (
             |  SELECT doc_id * 1000 + i AS external_id, doc_id, ch AS text
             |  FROM (
             |    SELECT doc_id, unnest(chs) AS ch, generate_subscripts(chs, 1) - 1 AS i
             |    FROM (
             |      SELECT doc_id,
             |        CASE WHEN length(text) <= 1000 THEN [text]
             |             ELSE list_transform(range(0, length(text), 900), s -> substr(text, s+1, 1000))
             |        END AS chs
             |      FROM documents)
             |  )
             |),
             |wv AS (SELECT word, vector FROM read_parquet('$uri/word_vectors/*.parquet')),
             |ctok AS (
             |  SELECT external_id, doc_id,
             |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
             |  FROM chunks),
             |cdim AS (
             |  SELECT t.external_id, t.doc_id,
             |    generate_subscripts(w.vector, 1) AS dim, unnest(w.vector) AS x
             |  FROM ctok t JOIN wv w USING (word)),
             |cv AS (
             |  SELECT external_id, doc_id, array_agg(val ORDER BY dim) AS v
             |  FROM (SELECT external_id, doc_id, dim, avg(x) AS val
             |        FROM cdim GROUP BY 1, 2, 3)
             |  GROUP BY 1, 2),
             |qtok AS (
             |  SELECT doc_id AS qid,
             |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
             |  FROM documents WHERE doc_id < 5),
             |qdim AS (
             |  SELECT t.qid, generate_subscripts(w.vector, 1) AS dim, unnest(w.vector) AS x
             |  FROM qtok t JOIN wv w USING (word)),
             |qv AS (
             |  SELECT qid, array_agg(val ORDER BY dim) AS v
             |  FROM (SELECT qid, dim, avg(x) AS val FROM qdim GROUP BY 1, 2)
             |  GROUP BY 1),
             |scored AS (
             |  SELECT q.qid, c.external_id,
             |    list_cosine_similarity(q.v, c.v) AS sim
             |  FROM qv q CROSS JOIN cv c)
             |SELECT qid, rank::INT AS rank, external_id FROM (
             |  SELECT qid, external_id,
             |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, external_id) AS rank
             |  FROM scored)
             |WHERE rank <= $K2obj
             |ORDER BY qid, rank""".stripMargin
      }.toMap

  private def bm25ReplayOracle: Map[String, String] =
    indexCache.collectFirst { case (k, uri) if k.startsWith("bm25|") => uri }
      .map { uri =>
        val bm25Ctes =
          s"""WITH meta AS (SELECT avgdl FROM read_parquet('$uri/meta/*.parquet')),
             |i AS (SELECT term, idf_micro FROM read_parquet('$uri/idf/*.parquet')),
             |tok AS (
             |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
             |  FROM documents),
             |dl AS (
             |  SELECT doc_id, len(regexp_split_to_array(trim(lower(text)), '\\s+'))::DOUBLE AS dl
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
             |q AS (SELECT DISTINCT doc_id AS qid, term FROM tok WHERE doc_id < 5),
             |sc AS (
             |  SELECT q.qid, tf.doc_id,
             |    sum(floor((((i.idf_micro::DOUBLE / 1000000.0) * (tf.tf * 2.2)) /
             |        (tf.tf + (1.2 * (0.25 + (0.75 * (dl.dl / (SELECT avgdl FROM meta))))))) *
             |      1000000.0))::BIGINT AS score_micro
             |  FROM q
             |  JOIN tf USING (term)
             |  JOIN dl ON tf.doc_id = dl.doc_id
             |  JOIN i USING (term)
             |  GROUP BY 1, 2)""".stripMargin
        Map(
          "text_bm25_topk" ->
            s"""$bm25Ctes
               |SELECT qid, doc_id AS neighbor_id, score_micro FROM sc
               |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, doc_id) <= $K
               |ORDER BY qid, neighbor_id""".stripMargin,
          // hybrid fusion: both retrievers' rank lists replayed, then the
          // pinned dense-term + sparse-term 1/(60+rank) sum; ranks and
          // membership flags are the only outputs (no raw doubles)
          "hybrid_rrf_search" ->
            s"""$bm25Ctes,
               |sparse AS (
               |  SELECT qid, doc_id AS id,
               |    row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, doc_id) AS r
               |  FROM sc
               |  QUALIFY r <= $K),
               |dense AS (
               |  SELECT q.vec_id AS qid, n.vec_id AS id,
               |    row_number() OVER (PARTITION BY q.vec_id
               |      ORDER BY list_cosine_similarity(n.embedding, q.embedding) DESC, n.vec_id) AS r
               |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
               |  CROSS JOIN embeddings n
               |  QUALIFY r <= $K),
               |f AS (
               |  SELECT coalesce(d.qid, s.qid) AS qid, coalesce(d.id, s.id) AS id,
               |    (CASE WHEN d.r IS NULL THEN 0.0 ELSE 1.0 / (60.0 + d.r) END) +
               |    (CASE WHEN s.r IS NULL THEN 0.0 ELSE 1.0 / (60.0 + s.r) END) AS rrf,
               |    d.r IS NOT NULL AS in_dense, s.r IS NOT NULL AS in_sparse
               |  FROM dense d FULL OUTER JOIN sparse s ON d.qid = s.qid AND d.id = s.id)
               |SELECT qid, id AS neighbor_id,
               |  row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, id)::INT AS fused_rank,
               |  in_dense, in_sparse
               |FROM f
               |QUALIFY fused_rank <= $K
               |ORDER BY qid, neighbor_id""".stripMargin)
      }.getOrElse(Map.empty)

  /** DuckDB replay of the default-nprobe IVF query against the PERSISTED
    * ivf_l2 index: top-⌊√partitions⌋ centroids per query (ascending L2,
    * ties toward the lower partition_id — [[graft.functions.NearestCentroids]]'s
    * ordering), then exact top-k over only the probed hive partitions. This
    * checks the probe pipeline end-to-end (trained centroids included, read
    * from the index's own parquet) rather than declaring k-means
    * engine-internal. Available only once the fixture exists in this
    * process; [[Verify]] runs every query before dumping oracleSql, so the
    * entry is present for the driver and absent (rows-only fallback) only
    * if the ivf_l2 build itself failed. */
  private def ivfNprobeReplayOracle: Map[String, String] =
    indexCache.collectFirst { case (k, uri) if k.startsWith("ivf_l2|") => uri }
      .map { uri =>
        "ivf_flat_nprobe" ->
          s"""WITH cents AS (
             |  SELECT partition_id::INT AS partition_id, centroid
             |  FROM read_parquet('$uri/centroids/v=1000/*.parquet')),
             |q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < $NQ),
             |probes AS (
             |  SELECT q.qid, c.partition_id, q.embedding
             |  FROM q CROSS JOIN cents c
             |  QUALIFY row_number() OVER (PARTITION BY q.qid
             |      ORDER BY list_distance(c.centroid, q.embedding), c.partition_id)
             |    <= (SELECT greatest(1, floor(sqrt(count(*)))::INT) FROM cents)),
             |base AS (
             |  SELECT external_id, vector, partition_id::INT AS partition_id
             |  FROM read_parquet('$uri/base/v=1000/*/*.parquet', hive_partitioning=true))
             |SELECT p.qid, b.external_id AS neighbor_id
             |FROM probes p JOIN base b USING (partition_id)
             |QUALIFY row_number() OVER (PARTITION BY p.qid
             |    ORDER BY list_distance(b.vector, p.embedding), b.external_id) <= $K
             |ORDER BY qid, neighbor_id""".stripMargin
      }.toMap

  /** CSR partition-stats replay from the hive-partitioned base parquet:
    * same counts, same cumulative offsets (bounded window — one row per
    * PARTITION, not per vector). Same dump-order contract as
    * [[ivfNprobeReplayOracle]]. */
  private def ivfHistogramReplayOracle: Map[String, String] =
    indexCache.collectFirst { case (k, uri) if k.startsWith("ivf_l2|") => uri }
      .map { uri =>
        "ivf_partition_histogram" ->
          s"""WITH h AS (
             |  SELECT partition_id, count(*)::BIGINT AS cnt
             |  FROM read_parquet('$uri/base/v=1000/*/*.parquet', hive_partitioning = true)
             |  GROUP BY 1)
             |SELECT partition_id::INT AS partition_id, cnt,
             |  coalesce(sum(cnt) OVER (ORDER BY partition_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS offset
             |FROM h ORDER BY partition_id""".stripMargin
      }.toMap

  /** DuckDB replay of the DEFAULT IVF_PQ query against the persisted index:
    * nprobe = min(100, partitions) probe (ties as in the IVF replay), ADC
    * scoring = per-subspace squared L2 between the query slice and the
    * candidate's coded sub-centroid summed over subspaces (the asymmetric
    * distance-table lookup, recomputed from `pq_codebooks` + the stored
    * `codes` column), top k·k_factor=20 candidates per query, exact re-rank
    * to top-k. The engine accumulates the table in float32 and DuckDB in
    * double — validated empirically at sf0.001 and sf0.01 (ADC margins at
    * the rank-20 boundary are far above float rounding on this data); the
    * k_factor buffer means a boundary flip would also have to matter to the
    * exact top-10 to surface. Present only once the ivf_pq fixture exists
    * (same dump-order contract as [[ivfNprobeReplayOracle]]). */
  private def ivfPqDefaultReplayOracle: Map[String, String] =
    indexCache.collectFirst { case (k, uri) if k.startsWith("ivf_pq|") => uri }
      .map { uri =>
        "ivf_pq_default" ->
          s"""WITH cents AS (
             |  SELECT partition_id::INT AS partition_id, centroid
             |  FROM read_parquet('$uri/centroids/v=1000/*.parquet')),
             |cb AS (
             |  SELECT subspace, code, centroid AS sub_centroid
             |  FROM read_parquet('$uri/pq_codebooks/v=1000/*.parquet')),
             |geom AS (SELECT len(sub_centroid) AS sd FROM cb LIMIT 1),
             |q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < $NQ),
             |probes AS (
             |  SELECT q.qid, c.partition_id
             |  FROM q CROSS JOIN cents c
             |  QUALIFY row_number() OVER (PARTITION BY q.qid
             |      ORDER BY list_distance(c.centroid, q.embedding), c.partition_id)
             |    <= least(100, (SELECT count(*) FROM cents))),
             |base AS (
             |  SELECT external_id, vector, codes, partition_id::INT AS partition_id
             |  FROM read_parquet('$uri/base/v=1000/*/*.parquet', hive_partitioning=true)),
             |cc AS (
             |  SELECT p.qid, b.external_id,
             |    unnest(b.codes) AS code, generate_subscripts(b.codes, 1) - 1 AS j
             |  FROM probes p JOIN base b USING (partition_id)),
             |adc AS (
             |  SELECT cc.qid, cc.external_id,
             |    sum(list_distance(q.embedding[cc.j * g.sd + 1 : (cc.j + 1) * g.sd],
             |                      cb.sub_centroid) ^ 2) AS adist
             |  FROM cc
             |  JOIN cb ON cb.subspace = cc.j AND cb.code = cc.code
             |  JOIN q ON q.qid = cc.qid
             |  CROSS JOIN geom g
             |  GROUP BY cc.qid, cc.external_id),
             |cand AS (
             |  SELECT qid, external_id FROM adc
             |  QUALIFY row_number() OVER (PARTITION BY qid
             |      ORDER BY adist, external_id) <= 2 * $K)
             |SELECT c.qid AS qid, b.external_id AS neighbor_id
             |FROM cand c JOIN base b USING (external_id) JOIN q ON q.qid = c.qid
             |QUALIFY row_number() OVER (PARTITION BY c.qid
             |    ORDER BY list_distance(b.vector, q.embedding), b.external_id) <= $K
             |ORDER BY 1, 2""".stripMargin
      }.toMap

  /** The default-query candidate cutoff the SQ8 replay interpolates:
    * derived from [[graft.index.IvfSq8Index.DefaultKFactor]] exactly as the
    * engine derives kCand, so a constant change cannot desynchronize the
    * oracle (the session-override leak is guarded at dump time in
    * [[ivfSq8Default]] instead — `oracleSql` has no session to consult). */
  private def sq8DefaultCand: Long =
    math.ceil(K * graft.index.IvfSq8Index.DefaultKFactor.toDouble).toLong

  /** DuckDB replay of the DEFAULT IVF_SQ8 query against the persisted
    * index: nprobe = √partitions probe (ties as in the IVF replay),
    * asymmetric scoring = squared L2 between the exact query and the
    * DEQUANTIZED stored codes (`min_d + scale_d · code_d`, each code byte
    * parsed out of the BLOB's hex form), top k·[[sq8DefaultCand]]
    * candidates per query, exact re-rank to top-k. Same float32-vs-double
    * caveat and kFactor boundary buffer as [[ivfPqDefaultReplayOracle]];
    * same dump-order contract (present only once the ivf_sq8 fixture
    * exists). */
  private def ivfSq8DefaultReplayOracle: Map[String, String] =
    indexCache.collectFirst { case (k, uri) if k.startsWith("ivf_sq8|") => uri }
      .map { uri =>
        "ivf_sq8_default" ->
          s"""WITH cents AS (
             |  SELECT partition_id::INT AS partition_id, centroid
             |  FROM read_parquet('$uri/centroids/v=1000/*.parquet')),
             |sqp AS (SELECT mins, scales FROM read_parquet('$uri/sq_params/v=1000/*.parquet')),
             |q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < $NQ),
             |probes AS (
             |  SELECT q.qid, c.partition_id
             |  FROM q CROSS JOIN cents c
             |  QUALIFY row_number() OVER (PARTITION BY q.qid
             |      ORDER BY list_distance(c.centroid, q.embedding), c.partition_id)
             |    <= (SELECT greatest(1, floor(sqrt(count(*)))::INT) FROM cents)),
             |base AS (
             |  SELECT external_id, vector, sq, partition_id::INT AS partition_id
             |  FROM read_parquet('$uri/base/v=1000/*/*.parquet', hive_partitioning=true)),
             |dims AS (SELECT unnest(range(len(mins))) AS j FROM sqp),
             |scored AS (
             |  SELECT p.qid, b.external_id,
             |    sum((q.embedding[d.j + 1] - (s.mins[d.j + 1] + s.scales[d.j + 1] *
             |        ('0x' || substr(hex(b.sq), 2 * d.j + 1, 2))::INT)) ^ 2) AS adist
             |  FROM probes p JOIN base b USING (partition_id) JOIN q USING (qid)
             |  CROSS JOIN dims d CROSS JOIN sqp s
             |  GROUP BY p.qid, b.external_id),
             |cand AS (
             |  SELECT qid, external_id FROM scored
             |  QUALIFY row_number() OVER (PARTITION BY qid
             |      ORDER BY adist, external_id) <= $sq8DefaultCand)
             |SELECT c.qid AS qid, b.external_id AS neighbor_id
             |FROM cand c JOIN base b USING (external_id) JOIN q ON q.qid = c.qid
             |QUALIFY row_number() OVER (PARTITION BY c.qid
             |    ORDER BY list_distance(b.vector, q.embedding), b.external_id) <= $K
             |ORDER BY 1, 2""".stripMargin
      }.toMap

  /** DuckDB replay of the approximate k-NN graph's multi-probe blocking
    * from the persisted preset centroids: HOME pid per vector (argmin, ties
    * to the lower pid — [[graft.functions.NearestCentroid]]), candidate
    * replicas to the nprobe=2 nearest pids ([[graft.functions.NearestCentroids]]
    * ordering), pairs joined on pid (duplicate-free: one home × distinct
    * replica pids), exact distance, top-5 per id by (distance, nbr_id).
    * This hash-checks the scale configuration itself — blocking semantics
    * included — not just an exact twin. */
  private def knnGraphAnnReplayOracle: Map[String, String] =
    graphCentroids.collectFirst { case (k, (path, _)) if k.startsWith("graph_cents|") => path }
      .map { path =>
      "knn_graph_ann" ->
        s"""WITH cents AS (
           |  SELECT partition_id::INT AS pid, centroid
           |  FROM read_parquet('$path/*.parquet')),
           |v AS (SELECT vec_id AS id, embedding FROM embeddings),
           |home AS (
           |  SELECT v.id, v.embedding, c.pid
           |  FROM v CROSS JOIN cents c
           |  QUALIFY row_number() OVER (PARTITION BY v.id
           |      ORDER BY list_distance(c.centroid, v.embedding), c.pid) = 1),
           |reps AS (
           |  SELECT v.id AS cid, v.embedding AS cvec, c.pid
           |  FROM v CROSS JOIN cents c
           |  QUALIFY row_number() OVER (PARTITION BY v.id
           |      ORDER BY list_distance(c.centroid, v.embedding), c.pid) <= 2)
           |SELECT h.id, r.cid AS nbr_id
           |FROM home h JOIN reps r USING (pid)
           |WHERE h.id <> r.cid
           |QUALIFY row_number() OVER (PARTITION BY h.id
           |    ORDER BY list_distance(r.cvec, h.embedding), r.cid) <= 5
           |ORDER BY 1, 2""".stripMargin
    }.toMap

  /** Shared CTE body replaying the centroid-blocked multi-probe ANN dedup
    * pair generation from the persisted centroids: each NORMALIZED vector
    * probes its 2 nearest centroids, a pair is a candidate iff the probe
    * sets intersect, and candidates are verified with the exact cosine
    * predicate on the raw embeddings (normalization cancels inside cosine
    * similarity — the object-search oracles' established identity). */
  private def annDedupPairsCte(path: String): String =
    s"""WITH cents AS (
       |  SELECT partition_id::INT AS pid, centroid
       |  FROM read_parquet('$path/*.parquet')),
       |v AS (
       |  SELECT vec_id AS id, embedding,
       |    list_transform(embedding,
       |      x -> x / sqrt(list_inner_product(embedding, embedding))) AS nv
       |  FROM embeddings),
       |blk AS (
       |  SELECT v.id, v.embedding, c.pid
       |  FROM v CROSS JOIN cents c
       |  QUALIFY row_number() OVER (PARTITION BY v.id
       |      ORDER BY list_distance(c.centroid, v.nv), c.pid) <= 2),
       |pairs AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM blk a JOIN blk b ON a.pid = b.pid AND a.id < b.id
       |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4)""".stripMargin

  /** DuckDB replays of the ANN embedding-dedup family from the persisted
    * blocking centroids: the pair stage, and the full SemDeDup pipeline
    * (pairs → recursive-CTE connected components → canonical = minimum
    * member). Present once the fixture exists, like the other replays. */
  private def annDedupReplayOracles: Map[String, String] =
    graphCentroids.collectFirst { case (k, (path, _)) if k.startsWith("dedup_cents|") => path }
      .map { path =>
        Map(
          "dedup_embedding_cosine_ann" ->
            s"""${annDedupPairsCte(path)}
               |SELECT id_a, id_b FROM pairs ORDER BY id_a, id_b""".stripMargin,
          // farthest-members replay: argmin assignment (dist, pid ties)
          // from the same persisted centroids, per-cluster rank by
          // distance DESC with id ties
          "embedding_cluster_outliers" ->
            s"""WITH cents AS (
               |  SELECT partition_id::INT AS pid, centroid
               |  FROM read_parquet('$path/*.parquet')),
               |v AS (
               |  SELECT vec_id AS id,
               |    list_transform(embedding,
               |      x -> x / sqrt(list_inner_product(embedding, embedding))) AS nv
               |  FROM embeddings),
               |a AS (
               |  SELECT v.id, c.pid, list_distance(c.centroid, v.nv) AS d
               |  FROM v CROSS JOIN cents c
               |  QUALIFY row_number() OVER (PARTITION BY v.id
               |      ORDER BY list_distance(c.centroid, v.nv), c.pid) = 1)
               |SELECT pid AS centroid_id, id AS vec_id,
               |  row_number() OVER (PARTITION BY pid ORDER BY d DESC, id)::INT AS outlier_rank
               |FROM a
               |QUALIFY outlier_rank <= 3
               |ORDER BY centroid_id, vec_id""".stripMargin,
          "dedup_semantic" ->
            s"""WITH RECURSIVE
               |${annDedupPairsCte(path).stripPrefix("WITH ")},
               |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
               |          UNION SELECT id_b, id_a FROM pairs),
               |reach(a, b) AS (SELECT a, b FROM edges
               |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
               |SELECT e.vec_id, least(e.vec_id, coalesce(min(r.b), e.vec_id)) AS component
               |FROM embeddings e LEFT JOIN reach r ON e.vec_id = r.a
               |GROUP BY e.vec_id
               |ORDER BY e.vec_id""".stripMargin)
      }.getOrElse(Map.empty)

  /** DuckDB replay of the LSH banding from the persisted hyperplanes: bit t
    * of band b is `list_inner_product(embedding, plane[b*8+t]) > 0` —
    * DuckDB's FLOAT inner product uses the same sequential float32
    * accumulation as [[graft.functions.LshBandKeys]], so the signs (and
    * hence every band key) are bit-identical across engines — candidates
    * share ≥1 band key, exact cosine re-rank to top-k. */
  private def lshReplayOracle: Map[String, String] =
    graphCentroids.collectFirst { case (k, (path, _)) if k.startsWith("lsh_planes|") => path }
      .map { path =>
        "knn_lsh" ->
          s"""WITH planes AS (
             |  SELECT plane_id, plane FROM read_parquet('$path/*.parquet')),
             |bits AS (
             |  SELECT e.vec_id, p.plane_id // 8 AS band,
             |    CASE WHEN list_inner_product(e.embedding, p.plane) > 0
             |         THEN 1::BIGINT << (p.plane_id % 8) ELSE 0 END AS bit
             |  FROM embeddings e CROSS JOIN planes p),
             |keys AS (
             |  SELECT vec_id, band, sum(bit)::BIGINT AS key
             |  FROM bits GROUP BY vec_id, band),
             |cand AS (
             |  SELECT DISTINCT q.vec_id AS qid, d.vec_id AS id
             |  FROM (SELECT * FROM keys WHERE vec_id < $NQ) q
             |  JOIN keys d ON q.band = d.band AND q.key = d.key)
             |SELECT c.qid, c.id AS neighbor_id
             |FROM cand c
             |JOIN embeddings qe ON qe.vec_id = c.qid
             |JOIN embeddings de ON de.vec_id = c.id
             |QUALIFY row_number() OVER (PARTITION BY c.qid
             |    ORDER BY list_cosine_similarity(de.embedding, qe.embedding) DESC, c.id) <= $K
             |ORDER BY 1, 2""".stripMargin
      }.toMap
}
