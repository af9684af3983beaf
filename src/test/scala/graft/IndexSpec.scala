package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{Ingest, VectorIndex}
import graft.operators.{DistanceMetric, Knn}

class IndexSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    Files.createTempDirectory("graft_idx").toString

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .select(col("vec_id").as("external_id"), col("embedding").as("vector"))
    .cache()

  private lazy val queries10: DataFrame = emb.where(col("external_id") < 10)
    .select(col("external_id").as("qid"), col("vector").as("qvec"))

  /** One 8-partition index per IVF type, for the tests that only read. */
  private lazy val ivf8: Map[String, VectorIndex] =
    Seq("IVF_FLAT", "IVF_SQ8", "IVF_PQ").map { indexType =>
      indexType -> Ingest.ingest(spark, tmp(), emb, indexType, DistanceMetric.L2,
        timestamp = 1000L, partitions = Some(8))
    }.toMap

  private def exactIds(db: DataFrame, k: Int, metric: DistanceMetric = DistanceMetric.L2)
      : Map[Long, Seq[Long]] =
    Knn.bruteForce(db, queries10, k, metric, idCol = "external_id", vecCol = "vector")
      .orderBy("qid", "rank").collect()
      .groupBy(_.getLong(0)).map { case (q, rows) => q -> rows.map(_.getLong(2)).toSeq }

  private def gotIds(df: DataFrame): Map[Long, Seq[Long]] =
    df.orderBy("qid", "rank").collect()
      .groupBy(_.getLong(0)).map { case (q, rows) => q -> rows.map(_.getLong(2)).toSeq }

  test("FLAT index: ingest + query returns exact neighbors") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "FLAT", DistanceMetric.L2, timestamp = 1000L)
    assert(gotIds(idx.query(queries10, 10)) === exactIds(emb, 10))
    val reopened = VectorIndex.open(spark, uri)
    assert(reopened.meta.baseSizes === List(500L))
    assert(reopened.meta.dimensions === 64)
  }

  test("IVF_FLAT probe-all equals brute force; nprobe=sqrt has recall >= 0.85") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "IVF_FLAT", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(16))
    val exact = exactIds(emb, 10)
    val all = gotIds(idx.query(queries10, 10, nprobe = 16))
    assert(all === exact)
    // sf0.001 embeddings are near-uniform (unit-norm, weak label clusters),
    // so nprobe must exceed the reference's sqrt rule-of-thumb
    // (ivf_flat_index.py:213-215) to clear the 0.85 gate: measured ~0.71 at
    // nprobe=4/16, ~0.95 at 8/16.
    val approx = gotIds(idx.query(queries10, 10, nprobe = 8))
    val recall = exact.keys.toSeq.map { q =>
      approx(q).toSet.intersect(exact(q).toSet).size.toDouble / 10.0
    }.sum / exact.size
    assert(recall >= 0.85, s"recall $recall below reference gate")
  }

  test("IVF_FLAT cosine (normalize-at-ingest) probe-all matches cosine brute force") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "IVF_FLAT", DistanceMetric.Cosine,
      timestamp = 1000L, partitions = Some(8))
    val exact = exactIds(emb, 10, DistanceMetric.Cosine)
    assert(gotIds(idx.query(queries10, 10, nprobe = 8)) === exact)
  }

  test("updates: delete masks, update re-ranks, additions merge (reference index.py:338-416)") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "FLAT", DistanceMetric.L2, timestamp = 1000L)
    // delete ids %20==0, update ids %20==1 (reversed vector), add +1000000
    idx.deleteBatch(emb.where(col("external_id") % 20 === 0), ts = 1100L)
    idx.updateBatch(
      emb.where(col("external_id") % 20 === 1)
        .select(col("external_id"), reverse(col("vector")).as("vector")), ts = 1100L)
    idx.updateBatch(
      emb.where(col("external_id") < 50)
        .select((col("external_id") + 1000000L).as("external_id"),
          reverse(col("vector")).as("vector")), ts = 1100L)
    val merged = emb.where(col("external_id") % 20 =!= 0 && col("external_id") % 20 =!= 1)
      .unionByName(emb.where(col("external_id") % 20 === 1)
        .select(col("external_id"), reverse(col("vector")).as("vector")))
      .unionByName(emb.where(col("external_id") < 50)
        .select((col("external_id") + 1000000L).as("external_id"),
          reverse(col("vector")).as("vector")))
    val expected = exactIds(merged, 10)
    val got = gotIds(VectorIndex.open(spark, uri).query(queries10, 10))
    assert(got === expected)
  }

  test("time travel: read at historical ts sees only that base version") {
    val uri = tmp()
    val half = emb.where(col("external_id") % 2 === 0)
    Ingest.ingest(spark, uri, half, "FLAT", DistanceMetric.L2, timestamp = 1000L)
    Ingest.ingest(spark, uri, emb, "FLAT", DistanceMetric.L2,
      timestamp = 2000L, appendMeta = true)
    val at1500 = VectorIndex.open(spark, uri, Some(1500L))
    assert(gotIds(at1500.query(queries10, 10)) === exactIds(half, 10))
    val atLatest = VectorIndex.open(spark, uri)
    assert(gotIds(atLatest.query(queries10, 10)) === exactIds(emb, 10))
    // read before first ingestion: empty result, no error (index.py:139-171)
    val at500 = VectorIndex.open(spark, uri, Some(500L))
    assert(at500.query(queries10, 10).count() === 0)
  }

  test("time-range open: (start,end) tuple semantics (index.py:115-177, test_ingestion.py:1009)") {
    val uri = tmp()
    val offset = 1000000L
    val idx = Ingest.ingest(spark, uri, emb, "FLAT", DistanceMetric.L2, timestamp = 1000L)
    // two update batches, mirroring the reference's per-ts delete+move loop:
    // ts=1100 moves ids 0..9 to +offset, ts=1200 moves ids 10..19
    def move(lo: Long, hi: Long, ts: Long): Unit = {
      idx.deleteBatch(emb.where(col("external_id") >= lo && col("external_id") < hi), ts)
      idx.updateBatch(emb.where(col("external_id") >= lo && col("external_id") < hi)
        .select((col("external_id") + offset).as("external_id"), col("vector")), ts)
    }
    move(0, 10, 1100L); move(10, 20, 1200L)
    def movedDb(hi: Long): DataFrame =
      emb.where(col("external_id") >= hi)
        .unionByName(emb.where(col("external_id") < hi)
          .select((col("external_id") + offset).as("external_id"), col("vector")))

    // (0, 1150): start <= first ingestion => equals the point-in-time read
    val r1 = VectorIndex.openRange(spark, uri, Some(0L), Some(1150L))
    assert(gotIds(r1.query(queries10, 10)) === exactIds(movedDb(10), 10))
    assert(gotIds(r1.query(queries10, 10)) ===
      gotIds(VectorIndex.open(spark, uri, Some(1150L)).query(queries10, 10)))
    // (None, None): everything
    val rAll = VectorIndex.openRange(spark, uri)
    assert(gotIds(rAll.query(queries10, 10)) === exactIds(movedDb(20), 10))
    // (1100, None): start past the first ingestion => updates-log only —
    // just the 20 moved vectors (reference's timestamp=(2, None) branch)
    val rUpd = VectorIndex.openRange(spark, uri, Some(1100L), None)
    val movedOnly = emb.where(col("external_id") < 20)
      .select((col("external_id") + offset).as("external_id"), col("vector"))
    assert(gotIds(rUpd.query(queries10, 10)) === exactIds(movedOnly, 10))
    // (1200, None): only the second batch's moves
    val rUpd2 = VectorIndex.openRange(spark, uri, Some(1200L), None)
    val moved2 = emb.where(col("external_id") >= 10 && col("external_id") < 20)
      .select((col("external_id") + offset).as("external_id"), col("vector"))
    assert(gotIds(rUpd2.query(queries10, 10)) === exactIds(moved2, 10))
    // (None, 500): window closes before the first ingestion => empty view
    assert(VectorIndex.openRange(spark, uri, None, Some(500L))
      .query(queries10, 10).count() === 0)
    // consolidation refuses a windowed view
    intercept[IllegalArgumentException] { rUpd.consolidateUpdates(9999L) }
  }

  test("IVF_PQ: probe-all + full k_factor equals brute force; defaults clear 0.75 gate") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "IVF_PQ", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(8)).asInstanceOf[graft.index.IvfPqIndex]
    assert(idx.meta.numSubspaces === 16)
    val exact = exactIds(emb, 10)
    // candidates = entire dataset => rerank is exact
    val all = gotIds(idx.queryBase(queries10, 10, nprobe0 = 8, kFactor = 50f))
    assert(all === exact)
    // reference gate: accuracy > 0.75 at defaults (test_ingestion.py:24)
    val approx = gotIds(idx.query(queries10, 10, nprobe = 8))
    val recall = exact.keys.toSeq.map { q =>
      approx(q).toSet.intersect(exact(q).toSet).size.toDouble / 10.0
    }.sum / exact.size
    assert(recall >= 0.75, s"recall $recall below IVF_PQ reference gate")
  }

  test("queryFiltered: exact top-k from the allowed set on FLAT/IVF/PQ; " +
      "updates respect the filter; VAMANA overfetch clears the recall gate") {
    val allow = emb.where(col("external_id") % 3 === 0).select("external_id")
    val expected = exactIds(emb.where(col("external_id") % 3 === 0), 10)
    // every hit must come from the allowed set, and all k slots must fill
    // from it (pre-filter, not post-filter survivors)
    assert(expected.values.forall(ids => ids.size == 10 && ids.forall(_ % 3 == 0)))

    val fUri = tmp()
    val flat = Ingest.ingest(spark, fUri, emb, "FLAT", DistanceMetric.L2,
      timestamp = 1000L)
    assert(gotIds(flat.queryFiltered(queries10, 10, allow)) === expected)

    val iUri = tmp()
    val ivf = Ingest.ingest(spark, iUri, emb, "IVF_FLAT", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(16))
    assert(gotIds(ivf.queryFiltered(queries10, 10, allow, nprobe = 16)) === expected)

    // PQ at full kFactor: ADC candidates = whole allowed set => exact rerank
    val pUri = tmp()
    val pq = Ingest.ingest(spark, pUri, emb, "IVF_PQ", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(8))
      .asInstanceOf[graft.index.IvfPqIndex]
    val allowNorm = allow.select(col("external_id").cast("long").as("__allow_id"))
    assert(gotIds(pq.queryBase(queries10, 10, nprobe0 = 8, kFactor = 50f,
      allow = Some(allowNorm))) === expected)

    // updates interplay: deleted-but-allowed ids disappear, added-and-allowed
    // ids compete; the filter applies to base AND additions branches.
    // Deletions stay a thin slice (%30) of the allowed set (%3): the
    // reference's retrieval_k = 2k overfetch (index.py:352-364) only
    // guarantees k survivors when deletions don't dominate the top-2k, and
    // this test pins FILTER semantics, not the overfetch heuristic.
    flat.deleteBatch(emb.where(col("external_id") % 30 === 0), ts = 1100L)
    flat.updateBatch(
      emb.where(col("external_id") < 5)
        .select((col("external_id") * 3 + 3000000L).as("external_id"),
          col("vector")), ts = 1100L)
    val added = emb.where(col("external_id") < 5)
      .select((col("external_id") * 3 + 3000000L).as("external_id"), col("vector"))
    val allowUpd = allow.unionByName(added.select("external_id"))
    val mergedAllowed = emb
      .where(col("external_id") % 3 === 0 && col("external_id") % 30 =!= 0)
      .unionByName(added)
    val gotUpd = gotIds(VectorIndex.open(spark, fUri)
      .queryFiltered(queries10, 10, allowUpd))
    assert(gotUpd === exactIds(mergedAllowed, 10))

    // plan audit: the allow-list semi-join must not defeat the IVF physical
    // pruning — a filtered nprobe query still shows partition_id
    // PartitionFilters on the base scan (filter shrinks what is SCORED,
    // pruning shrinks what is READ; at scale both must hold)
    val filteredPlan = ivf.queryFiltered(queries10, 10, allow, nprobe = 4)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*partition_id[^\\]]*\\]".r
        .findFirstIn(filteredPlan).isDefined,
      s"expected partition_id PartitionFilters under the allow semi-join:\n${
        filteredPlan.take(2500)}")

    // VAMANA: graph search is overfetch-then-filter (beam >= 4k), approximate
    val vUri = tmp()
    val vam = Ingest.ingest(spark, vUri, emb, "VAMANA", DistanceMetric.L2,
      timestamp = 1000L)
    val gotV = gotIds(vam.queryFiltered(queries10, 10, allow))
    assert(gotV.values.flatten.forall(_ % 3 == 0))
    val recallV = expected.keys.toSeq.map { q =>
      gotV.getOrElse(q, Seq.empty).toSet.intersect(expected(q).toSet).size / 10.0
    }.sum / expected.size
    assert(recallV >= 0.85, s"filtered VAMANA recall $recallV below gate")
  }

  test("queryFiltered edge cases: empty and no-match allow-lists return empty, correct schema") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "IVF_FLAT", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(8))
    val noneAllowed = emb.where(col("external_id") < 0).select("external_id")
    val r1 = idx.queryFiltered(queries10, 10, noneAllowed, nprobe = 8)
    assert(r1.columns.toSeq === Seq("qid", "rank", "id", "distance"))
    assert(r1.count() === 0)
    // ids absent from the index filter to nothing rather than erroring
    val absent = emb.select((col("external_id") + 900000000L).as("external_id"))
    assert(idx.queryFiltered(queries10, 10, absent, nprobe = 8).count() === 0)
    // a partial allow-list smaller than k yields that many hits per query
    val three = emb.where(col("external_id").isin(3L, 33L, 333L)).select("external_id")
    val r3 = idx.queryFiltered(queries10, 10, three, nprobe = 1 << 30)
    val counts = r3.groupBy("qid").count().collect().map(_.getLong(1)).toSet
    assert(counts === Set(3L))
    assert(r3.select("id").distinct().collect().map(_.getLong(0)).toSet
      === Set(3L, 33L, 333L))
    // a non-numeric allow column is a NAMED error up front, not an
    // all-NULL cast that masquerades as "no allowed neighbors"
    val binCol = emb.select(col("external_id").cast("string").cast("binary").as("blob"))
    val err = intercept[IllegalArgumentException] {
      idx.queryFiltered(queries10, 10, binCol)
    }
    assert(err.getMessage.contains("allowIds"))
    assert(err.getMessage.contains("blob"))
    // string ids that parse are fine; ones that don't raise at execution
    import spark.implicits._
    val okStrings = Seq("3", " 33", "333").toDF("sid")
    val rs = idx.queryFiltered(queries10, 10, okStrings, nprobe = 1 << 30)
    assert(rs.select("id").distinct().collect().map(_.getLong(0)).toSet
      === Set(3L, 33L, 333L))
    val badStrings = Seq("3", "not-an-id").toDF("sid")
    val ex = intercept[Exception] {
      idx.queryFiltered(queries10, 10, badStrings).count()
    }
    assert(ex.getMessage.contains("not-an-id"),
      s"expected the offending value in: ${ex.getMessage}")
  }

  test("spark.graft.simd conf: false forces scalar kernels on driver and executors; " +
    "auto keeps detection; malformed value errors") {
    import graft.functions.{Simd, VecKernels}
    val before = VecKernels.simdEnabled()
    try {
      spark.conf.set(Simd.SimdKey, "false")
      Simd.sync(spark)
      assert(!VecKernels.simdEnabled())
      // executors (same JVM under local[], but through real task threads)
      val states = spark.sparkContext.range(0L, 8L, 1L, 8)
        .mapPartitions(_ => Iterator.single(VecKernels.simdEnabled())).collect()
      assert(states.forall(_ == false))
      // auto restores per-JVM detection semantics (enabled iff supported here)
      spark.conf.set(Simd.SimdKey, "auto")
      if (VecKernels.SIMD_SUPPORTED) VecKernels.setSimdEnabled(true)
      Simd.sync(spark)
      assert(VecKernels.simdEnabled() === VecKernels.SIMD_SUPPORTED)
      spark.conf.set(Simd.SimdKey, "sideways")
      val bad = intercept[IllegalArgumentException](Simd.sync(spark))
      assert(bad.getMessage.contains(Simd.SimdKey))
    } finally {
      spark.conf.unset(Simd.SimdKey)
      VecKernels.setSimdEnabled(before && VecKernels.SIMD_SUPPORTED)
    }
  }

  test("VAMANA: build + beam search clears the 0.85 reference recall gate") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "VAMANA", DistanceMetric.L2,
      timestamp = 1000L)
    val exact = exactIds(emb, 10)
    val got = gotIds(idx.query(queries10, 10))
    val recall = exact.keys.toSeq.map { q =>
      got.getOrElse(q, Seq.empty).toSet.intersect(exact(q).toSet).size.toDouble / 10.0
    }.sum / exact.size
    assert(recall >= 0.85, s"recall $recall below VAMANA reference gate")
    // graph degree bound respected
    val maxDeg = spark.read.parquet(s"$uri/graph/v=1000")
      .select(max(size(col("neighbors")))).head().getInt(0)
    assert(maxDeg <= graft.index.VamanaIndex.DefaultRMaxDegree + 1)
    // regression: the probe-all idiom (lSearch = 1 << 30) must TERMINATE —
    // the frontier cap used to compute 2*L in Int, overflow negative, and
    // spin the executor forever on an empty frontier. With the beam
    // covering the whole connected graph the search is exhaustive
    // (recall 1.0 up to float tie noise at the k boundary).
    val allGot = gotIds(idx.query(queries10, 10, nprobe = 1 << 30))
    val allRecall = exact.keys.toSeq.map { q =>
      allGot.getOrElse(q, Seq.empty).toSet.intersect(exact(q).toSet).size.toDouble / 10.0
    }.sum / exact.size
    assert(allRecall >= 0.99, s"probe-all beam must be exhaustive, recall $allRecall")
  }

  test("VAMANA sharded: 4-shard build + merged search clears the recall gate") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "VAMANA", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(4))
    val exact = exactIds(emb, 10)
    val got = gotIds(idx.query(queries10, 10))
    val recall = exact.keys.toSeq.map { q =>
      got.getOrElse(q, Seq.empty).toSet.intersect(exact(q).toSet).size.toDouble / 10.0
    }.sum / exact.size
    assert(recall >= 0.85, s"sharded recall $recall below gate")
    // shards actually exist on disk
    val shards = spark.read.parquet(s"$uri/graph/v=1000")
      .select("shard_id").distinct().count()
    assert(shards === 4)
  }

  test("VAMANA PQ traversal: codes-only beam + exact re-rank clears the gate; probe-all = brute force") {
    val uri = tmp()
    val idx0 = Ingest.ingest(spark, uri, emb, "VAMANA", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(4)).asInstanceOf[graft.index.VamanaIndex]
    // PQ traversal without codes fails naming the missing build step
    val e = intercept[IllegalArgumentException](
      idx0.withPqTraversal().query(queries10, 10).collect())
    assert(e.getMessage.contains("buildPqCodes"), e.getMessage)
    idx0.buildPqCodes()
    idx0.buildPqCodes() // idempotent per version
    // codes live beside the graph, partitioned by shard for routed pruning
    val codeShards = spark.read.parquet(s"$uri/pq/v=1000")
      .select("shard_id").distinct().count()
    assert(codeShards === 4)
    // a fresh handle sees the persisted codes
    val idx = graft.index.VectorIndex.open(spark, uri)
      .asInstanceOf[graft.index.VamanaIndex].withPqTraversal()
    assert(idx.pqCodebooks.length === 16, "auto subspaces = dims/4 at 64 dims")
    val exact = exactIds(emb, 10)
    val got = gotIds(idx.query(queries10, 10))
    val recall = exact.keys.toSeq.map { q =>
      got.getOrElse(q, Seq.empty).toSet.intersect(exact(q).toSet).size.toDouble / 10.0
    }.sum / exact.size
    assert(recall >= 0.85, s"PQ-traversal recall $recall below the reference gate")
    // probe-all beam + corpus-covering kFactor: candidates = the whole
    // graph, so the exact re-rank REPRODUCES brute force (the exactness
    // seam the IVF_PQ path carries, here through the graph walk)
    val allGot = gotIds(idx.withPqTraversal(kFactor = 1e9f)
      .query(queries10, 10, nprobe = 1 << 30))
    val allRecall = exact.keys.toSeq.map { q =>
      allGot.getOrElse(q, Seq.empty).toSet.intersect(exact(q).toSet).size.toDouble / 10.0
    }.sum / exact.size
    assert(allRecall >= 0.99, s"probe-all PQ + full re-rank must be exhaustive, got $allRecall")
    // reported distances are exact (re-ranked from full vectors): rank-1
    // self-queries land on themselves at distance 0
    val self = idx.query(queries10, 10).where(col("rank") === 1)
    assert(self.where(col("qid") === col("id") && col("distance") === 0f).count() === 10)
    // composes with shard routing: arity holds and the pq scan prunes
    val routed = idx.queryLSearch(queries10, 10, lSearch = 100, nprobeShards = 2)
    assert(routed.groupBy("qid").count().where(col("count") =!= 10).count() === 0)
    val physical = routed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*shard_id[^\\]]*\\]".r.findFirstIn(physical).isDefined,
      s"expected shard_id PartitionFilters on the PQ scan:\n${physical.take(2500)}")
  }

  test("VAMANA shard routing: top-S shard probe clears the recall gate") {
    // The raw 500-vector fixture makes 4 shards of ~125 rows, so a query's
    // true top-10 genuinely spans >2 shards and routed recall is
    // structurally capped (~0.70 measured) — a fixture-size artifact, not a
    // routing defect. Augment with perturbed replicas (the VamanaRecallAudit
    // fixture) so shards are ~625 rows and neighborhoods are shard-local.
    // amplitude scales with the replica index so replica 0 IS the original
    // vector — queries10 then has an exact distance-0 self-match in corpus
    val corpus = emb
      .crossJoin(spark.range(5).select(col("id").as("replica")))
      .select(
        (col("replica") * 1000000L + col("external_id")).as("external_id"),
        expr("""transform(vector, (x, i) ->
                 float(x + 0.04 * replica * sin(replica * 13.7 + i * 0.31 + external_id * 0.017)))""")
          .as("vector"))
      .cache()
    val uri = tmp()
    // shardReplicas=2: SPANN-style boundary replication — without it,
    // routed recall on this near-uniform fixture is structurally ~0.70
    // (neighbors straddle shard boundaries); the PERF.md sweep records the
    // full (shards × replicas × S) recall surface.
    val idx = Ingest.ingest(spark, uri, corpus, "VAMANA", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(4), shardReplicas = Some(2))
      .asInstanceOf[graft.index.VamanaIndex]
    assert(idx.shardCentroids.length === 4) // centroids persisted for routing
    assert(idx.meta.shardReplicas === 2)
    val exact = exactIds(corpus, 10)
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = gotIds(df)
      exact.keys.toSeq.map { q =>
        got.getOrElse(q, Seq.empty).toSet.intersect(exact(q).toSet).size.toDouble / 10.0
      }.sum / exact.size
    }
    // Routed to half the shards: recall must still clear the reference gate,
    // and every query must keep exactly k results (routing narrows the
    // candidate pool, never the result arity).
    val routed = idx.queryLSearch(queries10, 10, lSearch = 100, nprobeShards = 2)
    assert(routed.groupBy("qid").count().where(col("count") =!= 10).count() === 0)
    assert(recallOf(routed) >= 0.85, "routed recall below gate at S=2 of 4")
    // probed shards reach the scan as physical partition pruning: only the
    // batch's target shards' files are read
    val physical = routed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*shard_id[^\\]]*\\]".r.findFirstIn(physical).isDefined,
      s"expected shard_id PartitionFilters in routed scan:\n${physical.take(2500)}")
    // S=1: the self-match lives in the query vector's own nearest shard, so
    // rank-1 self-hits survive maximal routing.
    val s1 = idx.queryLSearch(queries10, 10, lSearch = 100, nprobeShards = 1)
    assert(s1.where(col("rank") === 1 && col("qid") === col("id")).count() === 10)
    // session-conf default applies when the parameter is not set;
    // nprobeShards = -1 FORCES the exact all-shard merge past the conf
    spark.conf.set(graft.index.VamanaIndex.NprobeShardsKey, "2")
    try {
      val viaConf = idx.query(queries10, 10)
      assert(recallOf(viaConf) >= 0.85)
      val forced = idx.queryLSearch(queries10, 10, lSearch = 100, nprobeShards = -1)
      assert(recallOf(forced) >= 0.95, "forced all-shard should be (near-)exact")
    } finally spark.conf.unset(graft.index.VamanaIndex.NprobeShardsKey)
    // filtered search on the sharded+replicated build: the beam overfetch
    // (lSearch >= 4k) must clear the gate against the FILTERED ground truth
    // at 1/3 selectivity on this 2500-row near-uniform corpus — the n=500
    // single-shard gate alone wouldn't exercise replica dedup + routing
    // interplay under a filter
    val allowV = corpus.where(col("external_id") % 3 === 0).select("external_id")
    val exactF = exactIds(corpus.where(col("external_id") % 3 === 0), 10)
    val gotF = gotIds(idx.queryFiltered(queries10, 10, allowV))
    assert(gotF.values.forall(ids => ids.size == 10 && ids.forall(_ % 3 == 0)))
    val recallF = exactF.keys.toSeq.map { q =>
      gotF.getOrElse(q, Seq.empty).toSet.intersect(exactF(q).toSet).size / 10.0
    }.sum / exactF.size
    assert(recallF >= 0.85, s"filtered sharded recall $recallF below gate")

    // updates-merge semantics compose with routing: a deleted id disappears
    idx.deleteBatch(corpus.where(col("external_id") === 0L), ts = 1100L)
    val afterDel = VectorIndex.open(spark, uri).asInstanceOf[graft.index.VamanaIndex]
      .queryLSearch(queries10, 10, lSearch = 100, nprobeShards = 2)
    assert(afterDel.where(col("id") === 0L).count() === 0)

    // Auto-picked S (queryRouted): with the portal exchange, replicas >= 2
    // route at ~shards/4 (round-10 sweep: 0.913 at S=4 of 16x2); an
    // UNREPLICATED build still refuses (nothing to exchange, 0.734 at
    // S=shards/4)
    assert(idx.autoNprobeShards === 2)
    assert(graft.index.VamanaIndex.autoNprobeShards(16, 1) === 0)
    // a LEGACY replicated index persisted BEFORE the exchange existed has
    // only the round-5 recall (x2: 0.835 < gate) — auto-routing must not
    // apply the post-exchange sweep to it
    assert(graft.index.VamanaIndex.autoNprobeShards(16, 2, exchanged = false) === 0)
    assert(graft.index.VamanaIndex.autoNprobeShards(16, 3, exchanged = false) === 4)
    assert(idx.meta.boundaryExchanged)
    // ... and a replicas>=3 build routes at ~shards/4 (floor 2) and clears
    // the gate without the caller knowing the sweep.
    val uri3 = tmp()
    val idx3 = Ingest.ingest(spark, uri3, corpus, "VAMANA", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(4), shardReplicas = Some(3))
      .asInstanceOf[graft.index.VamanaIndex]
    assert(idx3.autoNprobeShards === 2)
    assert(graft.index.VamanaIndex.autoNprobeShards(16, 3) === 4) // the sweep point
    val auto = idx3.queryRouted(queries10, 10)
    assert(auto.groupBy("qid").count().where(col("count") =!= 10).count() === 0)
    assert(recallOf(auto) >= 0.85, "auto-picked routed recall below gate")
  }

  test("autoPartitions stays sane at design-point scale (no Int wrap)") {
    import graft.index.Ingest
    // 3e11 rows: (size/100).toInt used to wrap negative and collapse to 1
    assert(Ingest.autoPartitions(300L * 1000 * 1000 * 1000) === 547722)
    assert(Ingest.autoPartitions(100) === 1)
    assert(Ingest.autoPartitions(10000) === 100)
  }

  test("VAMANA auto-shards by size and exposes l_build / r_max_degree") {
    import graft.index.VamanaIndex
    // a >=100k-vector corpus defaults to multiple shards; small stays 1
    assert(VamanaIndex.autoShards(100000) > 1)
    assert(VamanaIndex.autoShards(500) === 1)
    // parallelism-aware: idle slots add shards, but never below MinShardSize
    assert(VamanaIndex.autoShards(2000, 32) === 4)
    assert(VamanaIndex.autoShards(400, 32) === 1)
    assert(VamanaIndex.autoShards(100000, 2) === 4) // size cap still applies
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "VAMANA", DistanceMetric.L2,
      timestamp = 1000L, lBuild = Some(30), rMaxDegree = Some(8))
      .asInstanceOf[graft.index.VamanaIndex]
    // r_max_degree reached the kernel: degree bound honored on disk
    val maxDeg = spark.read.parquet(s"$uri/graph/v=1000")
      .select(max(size(col("neighbors")))).head().getInt(0)
    assert(maxDeg <= 8 + 1)
    // labeled l_search variant; generous beam still finds the self-match
    val hits = idx.queryLSearch(queries10, 5, lSearch = 50)
    assert(hits.where(col("rank") === 1 && col("qid") === col("id")).count() === 10)
  }

  test("VAMANA collect-free query: full-table query batch over a sharded index") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "VAMANA", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(4))
    val allQueries = emb.select(col("external_id").as("qid"), col("vector").as("qvec"))
    val hits = idx.query(allQueries, 3)
    assert(hits.count() === 1500)
    // exact self-match must rank first for every query (it exists in some shard)
    assert(hits.where(col("rank") === 1 && col("qid") === col("id")).count() === 500)
  }

  test("VAMANA incremental consolidation rebuilds only touched shards") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val uri = tmp()
    Ingest.ingest(spark, uri, emb, "VAMANA", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(4))
    // update one vector: its old shard and the shard the new value lands in
    // are the only ones allowed to change
    val newVec = emb.where(col("external_id") === 7L)
      .select(col("external_id"), reverse(col("vector")).as("vector"))
    VectorIndex.open(spark, uri).updateBatch(newVec, ts = 1100L)
    val after = VectorIndex.open(spark, uri).consolidateUpdates(newTs = 2000L)
      .asInstanceOf[graft.index.VamanaIndex]
    val oldShard = spark.read.parquet(s"$uri/base/v=1000")
      .where(col("external_id") === 7L).select("shard_id").as[Int].collect().toSet
    val newShard = spark.read.parquet(s"$uri/base/v=2000")
      .where(col("external_id") === 7L).select("shard_id").as[Int].collect().toSet
    val touched = oldShard ++ newShard
    def dirFiles(p: String): Map[String, Seq[Byte]] = {
      val d = java.nio.file.Paths.get(p)
      java.nio.file.Files.list(d).iterator().asScala
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .map(f => f.getFileName.toString -> java.nio.file.Files.readAllBytes(f).toSeq)
        .toMap
    }
    for (sid <- 0 until 4 if !touched(sid)) {
      assert(dirFiles(s"$uri/graph/v=1000/shard_id=$sid") ===
        dirFiles(s"$uri/graph/v=2000/shard_id=$sid"),
        s"untouched shard $sid graph changed")
      assert(dirFiles(s"$uri/base/v=1000/shard_id=$sid") ===
        dirFiles(s"$uri/base/v=2000/shard_id=$sid"),
        s"untouched shard $sid base changed")
    }
    assert(touched.size < 4, "fixture degenerate: every shard touched")
    // logical size unchanged (update, not add/delete); params preserved
    assert(after.meta.baseSizes.last === 500L)
    assert(after.meta.partitionHistory.last === 4)
    assert(after.meta.lBuild === graft.index.VamanaIndex.DefaultLBuild)
    // semantics: the updated vector is served with its NEW value — querying
    // the reversed vector finds id 7 at distance 0
    val q = newVec.select(col("external_id").as("qid"), col("vector").as("qvec"))
    val top = after.query(q, 1).collect().head
    assert(top.getLong(2) === 7L && top.getFloat(3) === 0.0f)
    // and a full-corpus query equals the FLAT exact answer over the merged set
    val merged = emb.where(col("external_id") =!= 7L).unionByName(newVec)
    val exact = exactIds(merged, 10)
    assert(gotIds(after.query(queries10, 10)) === exact)
  }

  test("VAMANA incremental consolidation reclaims a failed prior attempt") {
    import spark.implicits._
    val uri = tmp()
    Ingest.ingest(spark, uri, emb, "VAMANA", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(4))
    VectorIndex.open(spark, uri).updateBatch(
      emb.where(col("external_id") === 7L)
        .select(col("external_id"), reverse(col("vector")).as("vector")), ts = 1100L)
    // simulate a crashed earlier consolidation at ts=2000: a full stale
    // copy of the old base/graph already sits at v=2000 (never committed
    // to index.json) — the retry must reclaim it, not append next to it
    for (layer <- Seq("base", "graph"))
      graft.index.TestHooks.copyDir(s"$uri/$layer/v=1000", s"$uri/$layer/v=2000")
    val after = VectorIndex.open(spark, uri).consolidateUpdates(newTs = 2000L)
    // no duplicated rows: one base row per (shard, id), 500 logical ids
    assert(after.baseVectors().count() === 500)
    val dupGraph = spark.read.parquet(s"$uri/graph/v=2000")
      .groupBy("shard_id", "external_id").count().where(col("count") > 1).count()
    assert(dupGraph === 0, "retried consolidation duplicated graph rows")
    val merged = emb.where(col("external_id") =!= 7L).unionByName(
      emb.where(col("external_id") === 7L)
        .select(col("external_id"), reverse(col("vector")).as("vector")))
    assert(gotIds(after.query(queries10, 10)) === exactIds(merged, 10))
  }

  test("incremental consolidation composes with boundary replication") {
    import spark.implicits._
    val uri = tmp()
    Ingest.ingest(spark, uri, emb, "VAMANA", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(4), shardReplicas = Some(2))
    val newVec = emb.where(col("external_id") === 7L)
      .select(col("external_id"), reverse(col("vector")).as("vector"))
    VectorIndex.open(spark, uri).updateBatch(newVec, ts = 1100L)
    val after = VectorIndex.open(spark, uri).consolidateUpdates(newTs = 2000L)
      .asInstanceOf[graft.index.VamanaIndex]
    assert(after.meta.shardReplicas === 2)
    // logical base stays 500 unique ids; physical rows = ~2 per id
    assert(after.baseVectors().count() === 500)
    val physRows = spark.read.parquet(s"$uri/base/v=2000").count()
    assert(physRows > 900, s"replication lost on consolidation: $physRows rows")
    // id 7 exists in exactly its 2 target shards, with the NEW vector
    val copies = spark.read.parquet(s"$uri/base/v=2000")
      .where(col("external_id") === 7L)
    assert(copies.select("shard_id").distinct().count() === 2)
    // every untouched shard's graph is byte-identical (id 7's OLD and NEW
    // shards are the only rebuilds)
    val touched = (spark.read.parquet(s"$uri/base/v=1000")
        .where(col("external_id") === 7L).select("shard_id").as[Int].collect() ++
      copies.select("shard_id").as[Int].collect()).toSet
    import scala.jdk.CollectionConverters._
    def names(p: String): Set[String] = {
      val d = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.exists(d)) Set.empty
      else java.nio.file.Files.list(d).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    }
    for (sid <- 0 until 4 if !touched(sid))
      assert(names(s"$uri/graph/v=1000/shard_id=$sid") ===
        names(s"$uri/graph/v=2000/shard_id=$sid"), s"shard $sid rebuilt")
    // routed query through the consolidated replicated index stays correct
    val q = newVec.select(col("external_id").as("qid"), col("vector").as("qvec"))
    val top = after.queryLSearch(q, 1, lSearch = 100, nprobeShards = 1)
      .collect().head
    assert(top.getLong(2) === 7L && top.getFloat(3) === 0.0f)
  }

  test("IVF consolidate with copy-centroids reuses the trained centroids") {
    val expected = exactIds(emb.where(col("external_id") >= 50), 10)
    for (indexType <- Seq("IVF_FLAT", "IVF_SQ8", "IVF_PQ")) {
      val uri = tmp()
      val idx = Ingest.ingest(spark, uri, emb, indexType, DistanceMetric.L2,
        timestamp = 1000L, partitions = Some(8)).asInstanceOf[graft.index.IvfIndex]
      val before = idx.centroids.map(_.toSeq)
      idx.deleteBatch(emb.where(col("external_id") < 50), ts = 1100L)
      val after = VectorIndex.open(spark, uri)
        .consolidateUpdates(newTs = 2000L, reuseCentroids = true)
        .asInstanceOf[graft.index.IvfIndex]
      assert(after.centroids.map(_.toSeq).toSeq === before.toSeq, indexType)
      // probe-all; the lossy codecs re-rank every surviving row
      val got = after match {
        case lossy: graft.index.IvfRerankIndex =>
          lossy.queryBase(queries10, 10, nprobe0 = 8, kFactor = 50f)
        case exact => exact.query(queries10, 10, nprobe = 8)
      }
      assert(gotIds(got) === expected, indexType)
    }
  }

  test("clearHistory drops old versions; vacuum compacts the updates log") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "FLAT", DistanceMetric.L2, timestamp = 1000L)
    Ingest.ingest(spark, uri, emb, "FLAT", DistanceMetric.L2,
      timestamp = 2000L, appendMeta = true)
    VectorIndex.open(spark, uri).clearHistory(1500L)
    val m = graft.index.IndexMeta.read(uri)
    assert(m.ingestionTimestamps === List(2000L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$uri/base/v=1000")))
    // vacuum: many small update fragments -> compacted
    val reopened = VectorIndex.open(spark, uri)
    (0 until 5).foreach { i =>
      reopened.deleteBatch(emb.where(col("external_id") === i), ts = 2100L + i)
    }
    reopened.vacuum()
    val expected = exactIds(emb.where(col("external_id") >= 5), 10)
    assert(gotIds(VectorIndex.open(spark, uri).query(queries10, 10)) === expected)
  }

  test("uint8 FLAT index: byte-packed storage, asymmetric float-query kernels") {
    import spark.implicits._
    val uri = tmp()
    // quantize unit floats to u8: floor((x+1)*127.5) clamped
    val qdb = emb.select(col("external_id"),
      expr("transform(vector, x -> float(least(255.0, floor((x + 1.0) * 127.5))))")
        .as("vector"))
    val idx = Ingest.ingest(spark, uri, qdb, "FLAT", DistanceMetric.L2,
      dtype = "uint8", timestamp = 1000L)
    assert(idx.meta.dtype === "uint8")
    // stored as binary (1 byte/dim)
    val sch = spark.read.parquet(s"$uri/base/v=1000").schema("vector").dataType
    assert(sch === org.apache.spark.sql.types.BinaryType)
    // exact-equivalence: same answer as float brute force over quantized db
    val exact = Knn.bruteForce(qdb, queries10, 10, DistanceMetric.L2,
        idCol = "external_id", vecCol = "vector")
      .orderBy("qid", "rank").collect()
      .groupBy(_.getLong(0)).map { case (q, r) => q -> r.map(_.getLong(2)).toSeq }
    assert(gotIds(idx.query(queries10, 10)) === exact)
  }

  test("knn-graph: probe-all is exact; multi-probe keeps useful recall") {
    import spark.implicits._
    val exact = graft.operators.KnnGraph.build(
        emb.select(col("external_id").as("vec_id"), col("vector").as("embedding")),
        3, DistanceMetric.L2, partitions = 8, nprobe = 8,
        idCol = "vec_id", vecCol = "embedding")
      .select("id", "nbr_id").as[(Long, Long)].collect().toSet
    // spot-check one node against brute force
    val data = emb.as[(Long, Array[Float])].collect().toMap
    val q0 = data(0L)
    val bf = data.toSeq.filter(_._1 != 0L).map { case (id, v) =>
      var s = 0.0f; var i = 0
      while (i < v.length) { val d = v(i) - q0(i); s += d * d; i += 1 }
      (s, id)
    }.sortBy(t => (t._1, t._2)).take(3).map(_._2).toSet
    assert(exact.filter(_._1 == 0L).map(_._2) === bf)
    val ann = graft.operators.KnnGraph.build(
        emb.select(col("external_id").as("vec_id"), col("vector").as("embedding")),
        3, DistanceMetric.L2, partitions = 8, nprobe = 2,
        idCol = "vec_id", vecCol = "embedding")
      .select("id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = (ann & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"multi-probe graph recall $recall too low")
  }

  test("LSH search: near-duplicates recalled through band buckets; " +
    "exact over candidates; deterministic planes") {
    import spark.implicits._
    // near-dup fixture: 200 base vectors + a small-angle perturbation of
    // each (cosine ≈ 0.995). Sign-LSH's contract is HIGH-cosine retrieval:
    // P(bit agrees) = 1 - θ/π ≈ 0.97, so P(some 8-bit band agrees) ≈ 1 —
    // while generic k-NN on near-orthogonal data is IVF's job, not LSH's.
    val rnd = new java.util.Random(7)
    val base = Array.fill(200)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      val dup = v.map(x => x + 0.1f * rnd.nextGaussian().toFloat)
      Seq((i.toLong, v), ((i + 1000).toLong, dup))
    }.toSeq
    val db = rows.toDF("id", "vector")
    val queries = db.where(col("id") < 200)
      .select(col("id").as("qid"), col("vector").as("qvec"))
    val planes = graft.operators.LshKnn.planes(seed = 1L, nbits = 64, dims = 64)
    val hits = graft.operators.LshKnn.search(db, queries, 2, planes, bands = 8)
      .select("qid", "id").as[(Long, Long)].collect()
    // each query's duplicate (cosine ≈ 0.995) must be recalled for ≥90%
    // of queries through some shared band
    val found = hits.filter { case (q, id) => id == q + 1000 }.map(_._1).toSet
    assert(found.size >= 180, s"only ${found.size}/200 near-dups recalled")
    // exact-over-candidates: every query at least finds itself at rank 1
    val self = graft.operators.LshKnn.search(db, queries, 1, planes, bands = 8)
      .select("qid", "id").as[(Long, Long)].collect()
    assert(self.forall { case (q, id) => id == q }, "self not at rank 1")
    // deterministic: same seed → identical planes
    val p2 = graft.operators.LshKnn.planes(seed = 1L, nbits = 64, dims = 64)
    assert(planes.flatten.toSeq === p2.flatten.toSeq)
  }

  test("hard negatives: nearest different-label vectors, exact at probe-all") {
    import spark.implicits._
    val labeled = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val got = graft.operators.KnnGraph.hardNegatives(labeled, 3,
        DistanceMetric.L2, partitions = 8, nprobe = 8,
        idCol = "vec_id", vecCol = "embedding", labelCol = "label")
      .select("id", "label", "nbr_id", "nbr_label")
      .as[(Long, Int, Long, Int)].collect()
    // no same-label pair, no self-pair, k per id
    assert(got.forall { case (id, l, nid, nl) => id != nid && l != nl })
    assert(got.groupBy(_._1).forall(_._2.length == 3))
    // spot-check node 0 against brute force over different-label vectors
    val data = labeled.select("vec_id", "embedding", "label")
      .as[(Long, Array[Float], Int)].collect()
    val (q0, l0) = data.find(_._1 == 0L).map(r => (r._2, r._3)).get
    val bf = data.filter(r => r._1 != 0L && r._3 != l0).map { case (id, v, _) =>
      var s = 0.0f; var i = 0
      while (i < v.length) { val d = v(i) - q0(i); s += d * d; i += 1 }
      (s, id)
    }.sortBy(t => (t._1, t._2)).take(3).map(_._2).toSet
    assert(got.filter(_._1 == 0L).map(_._3).toSet === bf)
  }

  test("contrastive triplets: nearest positive and hard negative per anchor, exact at probe-all") {
    import spark.implicits._
    val labeled = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val got = graft.operators.KnnGraph.contrastiveTriplets(labeled,
        DistanceMetric.L2, partitions = 8, nprobe = 8,
        idCol = "vec_id", vecCol = "embedding", labelCol = "label")
      .as[(Long, Int, Long, Long)].collect()
    assert(got.length === 500) // every anchor has both sides in this fixture
    val data = labeled.select("vec_id", "embedding", "label")
      .as[(Long, Array[Float], Int)].collect()
    val byId = data.map(r => r._1 -> r).toMap
    def nearest(q: Long, sameLabel: Boolean): Long = {
      val (_, qv, ql) = byId(q)
      data.filter(r => r._1 != q && (r._3 == ql) == sameLabel).map { case (id, v, _) =>
        var s = 0.0f; var i = 0
        while (i < v.length) { val d = v(i) - qv(i); s += d * d; i += 1 }
        (s, id)
      }.minBy(t => (t._1, t._2))._2
    }
    // brute-force spot-check a handful of anchors
    got.filter(r => Set(0L, 7L, 123L, 499L)(r._1)).foreach { case (id, l, p, n) =>
      assert(byId(p)._3 === l, s"positive label mismatch for $id")
      assert(byId(n)._3 !== l, s"negative label match for $id")
      assert(p === nearest(id, sameLabel = true), s"positive for $id")
      assert(n === nearest(id, sameLabel = false), s"negative for $id")
    }
  }

  test("label propagation: seeds clamp, ties break to the smaller label, hops advance per round") {
    import spark.implicits._
    // 1 hears {A, B} (tie -> A); 4 only reaches 1, so it needs round 2
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L), (4L, 1L))
      .toDF("id", "nbr_id")
    val seeds = Seq((2L, 10), (3L, 20)).toDF("id", "label")
    val r1 = graft.operators.KnnGraph.propagateLabels(edges, seeds, iters = 1)
      .as[(Long, Option[Int])].collect().toMap
    assert(r1(1L) === Some(10)) // tie {10, 20} -> smaller label
    assert(r1(2L) === Some(10) && r1(3L) === Some(20)) // clamped
    assert(r1(4L) === None) // nothing labeled in reach yet
    val r2 = graft.operators.KnnGraph.propagateLabels(edges, seeds, iters = 2)
      .as[(Long, Option[Int])].collect().toMap
    assert(r2(4L) === Some(10)) // round 2: 1's label arrived
  }

  test("collect-free IVF path handles a large query batch (all 500 as queries)") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "IVF_FLAT", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(16))
    val allQueries = emb.select(col("external_id").as("qid"), col("vector").as("qvec"))
    val hits = idx.query(allQueries, 3, nprobe = 16)
    assert(hits.count() === 1500)
    // self-match must rank first for every query (exact path, probe-all)
    val selfFirst = hits.where(col("rank") === 1 && col("qid") === col("id")).count()
    assert(selfFirst === 500)
  }

  test("ingest with separate training source and synthetic ids") {
    val uri = tmp()
    val noIds = emb.select(col("vector"))
    val withIds = Ingest.withSyntheticIds(noIds)
    assert(withIds.agg(min(col("external_id")), max(col("external_id")))
      .head().toSeq === Seq(0L, 499L))
    // multi-partition frame: ids stay consecutive 0..n-1 and unique — the
    // per-partition-offset (zipWithIndex) path, not a single-task window
    val multi = Ingest.withSyntheticIds(noIds.repartition(7))
    assert(multi.select(countDistinct(col("external_id"))).head().getLong(0) === 500L)
    assert(multi.agg(min(col("external_id")), max(col("external_id")))
      .head().toSeq === Seq(0L, 499L))
    val train = emb.where(col("external_id") < 200).select("vector")
    val idx = Ingest.ingest(spark, uri, withIds, "IVF_FLAT", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(8), trainingSource = Some(train))
    assert(idx.query(queries10, 5, nprobe = 8).count() === 50)
  }

  test("VAMANA + updates log: graph base merges with additions/deletes") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "VAMANA", DistanceMetric.L2,
      timestamp = 1000L)
    // delete q0's nearest true neighbors (not q0 itself), add an exact
    // duplicate of q0
    val exact = exactIds(emb, 10)
    val toDelete = exact(0L).slice(1, 4)
    idx.deleteBatch(emb.where(col("external_id").isin(toDelete: _*)), ts = 1100L)
    idx.updateBatch(
      emb.where(col("external_id") === 0)
        .select(lit(77777L).as("external_id"), col("vector")), ts = 1100L)
    val got = gotIds(VectorIndex.open(spark, uri).query(queries10, 10))
    assert(!got(0L).exists(toDelete.toSet), "deleted ids must be masked")
    assert(got(0L).take(2).toSet === Set(0L, 77777L),
      "the added exact duplicate must tie with the original at the top")
  }

  private lazy val quantU8 = emb.select(col("external_id"),
    expr("transform(vector, x -> float(least(255.0, floor((x + 1.0) * 127.5))))")
      .as("vector"))

  test("uint8 IVF_FLAT: packed partitioned storage, probe-all exact, nprobe recall") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, quantU8, "IVF_FLAT", DistanceMetric.L2,
      dtype = "uint8", timestamp = 1000L, partitions = Some(16))
    // packed binary storage under partition dirs
    val sch = spark.read.parquet(s"$uri/base/v=1000").schema("vector").dataType
    assert(sch === org.apache.spark.sql.types.BinaryType)
    val exact = gotIds(Knn.bruteForce(quantU8, queries10, 10, DistanceMetric.L2,
      idCol = "external_id", vecCol = "vector"))
    assert(gotIds(idx.query(queries10, 10, nprobe = 16)) === exact)
    // quantization coarsens partition boundaries on this near-uniform
    // fixture (float data needs 8/16 for 0.95; quantized measures 0.80
    // there) — the reference gate holds at nprobe=10
    val approx = gotIds(idx.query(queries10, 10, nprobe = 10))
    val recall = exact.keys.toSeq.map { q =>
      approx(q).toSet.intersect(exact(q).toSet).size.toDouble / 10.0
    }.sum / exact.size
    assert(recall >= 0.85, s"u8 IVF recall $recall below gate")
  }

  test("uint8 IVF_PQ: packed storage, probe-all + full k_factor equals brute force") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, quantU8, "IVF_PQ", DistanceMetric.L2,
      dtype = "uint8", timestamp = 1000L, partitions = Some(8))
      .asInstanceOf[graft.index.IvfPqIndex]
    val sch = spark.read.parquet(s"$uri/base/v=1000").schema("vector").dataType
    assert(sch === org.apache.spark.sql.types.BinaryType)
    val exact = gotIds(Knn.bruteForce(quantU8, queries10, 10, DistanceMetric.L2,
      idCol = "external_id", vecCol = "vector"))
    val all = gotIds(idx.queryBase(queries10, 10, nprobe0 = 8, kFactor = 50f))
    assert(all === exact)
  }

  test("int8 VAMANA: packed storage, graph search clears the recall gate") {
    val uri = tmp()
    // int8 range: quantize to [-128, 127]
    val qdb = emb.select(col("external_id"),
      expr("transform(vector, x -> float(greatest(-128.0, least(127.0, floor(x * 127.0)))))")
        .as("vector"))
    val idx = Ingest.ingest(spark, uri, qdb, "VAMANA", DistanceMetric.L2,
      dtype = "int8", timestamp = 1000L)
    val sch = spark.read.parquet(s"$uri/base/v=1000").schema("vector").dataType
    assert(sch === org.apache.spark.sql.types.BinaryType)
    val exact = gotIds(Knn.bruteForce(qdb, queries10, 10, DistanceMetric.L2,
      idCol = "external_id", vecCol = "vector"))
    val got = gotIds(idx.query(queries10, 10))
    val recall = exact.keys.toSeq.map { q =>
      got.getOrElse(q, Seq.empty).toSet.intersect(exact(q).toSet).size.toDouble / 10.0
    }.sum / exact.size
    assert(recall >= 0.85, s"int8 VAMANA recall $recall below gate")
  }

  test("COSINE consolidate normalizes log additions before merging the base") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "IVF_FLAT", DistanceMetric.Cosine,
      timestamp = 1000L, partitions = Some(8))
    // additions with large-magnitude (unnormalized) vectors: cosine ignores
    // magnitude, so post-consolidation results must match brute force over
    // the merged RAW set
    val adds = emb.where(col("external_id") < 20)
      .select((col("external_id") + 1000000L).as("external_id"),
        expr("transform(vector, x -> x * 37.0f)").as("vector"))
    idx.updateBatch(adds, ts = 1100L)
    val after = VectorIndex.open(spark, uri).consolidateUpdates(newTs = 2000L)
    val merged = emb.unionByName(adds)
    val expected = exactIds(merged, 10, DistanceMetric.Cosine)
    val got = gotIds(after.query(queries10, 10, nprobe = 8))
    // scaled duplicates tie exactly with their originals under cosine; accept
    // either member of the tie pair at each rank
    val canon = (m: Map[Long, Seq[Long]]) =>
      m.map { case (q, ids) => q -> ids.map(i => if (i >= 1000000L) i - 1000000L else i).toSet }
    assert(canon(got) === canon(expected))
  }

  test("uint8 consolidate unpacks byte storage and re-packs (dtype preserved)") {
    val uri = tmp()
    val qdb = emb.select(col("external_id"),
      expr("transform(vector, x -> float(least(255.0, floor((x + 1.0) * 127.5))))")
        .as("vector"))
    val idx = Ingest.ingest(spark, uri, qdb, "FLAT", DistanceMetric.L2,
      dtype = "uint8", timestamp = 1000L)
    idx.deleteBatch(qdb.where(col("external_id") < 100), ts = 1100L)
    val after = idx.consolidateUpdates(newTs = 2000L)
    assert(after.meta.dtype === "uint8")
    assert(spark.read.parquet(s"$uri/base/v=2000").schema("vector").dataType
      === org.apache.spark.sql.types.BinaryType)
    val expected = gotIds(Knn.bruteForce(qdb.where(col("external_id") >= 100),
      queries10, 10, DistanceMetric.L2, idCol = "external_id", vecCol = "vector"))
    assert(gotIds(after.query(queries10, 10)) === expected)
  }

  test("IVF_PQ consolidate preserves a custom numSubspaces") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "IVF_PQ", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(4), numSubspaces = Some(32))
    assert(idx.meta.numSubspaces === 32)
    idx.deleteBatch(emb.where(col("external_id") < 50), ts = 1100L)
    val after = idx.consolidateUpdates(newTs = 2000L)
    assert(after.meta.numSubspaces === 32)
    assert(after.query(queries10, 5, nprobe = 4).count() === 50)
  }

  test("consolidateUpdates folds the log into a new base version") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "FLAT", DistanceMetric.L2, timestamp = 1000L)
    idx.deleteBatch(emb.where(col("external_id") < 100), ts = 1100L)
    val consolidated = idx.consolidateUpdates(newTs = 2000L)
    assert(consolidated.meta.ingestionTimestamps === List(1000L, 2000L))
    assert(consolidated.meta.baseSizes.last === 400L)
    val expected = exactIds(emb.where(col("external_id") >= 100), 10)
    assert(gotIds(consolidated.query(queries10, 10)) === expected)
  }

  test("ingestFromSource: autodetect + size prefix + external-ids source") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_src")
    graft.io.VecsIO.writeFvecsSharded(
      emb.orderBy("external_id").select(col("vector")), s"$srcDir/v.fvecs")
    graft.io.VecsIO.writeU64bin(s"$srcDir/ids.u64bin",
      (0L until 500L).map(_ + 1000L))
    val idx = graft.index.Ingest.ingestFromSource(spark, tmp(),
      s"$srcDir/v.fvecs", "FLAT", DistanceMetric.L2, timestamp = 1000L,
      size = Some(200L), externalIdsUri = Some(s"$srcDir/ids.u64bin"))
    assert(idx.meta.baseSizes === List(200L))
    // neighbors carry the external ids (+1000) and only the 200-row prefix
    val hits = idx.query(queries10, 5)
    val ids = hits.select("id").as[Long].collect()
    assert(ids.forall(id => id >= 1000L && id < 1200L))
    // the size prefix keeps FIRST_N semantics: same answer as brute force
    // over the first 200 source rows
    val expected = gotIds(Knn.bruteForce(
      emb.where(col("external_id") < 200)
        .select((col("external_id") + 1000L).as("external_id"), col("vector")),
      queries10, 5, DistanceMetric.L2, idCol = "external_id", vecCol = "vector"))
    assert(gotIds(hits) === expected)
  }

  test("ingestFromSource parquet size prefix selects the n smallest ids") {
    val srcDir = Files.createTempDirectory("graft_psrc")
    // non-0-based, shuffled ids: prefix must be id-order, not scan-order
    emb.select((col("external_id") + 5000L).as("external_id"), col("vector"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$srcDir/vecs_table")
    val idx = graft.index.Ingest.ingestFromSource(spark, tmp(),
      s"$srcDir/vecs_table", "FLAT", DistanceMetric.L2,
      timestamp = 1000L, size = Some(100L))
    assert(idx.meta.baseSizes === List(100L))
    val ids = idx.baseVectors().select("external_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (5000L until 5100L))
  }

  test("withSyntheticIds with orderBy assigns ids in sort order") {
    import spark.implicits._
    val df = Seq(("c", 30), ("a", 10), ("d", 40), ("b", 20))
      .toDF("name", "payload").repartition(3)
    val withIds = Ingest.withSyntheticIds(df, "name")
    val got = withIds.select("name", "external_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L))
  }

  test("updates-log compaction sizes output by bytes (small log -> one file)") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "FLAT", DistanceMetric.L2, timestamp = 1000L)
    (1 to 12).foreach { i =>
      idx.updateBatch(emb.where(col("external_id") === i)
        .select(col("external_id"), col("vector")), ts = 1000L + i)
    }
    assert(idx.consolidateUpdatesLog(maxFragments = 10))
    val files = Files.list(java.nio.file.Paths.get(s"$uri/updates"))
      .filter(p => p.getFileName.toString.endsWith(".parquet")).count()
    assert(files === 1, s"small log should compact to one file, got $files")
    // rows survive compaction and the read-merge path still sees them
    assert(spark.read.parquet(s"$uri/updates").count() === 12)
  }

  test("VAMANA consolidate preserves lBuild/rMaxDegree and shard count") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "VAMANA", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(4),
      lBuild = Some(40), rMaxDegree = Some(24))
    assert(idx.meta.lBuild === 40)
    assert(idx.meta.rMaxDegree === 24)
    assert(idx.meta.partitionHistory === List(4))
    idx.deleteBatch(emb.where(col("external_id") < 50), ts = 1100L)
    val after = idx.consolidateUpdates(newTs = 2000L)
    // custom graph shape survives consolidation (no silent revert to
    // defaults / auto-sharding)
    assert(after.meta.lBuild === 40)
    assert(after.meta.rMaxDegree === 24)
    assert(after.meta.partitionHistory === List(4, 4))
    assert(after.query(queries10, 5).count() === 50)
  }

  test("k-means fixup: degenerate all-identical input still yields k distinct centroids") {
    import spark.implicits._
    // reference invariant: exactly `partitions` centroids even when the
    // training data collapses to one point (index/kmeans.h:229-360)
    val degenerate = Seq.tabulate(50)(i => (i.toLong, Array.fill(8)(1.0f)))
      .toDF("external_id", "vector")
    val cents = Ingest.trainCentroids(degenerate, 8, 50)
    assert(cents.length === 8)
    assert(cents.map(_.toSeq).distinct.length === 8)
    // normal data: exact-k invariant with distinct centers
    val cents2 = Ingest.trainCentroids(emb, 16, 500)
    assert(cents2.length === 16)
    assert(cents2.map(_.toSeq).distinct.length === 16)
  }

  test("training sample plan has no GlobalLimit funnel") {
    val sampled = Ingest.trainingSample(emb, 100, 500)
    val plan = sampled.queryExecution.optimizedPlan.toString
    assert(!plan.contains("GlobalLimit"), plan)
    val n = sampled.count()
    assert(n > 50 && n < 200, s"sample size $n far from expected ~100")
  }

  test("IVF_FLAT query switches broadcast(pairs) to a shuffle join past the size threshold") {
    val uri = tmp()
    val idx = Ingest.ingest(spark, uri, emb, "IVF_FLAT", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(16))
    // all 500 vectors as the query batch — the large-nq shape where an
    // unconditional broadcast of (nq × nprobe) pairs rows breaks at scale
    val allQ = emb.select(col("external_id").as("qid"), col("vector").as("qvec"))
    val expected = idx.query(allQ, 10, nprobe = 16).orderBy("qid", "rank").collect()
    spark.conf.set(VectorIndex.MaxBroadcastBytesKey, "1")
    try {
      val df = idx.query(allQ, 10, nprobe = 16)
      val plan = df.queryExecution.sparkPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), s"still broadcasting:\n${plan.take(2000)}")
      assert(plan.contains("ShuffledHashJoin"), s"no shuffle hash join:\n${plan.take(2000)}")
      assert(df.orderBy("qid", "rank").collect() === expected)
    } finally spark.conf.unset(VectorIndex.MaxBroadcastBytesKey)
  }

  test("IVF_PQ query gates pairs/candidates/qvecs broadcasts on the size threshold") {
    val allQ = emb.select(col("external_id").as("qid"), col("vector").as("qvec"))
    // IVF_SQ8 shares the probe and the re-rank joins
    for (indexType <- Seq("IVF_PQ", "IVF_SQ8")) {
      val idx = ivf8(indexType).asInstanceOf[graft.index.IvfRerankIndex]
      val expected = idx.queryBase(allQ, 10, nprobe0 = 8, kFactor = 50f)
        .orderBy("qid", "rank").collect()
      spark.conf.set(VectorIndex.MaxBroadcastBytesKey, "1")
      try {
        val df = idx.queryBase(allQ, 10, nprobe0 = 8, kFactor = 50f)
        val plan = df.queryExecution.sparkPlan.toString
        assert(!plan.contains("BroadcastHashJoin"),
          s"$indexType still broadcasting:\n${plan.take(2000)}")
        assert(plan.contains("ShuffledHashJoin"),
          s"$indexType no shuffle hash join:\n${plan.take(2000)}")
        assert(df.orderBy("qid", "rank").collect() === expected, indexType)
      } finally spark.conf.unset(VectorIndex.MaxBroadcastBytesKey)
    }
  }

  test("each IVF type's default nprobe is its documented one") {
    // sqrt(8) = 2 for IVF_FLAT and IVF_SQ8; min(8, 100) = 8 for IVF_PQ
    for ((indexType, nprobe) <- Seq("IVF_FLAT" -> 2, "IVF_SQ8" -> 2, "IVF_PQ" -> 8)) {
      val idx = ivf8(indexType)
      def rows(df: DataFrame) = df.orderBy("qid", "rank").collect().toSeq
      assert(rows(idx.query(queries10, 10)) ===
        rows(idx.query(queries10, 10, nprobe = nprobe)), indexType)
    }
  }

  test("k_factor calibration persists a grid knee that becomes the query default") {
    val uri = tmp()
    Ingest.ingest(spark, uri, emb, "IVF_PQ", DistanceMetric.L2, timestamp = 1000L)
    val pq = VectorIndex.open(spark, uri).asInstanceOf[graft.index.IvfPqIndex]
    assert(pq.defaultKFactor === graft.index.IvfPqIndex.DefaultKFactor) // uncalibrated
    val kf = pq.calibrateKFactor(k = 10, nq = 8)
    assert(graft.index.KFactorCalibration.Grid.contains(kf))
    val reopened = VectorIndex.open(spark, uri).asInstanceOf[graft.index.IvfPqIndex]
    assert(reopened.meta.pqKFactor === kf)
    assert(reopened.defaultKFactor === kf)
    // the default query path now serves at the calibrated pool size
    assert(gotIds(reopened.query(queries10, 10)) ===
      gotIds(reopened.queryBase(queries10, 10, 0, kf)))
  }

  test("auto k_factor calibration runs inside ingest when the conf is set") {
    val uri = tmp()
    spark.conf.set(Ingest.AutoKFactorKey, "true")
    try {
      val idx = Ingest.ingest(spark, uri, emb, "IVF_SQ8", DistanceMetric.L2,
        timestamp = 1000L)
      assert(idx.meta.pqKFactor > 0f, "ingest must persist a calibrated kFactor")
      assert(graft.index.KFactorCalibration.Grid.contains(idx.meta.pqKFactor))
    } finally spark.conf.unset(Ingest.AutoKFactorKey)
  }

  test("VAMANA PQ-traversal default picks up a calibrated kFactor") {
    val uri = tmp()
    Ingest.ingest(spark, uri, emb, "VAMANA", DistanceMetric.L2,
      timestamp = 1000L, partitions = Some(4))
    val idx = VectorIndex.open(spark, uri).asInstanceOf[graft.index.VamanaIndex]
    idx.buildPqCodes()
    val kf = idx.calibratePqKFactor(k = 10, nq = 8)
    assert(graft.index.KFactorCalibration.Grid.contains(kf))
    val reopened = VectorIndex.open(spark, uri).asInstanceOf[graft.index.VamanaIndex]
    assert(reopened.withPqTraversal().pqKFactor === kf) // default resolves to meta
    assert(reopened.withPqTraversal(64f).pqKFactor === 64f) // explicit still wins
  }
}
