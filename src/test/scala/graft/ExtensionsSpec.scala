package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // another spec's shared session may already own the SparkContext;
    // `withExtensions` applies to a new session over a reused context too
    // (the same code path GraftExtensions takes when loaded via the
    // `spark.sql.extensions` conf on a fresh JVM). Inject ONLY through
    // withExtensions — not also the static conf — so the extensions never
    // inject twice when this suite creates the first context. The default-
    // session clear is required for getOrCreate to build a NEW session;
    // restore the prior default afterwards so JVM-sharing suites are
    // unaffected by suite ordering.
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions())
      .getOrCreate()
    prior match {
      case Some(p) => SparkSession.setDefaultSession(p)
      case None =>
        // this suite initialized FIRST: if the extensions session stayed
        // default/active, every later suite's getOrCreate would silently
        // adopt it (local[2], extensions injected) — clear both so
        // SparkTestSession builds its own
        SparkSession.clearDefaultSession()
        SparkSession.clearActiveSession()
    }
    s
  }

  test("extension-injected SQL functions work in a fresh session") {
    import spark.implicits._
    Seq((Array(0.0f, 3.0f), Array(4.0f, 3.0f))).toDF("a", "b")
      .createOrReplaceTempView("ve")
    val r = spark.sql("SELECT dist_l2(a, b) FROM ve").head().getFloat(0)
    assert(r === 4.0f)
  }

  test("text kernels are on the SQL surface: fnv64 / positional_shingles / stopword_vote") {
    val row = spark.sql(
      """SELECT fnv64('abc') AS h,
        |  positional_shingles('a b c d', 3) AS sh,
        |  positional_shingles('a b c d') AS sh5,
        |  stopword_vote(array('the', 'of', 'la')) AS lang""".stripMargin).head()
    assert(row.getLong(0) === graft.text.Fnv64Public.hash("abc"))
    assert(row.getSeq[String](1) === Seq("a b c", "b c d"))
    assert(row.getSeq[String](2) === Seq.empty) // 4 tokens < default n=5
    assert(row.getString(3) === "en")
    // non-literal n is a loud error, not a silent default
    val e = intercept[Exception] {
      spark.sql("SELECT positional_shingles('a b c', 1 + 2)").head()
    }
    assert(e.getMessage.contains("integer literal"), e.getMessage)
  }

  test("radius predicates lose the per-row sqrt (dist_l2 <= r -> dist_sos <= r*r)") {
    import spark.implicits._
    // a real parquet scan: local relations fold away at optimize time
    val dir = java.nio.file.Files.createTempDirectory("graft_ext").toString
    (0 until 100).map(i => (i.toLong, Array(i.toFloat, 0.0f)))
      .toDF("id", "v").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("pts")
    val q = spark.sql(
      "SELECT id FROM pts WHERE dist_l2(v, array(0.0f, 0.0f)) <= 10.0f")
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("dist_sos"), s"expected sqrt-free rewrite, got:\n$plan")
    assert(!plan.contains("dist_l2"))
    assert(q.count() === 11) // ids 0..10
    // negative radius folds to an empty result without scanning math
    val neg = spark.sql(
      "SELECT id FROM pts WHERE dist_l2(v, array(0.0f, 0.0f)) <= -1.0f")
    assert(neg.count() === 0)
    // float-exact boundary: radius copied from an OBSERVED distance keeps
    // the boundary row (a naive r*r bound drops it: sos=2.0f vs
    // 1.4142135f^2 = 1.9999999f). Own temp dir — a fixed shared path would
    // race concurrent test runs on one host.
    val bdir = java.nio.file.Files.createTempDirectory("graft_ext_bnd").toString
    Seq((99L, Array(1.0f, 1.0f))).toDF("id", "v")
      .write.mode("overwrite").parquet(bdir)
    spark.read.parquet(bdir).createOrReplaceTempView("bpts")
    val observed = spark.sql(
      "SELECT dist_l2(v, array(0.0f, 0.0f)) FROM bpts").head().getFloat(0)
    val boundary = spark.sql(
      s"SELECT id FROM bpts WHERE dist_l2(v, array(0.0f, 0.0f)) <= ${observed}f")
    assert(boundary.queryExecution.optimizedPlan.toString.contains("dist_sos"))
    assert(boundary.count() === 1, "exact-boundary row lost by the sos rewrite")
  }

  private def embFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("external_id"), col("embedding").as("vector"))
  }

  /** 9 significant digits round-trip float32 exactly through the double
    * literal (Locale.ROOT: comma-decimal locales must not corrupt it). */
  private def qvLit(qv: Array[Float]): String =
    "cast(array(" + qv.map(x => String.format(java.util.Locale.ROOT, "%.9e", Float.box(x))).mkString(",") + ") as array<float>)"

  private def partitionFiltered(df: org.apache.spark.sql.DataFrame): Boolean =
    "PartitionFilters: \\[[^\\]]*partition_id[^\\]]*\\]".r
      .findFirstIn(df.queryExecution.executedPlan.toString).isDefined

  test("ORDER BY dist_l2 LIMIT k over a registered IVF table probes partitions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = embFrame
    val uri = java.nio.file.Files.createTempDirectory("graft_sql_ivf").toString
    val idx = graft.index.Ingest.ingest(spark, uri, emb, "IVF_FLAT",
      graft.operators.DistanceMetric.L2, timestamp = 1000L, partitions = Some(16))
    graft.plans.GraftSql.registerIndexTable(spark, "vecs_idx", uri, nprobe = 4)

    val qv = emb.where(col("external_id") === 0).select("vector")
      .head().getSeq[Float](0).toArray
    val df = spark.sql(
      s"SELECT external_id FROM vecs_idx ORDER BY dist_l2(vector, ${qvLit(qv)}) LIMIT 10")

    // plan probes: the scan carries a non-empty partition_id PartitionFilter
    assert(partitionFiltered(df),
      s"expected partition_id PartitionFilters in scan:\n" +
        df.queryExecution.executedPlan.toString.take(3000))

    // results equal the programmatic index probe at the same nprobe
    val viaSql = df.collect().map(_.getLong(0)).toSeq
    val viaApi = idx
      .query(Seq((0L, qv)).toDF("qid", "qvec"), 10, nprobe = 4)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    assert(viaSql.toSet === viaApi.toSet,
      s"sql=$viaSql api=$viaApi")
  }

  test("ORDER BY dist_l2 LIMIT k over a registered IVF_PQ table probes partitions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = embFrame
    val uri = java.nio.file.Files.createTempDirectory("graft_sql_pq").toString
    graft.index.Ingest.ingest(spark, uri, emb, "IVF_PQ",
      graft.operators.DistanceMetric.L2, timestamp = 1000L, partitions = Some(16))
    // probe-all: the pruned scan re-ranks the ORIGINAL vectors stored
    // beside the codes, so the SQL answer is exact brute force
    graft.plans.GraftSql.registerIndexTable(spark, "vecs_pq_idx", uri, nprobe = 1 << 30)
    val qv = emb.where(col("external_id") === 0).select("vector")
      .head().getSeq[Float](0).toArray
    val df = spark.sql(
      s"SELECT external_id FROM vecs_pq_idx ORDER BY dist_l2(vector, ${qvLit(qv)}), external_id LIMIT 10")
    assert(partitionFiltered(df),
      "PQ-backed table must probe partition_id:\n" +
        df.queryExecution.executedPlan.toString.take(2500))
    val exact = graft.operators.Knn.bruteForce(
        emb, Seq((0L, qv)).toDF("qid", "qvec"), 10,
        idCol = "external_id", vecCol = "vector")
      .select("id").as[Long].collect().toSet
    assert(df.collect().map(_.getLong(0)).toSet === exact)
  }

  test("an IVF_PQ view registered with the default nprobe answers like query()") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = embFrame
    val uri = java.nio.file.Files.createTempDirectory("graft_sql_pq_np").toString
    // one dimension per subspace: the codes barely quantize, so query()'s
    // exact re-rank of k x kFactor candidates returns the exact top-k of
    // the partitions it probes (IVF_PQ's default: all 8 of them)
    val idx = graft.index.Ingest.ingest(spark, uri, emb, "IVF_PQ",
      graft.operators.DistanceMetric.L2, timestamp = 1000L, partitions = Some(8),
      numSubspaces = Some(64))
    graft.plans.GraftSql.registerIndexTable(spark, "vecs_pq_np", uri)
    for (qid <- 0L until 5L) {
      val qv = emb.where(col("external_id") === qid).select("vector")
        .head().getSeq[Float](0).toArray
      val viaSql = spark.sql(s"SELECT external_id FROM vecs_pq_np " +
          s"ORDER BY dist_l2(vector, ${qvLit(qv)}), external_id LIMIT 10")
        .collect().map(_.getLong(0)).toSet
      val viaApi = idx.query(Seq((qid, qv)).toDF("qid", "qvec"), 10)
        .select("id").as[Long].collect().toSet
      assert(viaSql === viaApi, s"query $qid: sql=$viaSql api=$viaApi")
    }
  }

  test("ORDER BY dist_l2 LIMIT k over a sharded VAMANA table probes shards") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = embFrame
    val uri = java.nio.file.Files.createTempDirectory("graft_sql_vam").toString
    graft.index.Ingest.ingest(spark, uri, emb, "VAMANA",
      graft.operators.DistanceMetric.L2, timestamp = 1000L,
      partitions = Some(4), shardReplicas = Some(2))
    graft.plans.GraftSql.registerIndexTable(spark, "vecs_vam_idx", uri, nprobe = 1 << 30)
    val qv = emb.where(col("external_id") === 0).select("vector")
      .head().getSeq[Float](0).toArray
    val df = spark.sql(
      s"SELECT external_id FROM vecs_vam_idx ORDER BY dist_l2(vector, ${qvLit(qv)}), external_id LIMIT 10")
    val physical = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*shard_id[^\\]]*\\]".r.findFirstIn(physical).isDefined,
      s"VAMANA-backed table must probe shard_id:\n${physical.take(2500)}")
    // probe-all + the view's replica dedup => exact; replicated copies must
    // not produce duplicate ids through the SQL surface
    val got = df.collect().map(_.getLong(0)).toSeq
    assert(got.distinct.size === got.size, s"replica duplicates leaked: $got")
    val exact = graft.operators.Knn.bruteForce(
        emb, Seq((0L, qv)).toDF("qid", "qvec"), 10,
        idCol = "external_id", vecCol = "vector")
      .select("id").as[Long].collect().toSet
    assert(got.toSet === exact)
    // narrowed probing (nprobe=1) still returns k rows from the nearest shard
    graft.plans.GraftSql.registerIndexTable(spark, "vecs_vam_n1", uri, nprobe = 1)
    val narrowed = spark.sql(
      s"SELECT external_id FROM vecs_vam_n1 ORDER BY dist_l2(vector, ${qvLit(qv)}), external_id LIMIT 10")
    assert(narrowed.count() === 10)
    assert(narrowed.collect().map(_.getLong(0)).contains(0L),
      "the query vector's own id lives in its nearest shard")
  }

  test("ORDER BY dist_cosine LIMIT k probes a COSINE index; guard refuses L2") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = embFrame
    val uri = java.nio.file.Files.createTempDirectory("graft_sql_cos").toString
    val idx = graft.index.Ingest.ingest(spark, uri, emb, "IVF_FLAT",
      graft.operators.DistanceMetric.Cosine, timestamp = 1000L, partitions = Some(8))
    graft.plans.GraftSql.registerIndexTable(spark, "vecs_cos_idx", uri, nprobe = 4)
    val qv = emb.where(col("external_id") === 0).select("vector")
      .head().getSeq[Float](0).toArray
    val df = spark.sql(
      s"SELECT external_id FROM vecs_cos_idx " +
        s"ORDER BY dist_cosine(vector, ${qvLit(qv)}) LIMIT 10")
    assert(partitionFiltered(df), "cosine order key over a COSINE index must probe")
    val viaApi = idx.query(Seq((0L, qv)).toDF("qid", "qvec"), 10, nprobe = 4)
      .select("id").as[Long].collect().toSet
    assert(df.collect().map(_.getLong(0)).toSet === viaApi)
    // guard: a cosine order key over an L2-metric index must NOT probe (the
    // centroid ranking would be for the wrong geometry)
    val uriL2 = java.nio.file.Files.createTempDirectory("graft_sql_l2m").toString
    graft.index.Ingest.ingest(spark, uriL2, emb, "IVF_FLAT",
      graft.operators.DistanceMetric.L2, timestamp = 1000L, partitions = Some(8))
    graft.plans.GraftSql.registerIndexTable(spark, "vecs_l2m_idx", uriL2, nprobe = 4)
    val mismatch = spark.sql(
      s"SELECT external_id FROM vecs_l2m_idx " +
        s"ORDER BY dist_cosine(vector, ${qvLit(qv)}) LIMIT 10")
    assert(!partitionFiltered(mismatch),
      "cosine key over an L2 index silently probed")
  }

  test("ORDER BY dot_product DESC LIMIT k probes an IP index; ASC does not") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = embFrame
    val uri = java.nio.file.Files.createTempDirectory("graft_sql_ip").toString
    val idx = graft.index.Ingest.ingest(spark, uri, emb, "IVF_FLAT",
      graft.operators.DistanceMetric.InnerProduct, timestamp = 1000L,
      partitions = Some(8))
    graft.plans.GraftSql.registerIndexTable(spark, "vecs_ip_idx", uri, nprobe = 4)
    val qv = emb.where(col("external_id") === 0).select("vector")
      .head().getSeq[Float](0).toArray
    val df = spark.sql(
      s"SELECT external_id FROM vecs_ip_idx " +
        s"ORDER BY dot_product(vector, ${qvLit(qv)}) DESC LIMIT 10")
    assert(partitionFiltered(df), "dot_product DESC over an IP index must probe")
    val viaApi = idx.query(Seq((0L, qv)).toDF("qid", "qvec"), 10, nprobe = 4)
      .select("id").as[Long].collect().toSet
    assert(df.collect().map(_.getLong(0)).toSet === viaApi)
    // ASC dot_product is a FARTHEST query — probing top-nprobe nearest
    // partitions would be wrong; the rewrite must leave it alone
    val asc = spark.sql(
      s"SELECT external_id FROM vecs_ip_idx " +
        s"ORDER BY dot_product(vector, ${qvLit(qv)}) ASC LIMIT 10")
    assert(!partitionFiltered(asc), "ascending dot_product silently probed")
  }

  test("consolidation re-registers the SQL view against the new version") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = embFrame
    val uri = java.nio.file.Files.createTempDirectory("graft_sql_refresh").toString
    graft.index.Ingest.ingest(spark, uri, emb, "IVF_FLAT",
      graft.operators.DistanceMetric.L2, timestamp = 1000L, partitions = Some(8))
    graft.plans.GraftSql.registerIndexTable(spark, "vecs_refresh_idx", uri, nprobe = 8)
    val idx0 = graft.index.VectorIndex.open(spark, uri)
    idx0.deleteBatch(emb.where(col("external_id") < 20), ts = 1100L)
    idx0.consolidateUpdates(newTs = 2000L)
    // WITHOUT re-registering: the view must already serve the new version
    val qv = emb.where(col("external_id") === 0).select("vector")
      .head().getSeq[Float](0).toArray
    val df = spark.sql(
      s"SELECT external_id FROM vecs_refresh_idx " +
        s"ORDER BY dist_l2(vector, ${qvLit(qv)}) LIMIT 10")
    assert(partitionFiltered(df), "refreshed view lost its probe registration")
    val got = df.collect().map(_.getLong(0)).toSeq
    assert(got.forall(_ >= 20), s"consolidated-away ids still served: $got")
    val viaApi = graft.index.VectorIndex.open(spark, uri)
      .query(Seq((0L, qv)).toDF("qid", "qvec"), 10, nprobe = 8)
      .select("id").as[Long].collect().toSet
    assert(got.toSet === viaApi)
  }

  test("multi-query join form: per-query rank filter becomes a probe equi-join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = embFrame
    val uri = java.nio.file.Files.createTempDirectory("graft_sql_batch").toString
    val idx = graft.index.Ingest.ingest(spark, uri, emb, "IVF_FLAT",
      graft.operators.DistanceMetric.L2, timestamp = 1000L, partitions = Some(16))
    graft.plans.GraftSql.registerIndexTable(spark, "vecs_batch_idx", uri, nprobe = 4)
    emb.where(col("external_id") < 8)
      .select(col("external_id").as("qid"), col("vector").as("qvec"))
      .createOrReplaceTempView("batch_queries")
    val df = spark.sql(
      """SELECT qid, external_id, rn FROM (
        |  SELECT q.qid, b.external_id,
        |         row_number() OVER (PARTITION BY q.qid
        |                            ORDER BY dist_l2(b.vector, q.qvec)) AS rn
        |  FROM batch_queries q CROSS JOIN vecs_batch_idx b
        |) WHERE rn <= 10""".stripMargin)
    // plan: the cross join became an equi-join keyed on partition_id (the
    // explode-probes shape of the programmatic path) — no BNLJ/cartesian
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("partition_id"),
      s"expected partition_id probe join:\n${physical.take(3000)}")
    assert(!physical.contains("Cartesian") && !physical.contains("BroadcastNestedLoop"),
      s"cross join survived the rewrite:\n${physical.take(3000)}")
    // results equal the programmatic nprobe answer per query
    val viaSql = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val viaApi = idx.query(
        emb.where(col("external_id") < 8)
          .select(col("external_id").as("qid"), col("vector").as("qvec")),
        10, nprobe = 4)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    assert(viaSql === viaApi)
    // output schema unchanged by the rewrite (no leaked probe column)
    assert(df.columns.toSeq === Seq("qid", "external_id", "rn"))
  }

  test("negative-radius rewrite preserves NULL semantics on nullable vectors") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ext_null").toString
    Seq((1L, Some(Array(1.0f, 0.0f))), (2L, None), (3L, Some(Array(5.0f, 0.0f))))
      .toDF("id", "v").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("npts")
    // dist > negative: true for every NON-NULL row, NULL (filtered) for null
    val gt = spark.sql(
      "SELECT id FROM npts WHERE dist_l2(v, array(0.0f, 0.0f)) > -1.0f")
    assert(gt.collect().map(_.getLong(0)).sorted === Array(1L, 3L))
    // projection context: null row stays NULL, not TRUE
    val proj = spark.sql(
      "SELECT id, dist_l2(v, array(0.0f, 0.0f)) >= -1.0f AS p FROM npts ORDER BY id")
      .collect()
    assert(proj(0).getBoolean(1) && proj(1).isNullAt(1) && proj(2).getBoolean(1))
  }
}
