package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{Ingest, Storage, VamanaKernels, VectorIndex}
import graft.operators.DistanceMetric

/** Focused gates for the round-14 optimization rewrites: maintenance-op
  * batching must be row-identical to the sequential public API it
  * replaces, and the compaction no-op skip must not change what a
  * compaction pass leaves on disk. The memo re-arming gates live in
  * [[SessionCacheSpec]].
  */
class R14OptimizationSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    Files.createTempDirectory("graft_r14").toString

  private def vecsDf(n: Int, d: Int = 6) = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(d)(j => (i * 31 + j * 7 % 13).toFloat / 7f))
    }.toDF("external_id", "vector")
  }

  private def queries(base: org.apache.spark.sql.DataFrame, nq: Int) =
    base.where(col("external_id") < nq)
      .select(col("external_id").as("qid"), col("vector").as("qvec"))

  private def resultRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq

  // ---- updateDeleteBatch: one append ≡ updateBatch + deleteBatch

  test("updateDeleteBatch serves identically to sequential update+delete batches") {
    val base = vecsDf(120)
    val upserts = base.where(col("external_id") % 10 === 1)
      .select(col("external_id"), reverse(col("vector")).as("vector"))
      .unionByName(base.where(col("external_id") < 5)
        .select((col("external_id") + 5000L).as("external_id"),
          reverse(col("vector")).as("vector")))
    val deletes = base.where(col("external_id") % 10 === 0).select("external_id")

    val uSeq = tmp()
    val seqIdx = Ingest.ingest(spark, uSeq, base, "FLAT", DistanceMetric.L2,
      timestamp = 1000L)
    seqIdx.updateBatch(upserts, ts = 1100L)
    seqIdx.deleteBatch(deletes, ts = 1100L)

    val uOne = tmp()
    val oneIdx = Ingest.ingest(spark, uOne, base, "FLAT", DistanceMetric.L2,
      timestamp = 1000L)
    oneIdx.updateDeleteBatch(upserts, deletes, ts = 1100L)

    val q = queries(base, 4)
    assert(resultRows(VectorIndex.open(spark, uOne).query(q, 8)) ==
      resultRows(VectorIndex.open(spark, uSeq).query(q, 8)))
  }

  // ---- appendLogFragments: one write job, N fragment files, same rows

  test("appendLogFragments lays one file per fragment and serves like sequential appends") {
    val base = vecsDf(150)
    val uSeq = tmp()
    val seqIdx = Ingest.ingest(spark, uSeq, base, "FLAT", DistanceMetric.L2,
      timestamp = 1000L)
    for (b <- 0 until 4) {
      seqIdx.deleteBatch(base.where(col("external_id") % 20 === 5 * b), ts = 1100L)
      seqIdx.updateBatch(base.where(col("external_id") % 20 === 5 * b + 1)
        .select(col("external_id"), reverse(col("vector")).as("vector")), ts = 1100L)
    }

    val uOne = tmp()
    val oneIdx = Ingest.ingest(spark, uOne, base, "FLAT", DistanceMetric.L2,
      timestamp = 1000L)
    val nullVec = lit(null).cast("array<float>")
    val batches = (0 until 4).flatMap { b => Seq(
      base.where(col("external_id") % 20 === 5 * b)
        .select(col("external_id"), nullVec.as("vector")),
      base.where(col("external_id") % 20 === 5 * b + 1)
        .select(col("external_id"), reverse(col("vector")).as("vector")))
    }
    oneIdx.appendLogFragments(
      batches.zipWithIndex.map { case (df, i) =>
        df.withColumn("ts", lit(1100L)).withColumn("__frag", lit(i)) }
        .reduce(_ unionByName _),
      fragments = batches.length)

    val frags = Storage.listFiles(s"$uOne/updates").count(_._1.endsWith(".parquet"))
    assert(frags == batches.length,
      s"expected ${batches.length} fragment files, got $frags")
    val q = queries(base, 4)
    assert(resultRows(VectorIndex.open(spark, uOne).query(q, 8)) ==
      resultRows(VectorIndex.open(spark, uSeq).query(q, 8)))
  }

  // ---- compaction no-op skip

  test("vacuum after a compaction is a no-op; the >threshold compaction still fires") {
    val base = vecsDf(100)
    val u = tmp()
    val idx = Ingest.ingest(spark, u, base, "FLAT", DistanceMetric.L2,
      timestamp = 1000L)
    val nullVec = lit(null).cast("array<float>")
    val batches = (0 until 12).map { b =>
      base.where(col("external_id") % 12 === b)
        .select(col("external_id"), nullVec.as("vector")) }
    idx.appendLogFragments(
      batches.zipWithIndex.map { case (df, i) =>
        df.withColumn("ts", lit(1100L)).withColumn("__frag", lit(i)) }
        .reduce(_ unionByName _),
      fragments = 12)
    def frags() = Storage.listFiles(s"$u/updates").count(_._1.endsWith(".parquet"))
    assert(frags() == 12)
    assert(idx.consolidateUpdatesLog(), "12 fragments must trigger compaction")
    val compacted = frags()
    assert(compacted < 12)
    // the old vacuum re-wrote the already-compacted log; now it skips
    idx.vacuum()
    assert(frags() == compacted, "vacuum re-wrote an already-compacted log")
  }

  // ---- NaN distances sort worst in the primitive-keyed frontier

  test("greedySearchDist treats a NaN distance as the worst candidate") {
    // line graph 0-1-2-3; node 2's distance is NaN — it must come last
    val adj = Array(Seq(1), Seq(0, 2), Seq(1, 3), Seq(2))
    val d = Array(0.5f, 1.5f, Float.NaN, 2.5f)
    val (top, _) = VamanaKernels.greedySearchDist(4, i => d(i), i => adj(i),
      start = 0, L = 4)
    assert(top.length == 4)
    assert(top.last._2 == 2, s"NaN candidate not last: ${top.toSeq}")
    assert(top.map(_._2).toSeq == Seq(0, 1, 3, 2))
  }

}
