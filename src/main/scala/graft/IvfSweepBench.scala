package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{Ingest, IvfRerankIndex, VectorIndex}
import graft.operators.{DistanceMetric, Knn}

/** The reference-scale IVF_FLAT benchmark (reference:
  * local-benchmarks.py:339-378 — SIFT-style sweep of partitions × nprobe
  * at k=100): builds IVF_FLAT indexes over a ≥1M-vector corpus and sweeps
  * nprobe, reporting recall@100 against exact brute force plus query
  * wall-clock. This is the scale where PLANS dominate (partition pruning,
  * shuffle shape), not per-query constant overheads — the regime the
  * sf0.01–0.1 driver bench can't reach.
  *
  * Corpus: the sf embeddings table replicated `reps` times with a
  * deterministic per-(id, replica, lane) Murmur3 jitter — keeps the
  * original cluster structure (what IVF partitions latch onto) while
  * making every replica a distinct point. Queries are the UN-jittered
  * replica-0 rows of the first `nq` ids; ground truth is exact
  * [[Knn.bruteForce]] top-k over the full corpus.
  *
  * Usage: `runMain graft.IvfSweepBench [sfDir] [reps] [nq]`
  * (defaults /root/testdata/sf0.1, 500 → 1,000,000 vectors, 100 queries).
  * Prints one `SWEEP {...}` line per (partitions, nprobe) cell, for
  * PERF.md. Not wired into Bench: this is a maintenance benchmark, run
  * when index plumbing changes, like the Vamana recall audits.
  */
object IvfSweepBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(500)
    val nq = args.lift(2).map(_.toInt).getOrElse(100)
    val jitter = args.lift(3).map(_.toDouble).getOrElse(0.5)
    val mode = args.lift(4).getOrElse("all") // all | flat | pq | pq10m | sq8 | sqrtn | pqauto
    val spark = SparkSession.builder()
      .appName("graft-ivf-sweep").master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, reps, nq, jitter, mode)
    finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, reps: Int, nq: Int, jitter: Double,
      mode: String = "all"): Unit = {
    val (corpusPath, big, n) = SweepFixture.replicatedCorpus(spark, sfDir, reps, jitter)
    println(s"SWEEP_CORPUS n=$n dims=64 reps=$reps")

    val queries = SweepFixture.queries(spark, sfDir, nq).cache()
    queries.count()

    val k = 100
    val exact = SweepFixture.groundTruth(
      Knn.bruteForce(big, queries, k, DistanceMetric.L2,
        idCol = "external_id", vecCol = "vector", qidCol = "qid", qvecCol = "qvec"))
    println(s"SWEEP_EXACT queries=${exact.size} k=$k")

    // the reference sweep's partition counts, plus √N (the reference
    // ingestion default at this corpus size). Mode "sqrtn" runs ONLY the
    // reference-default geometry — the 10M-scale run, where the full
    // partition grid would cost hours for information the 1M grid already
    // recorded (PERF.md) and the open question is how the √N build and the
    // driver-side probe bookkeeping scale with the partition count.
    val sqrtN = math.sqrt(n.toDouble).toInt
    val partsGrid = mode match {
      case "sqrtn" => Seq(sqrtN)
      case "pq" | "pq10m" | "sq8" | "pqauto" => Seq.empty // type-only modes skip the FLAT grid
      case _ => Seq(20, 50, 100, 200, sqrtN)
    }
    for (parts <- partsGrid) {
      val uri = java.nio.file.Files.createTempDirectory(s"ivf_sweep_p$parts").toString
      val t0 = System.nanoTime()
      Ingest.ingest(spark, uri, big, "IVF_FLAT", DistanceMetric.L2,
        timestamp = 1000L, partitions = Some(parts))
      val buildS = (System.nanoTime() - t0) / 1e9
      val idx = VectorIndex.open(spark, uri)
      val sqrtParts = math.max(1, math.sqrt(parts.toDouble).toInt)
      val probes =
        if (mode == "sqrtn") Seq(1, 4, 16, sqrtParts, 0) // 0 = the √parts default
        else if (parts == sqrtN) Seq(0, 1, 2, 4, 8, 16, 31)
        else (1 to 20)
      for (nprobe <- probes) {
        val t1 = System.nanoTime()
        val got = SweepFixture.groundTruth(idx.query(queries, k, nprobe))
        val queryS = (System.nanoTime() - t1) / 1e9
        val recall = SweepFixture.recall(exact, got, k)
        println(f"SWEEP {partitions: $parts, nprobe: $nprobe, recall: $recall%.4f, " +
          f"query_s: $queryS%.2f, build_s: $buildS%.1f}")
      }
      graft.index.Storage.deleteRecursively(uri)
    }

    if (mode == "flat" || mode == "sqrtn") {
      graft.index.Storage.deleteRecursively(corpusPath); return
    }
    // The lossy codecs at the √N geometry: k_factor (exact-re-rank
    // candidate inflation) × nprobe, the reference's PQ accuracy/latency
    // curve (local-benchmarks.py PQ sweeps; k_factor: ivf_pq_index.py:40-45).
    def build(indexType: String): (IvfRerankIndex, Double) = {
      val uri = java.nio.file.Files.createTempDirectory(
        s"ivf_sweep_${indexType.toLowerCase}").toString
      val t0 = System.nanoTime()
      Ingest.ingest(spark, uri, big, indexType, DistanceMetric.L2,
        timestamp = 1000L, partitions = Some(sqrtN))
      (VectorIndex.open(spark, uri).asInstanceOf[IvfRerankIndex], (System.nanoTime() - t0) / 1e9)
    }
    /** One (k_factor, nprobe) cell: prints a `<label> {...}` line, returns recall. */
    def cell(idx: IvfRerankIndex, label: String, buildS: Double, nprobe: Int,
        kf: Float): Double = {
      val t1 = System.nanoTime()
      val got = SweepFixture.groundTruth(idx.queryBase(queries, k, nprobe, kf, None))
      val queryS = (System.nanoTime() - t1) / 1e9
      val recall = SweepFixture.recall(exact, got, k)
      println(f"$label {partitions: $sqrtN, nprobe: $nprobe, k_factor: $kf%.0f, " +
        f"recall: $recall%.4f, query_s: $queryS%.2f, build_s: $buildS%.1f}")
      recall
    }
    def sweep(indexType: String, label: String, kfs: Seq[Float], probes: Seq[Int]): Unit = {
      val (idx, buildS) = build(indexType)
      for (kf <- kfs; nprobe <- probes) cell(idx, label, buildS, nprobe, kf)
      graft.index.Storage.deleteRecursively(idx.uri)
    }
    mode match {
      // "pq10m": ONLY the PQ reference-default geometry (the 10M-scale run
      // — the full k_factor grid is the 1M sweep's job)
      case "pq10m" => sweep("IVF_PQ", "SWEEP_PQ", Seq(4f, 16f, 32f),
        Seq(math.max(1, math.sqrt(sqrtN.toDouble).toInt)))
      // "sq8": per-dim rounding error is tiny vs PQ's 256-cell subspace
      // collapse, so the curve should sit at the IVF_FLAT ceiling from
      // small k_factor even where PQ needs 16–32
      case "sq8" => sweep("IVF_SQ8", "SWEEP_SQ8", Seq(1f, 2f, 4f), Seq(8, 31))
      // "pqauto": the k_factor CALIBRATION audit — run the build-time
      // auto-calibration (graft.index.KFactorCalibration: saturated-pool
      // agreement at the default nprobe), then sweep the grid against
      // EXACT ground truth and report where the measured knee sits. AUTO
      // is validated when it lands within one grid step of the knee — at
      // 1M AND 10M, where the measured knees differ by a decade (PQ 4 vs
      // 32, PERF.md).
      case "pqauto" =>
        for ((indexType, label, grid) <- Seq(
            ("IVF_PQ", "SWEEP_PQ", graft.index.KFactorCalibration.Grid),
            ("IVF_SQ8", "SWEEP_SQ8", Seq(1f, 2f, 4f, 8f)))) {
          val (idx, buildS) = build(indexType)
          val tCal = System.nanoTime()
          val auto = idx.calibrateKFactor(k = k)
          println(f"${label}_AUTO {partitions: $sqrtN, auto_k_factor: $auto%.0f, " +
            f"calib_s: ${(System.nanoTime() - tCal) / 1e9}%.1f, build_s: $buildS%.1f}")
          val recalls = grid.map(kf => kf -> cell(idx, label, buildS, 0, kf))
          val maxR = recalls.map(_._2).max
          val knee = recalls.find(_._2 >= 0.95 * maxR).map(_._1).getOrElse(grid.max)
          println(f"${label}_KNEE {measured_knee: $knee%.0f, auto: $auto%.0f, " +
            f"within_one_step: ${auto >= knee / 2 && auto <= knee * 2}}")
          graft.index.Storage.deleteRecursively(idx.uri)
        }
      case _ => sweep("IVF_PQ", "SWEEP_PQ", Seq(1f, 2f, 4f, 8f), Seq(8, 31))
    }
    graft.index.Storage.deleteRecursively(corpusPath)
  }

}
