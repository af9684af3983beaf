package graft.functions

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession

/** Cluster-wide control for the Panama Vector API distance kernels.
  *
  * [[VecKernels]] detects SIMD per-JVM, which on a heterogeneous cluster
  * (driver started with `--add-modules jdk.incubator.vector`, executors
  * without it, or vice versa) computes near-tie distances with different
  * float rounding on different machines — tie-boundary results can then
  * reorder between the local-serving and distributed paths. This object
  * closes that seam with a session conf instead of a per-JVM system
  * property:
  *
  *   - `spark.graft.simd=false` — force the scalar loops everywhere.
  *   - `spark.graft.simd=true`  — force SIMD everywhere; a JVM that cannot
  *     (module absent) FAILS with a named error rather than silently
  *     diverging from the JVMs that can.
  *   - `spark.graft.simd=auto` (or unset) — keep per-JVM detection, but an
  *     explicit `auto` runs the probe job and logs a warning when any
  *     executor's detection disagrees with the driver's.
  *
  * [[sync]] applies the conf on the driver and pushes it to every executor
  * core with one tiny job (`defaultParallelism × 2` single-element
  * partitions — best-effort full-fleet coverage; an executor that joins
  * later inherits only its own detection, so call sync again after scaling
  * up if you forced a mode). The engine entry points call [[syncOnce]],
  * which memoizes per session so query paths never pay a repeat job; it is
  * a complete no-op (not even the probe job) when the conf is unset —
  * local[] runs have one JVM and nothing to disagree.
  */
object Simd extends Logging {
  val SimdKey = "spark.graft.simd"

  /** Apply [[SimdKey]] once per session; no-op when the conf is unset. */
  def syncOnce(spark: SparkSession): Unit =
    spark.conf.getOption(SimdKey).foreach { _ =>
      graft.SessionCache.get(spark, graft.SessionCache.NoPath, "Simd.synced")(sync(spark))
    }

  /** Apply [[SimdKey]] to the driver and every reachable executor now.
    * Returns after the probe job completes; safe to call repeatedly. */
  def sync(spark: SparkSession): Unit = {
    val mode = spark.conf.getOption(SimdKey).map(_.trim.toLowerCase).getOrElse("auto")
    val force: Option[Boolean] = mode match {
      case "true" | "on" => Some(true)
      case "false" | "off" => Some(false)
      case "auto" => None
      case other => throw new IllegalArgumentException(
        s"graft: malformed value '$other' for $SimdKey (expected true/false/auto)")
    }
    force.foreach(VecKernels.setSimdEnabled) // driver first: fail fast on true-but-unsupported
    val sc = spark.sparkContext
    val slots = math.max(1, sc.defaultParallelism) * 2
    val states = sc.range(0L, slots.toLong, 1L, slots)
      .mapPartitions { _ =>
        force.foreach(VecKernels.setSimdEnabled)
        Iterator.single((VecKernels.SIMD_SUPPORTED, VecKernels.simdEnabled()))
      }
      .collect()
    val driverSupported = VecKernels.SIMD_SUPPORTED
    if (states.exists(_._1 != driverSupported)) {
      val msg = s"graft: jdk.incubator.vector availability differs between the " +
        s"driver (supported=$driverSupported) and at least one executor — " +
        s"near-tie distance rounding can differ across the cluster. Set " +
        s"$SimdKey=false (or align --add-modules flags) for bit-identical kernels."
      if (force.isEmpty) logWarning(msg)
      // a forced mode already made every JVM agree (or threw); nothing to warn
    }
    if (states.exists(s => force.exists(_ != s._2))) {
      // only reachable if an executor raced a concurrent sync; surface it
      logWarning(s"graft: an executor reports a SIMD mode other than the one " +
        s"$SimdKey forced; re-run graft.functions.Simd.sync(spark)")
    }
  }
}
