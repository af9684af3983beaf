package vsbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.VsbenchShims
import org.json4s.{DefaultFormats, Extraction, Formats}
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.index.{Ingest, LocalSearcher, VectorIndex}
import graft.operators.DistanceMetric

/** Command-line options; run.py supplies the paths and host reference.
  * A run may span several JVMs, started one after another (`jvm` of
  * `jvms`): they share the run directory `work`, and the last one reports. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, out: Path, refSingleUs: Double, threads: Int,
    jvm: Int, jvms: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("out")), need("ref-single-us").toDouble,
      m.get("threads").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m.get("jvm").map(_.toInt).getOrElse(0), m.get("jvms").map(_.toInt).getOrElse(1))
  }
}

/** One timed Spark-side operation: its wall time, and `busy` when a Spark
  * job was running around the host probes just before it, that is, work of
  * an earlier operation was still running when this one started. */
final case class Timed[T](value: T, ns: Long, busy: Boolean)

object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val run = new Bench(args)
    val line = try run.run() finally run.close()
    line.foreach(println)
  }
}

/** The two workloads. Each is a closed loop with one client: set up, warm
  * up, then issue requests for `seconds`, then check the outputs. A run of
  * several JVMs carries its samples and counts from one JVM to the next in
  * the run directory; the last JVM pools them and reports. */
final class Bench(a: Args) extends AutoCloseable {
  import Bench._

  private val gen = new Gen(a.seed)
  private val probe = new Probe(a.threads)
  private val spans = new Spans(a.trace)
  private val refSingleNs = a.refSingleUs * 1e3
  private val runDir = a.work
  private val carryFile = runDir.resolve("carry.json")
  private val first = a.jvm == 0
  private val last = a.jvm == a.jvms - 1

  private var attempted = 0L
  private var failed = 0L
  private val problems = ArrayBuffer.empty[String]
  private var reqSeq = 0L

  /** Normalized samples per request kind, in ns, timed window only. */
  private val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val rawSamples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** This JVM's Spark-side samples, normalized in `finish()`. */
  private val sparkRaw = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** This JVM's probes; `priorProbes` are those of the run's earlier JVMs. */
  private val probes = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val priorProbes = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Per-layer observations (trace run). */
  private val layer = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Everything else the side output records. */
  private val side = mutable.LinkedHashMap.empty[String, Any]
  private val recalls = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  private var spark: SparkSession = _
  private var listener: TaskListener = _
  /** Session start of every JVM of the run, at the reference host speed. */
  private val sessions = ArrayBuffer.empty[Double]
  private var sessionRawS = 0.0
  private var stepsRawS = 0.0
  private var stepsS = 0.0
  private var bytesWritten = 0L
  private var userBytes = 0L

  // compile the probe kernel before the first measurement
  (0 until ProbeWarmup).foreach { i => probe.single(); if (i % 8 == 0) probe.all() }

  def close(): Unit = {
    probe.close()
    if (spark != null) spark.stop()
    if (last) deleteTree(runDir)
  }

  /** Runs this JVM's part; the last JVM of the run returns the result line. */
  def run(): Option[String] = {
    Files.createDirectories(runDir)
    if (!first) loadCarry()
    val t0 = System.nanoTime()
    a.workload match {
      case "knn_batch" => knnBatch()
      case "ingest_update" => ingestUpdate()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    side("bench.total_s") = (System.nanoTime() - t0) / 1e9
    finish()
    if (last) Some(result()) else { saveCarry(); None }
  }

  private val name = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"

  /** Takes this JVM's Spark-side figures to the reference host speed by
    * the median of the driver-thread probes taken before its Spark
    * operations, notes its probe medians and writes its spans. The driver
    * thread plans, schedules and collects every Spark request, and its vCPU
    * is fast or slow for a whole JVM; one probe per operation is too noisy
    * to normalize that operation alone, while the JVM's median follows the
    * driver's speed. */
  private def finish(): Unit = {
    val scale = refSingleNs / Probe.median(probes("single").toSeq)
    sparkRaw.foreach { case (kk, raw) =>
      samples.getOrElseUpdate(kk, ArrayBuffer.empty) ++= raw.map(_ * scale)
      rawSamples.getOrElseUpdate(kk, ArrayBuffer.empty) ++= raw
    }
    sessions += sessionRawS * scale
    if (first) stepsS = stepsRawS * scale
    side(s"jvm${a.jvm}.setup.session_raw_s") = sessionRawS
    side(s"jvm${a.jvm}.setup.steps_raw_s") = stepsRawS
    probes.foreach { case (kk, p) => side(s"jvm${a.jvm}.probe.$kk.median_ms") = Probe.median(p.toSeq) / 1e6 }
    side(s"jvm${a.jvm}.spans") = spans.count
    spans.write(a.out.resolve(s"$name-jvm${a.jvm}.spans.jsonl"))
  }

  /** What the next JVM of the run needs to pool with its own figures. */
  private def saveCarry(): Unit = {
    val all = probes.map { case (k, v) => k -> (priorProbes.getOrElse(k, ArrayBuffer.empty) ++ v).toSeq }
    val carry = ListMap(
      "attempted" -> attempted, "failed" -> failed, "problems" -> problems.toSeq,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "raw_samples" -> rawSamples.map { case (k, v) => k -> v.toSeq }.toMap,
      "probes" -> all.toMap,
      "layer" -> layer.map { case (k, v) => k -> v.toSeq }.toMap,
      "recalls" -> recalls.map { case (k, v) => k -> v.toSeq }.toMap,
      "sessions" -> sessions.toSeq, "steps_s" -> stepsS,
      "bytes_written" -> bytesWritten, "user_bytes" -> userBytes,
      "side" -> side.toMap)
    Files.write(carryFile, json(carry).getBytes("UTF-8"))
  }

  private def loadCarry(): Unit = {
    implicit val formats: Formats = DefaultFormats
    val j = parse(new String(Files.readAllBytes(carryFile), "UTF-8"))
    def series(key: String, into: mutable.Map[String, ArrayBuffer[Double]]): Unit =
      (j \ key).extract[Map[String, Seq[Double]]].foreach { case (k, v) =>
        into.getOrElseUpdate(k, ArrayBuffer.empty) ++= v
      }
    attempted += (j \ "attempted").extract[Long]
    failed += (j \ "failed").extract[Long]
    problems ++= (j \ "problems").extract[Seq[String]]
    series("samples", samples)
    series("raw_samples", rawSamples)
    series("probes", priorProbes)
    series("layer", layer)
    series("recalls", recalls)
    sessions ++= (j \ "sessions").extract[Seq[Double]]
    stepsS = (j \ "steps_s").extract[Double]
    bytesWritten += (j \ "bytes_written").extract[Long]
    userBytes += (j \ "user_bytes").extract[Long]
    (j \ "side").values match {
      case m: Map[_, _] => m.foreach { case (k, v) =>
        side(if (k.toString.startsWith("jvm")) k.toString else s"jvm${a.jvm - 1}.$k") = v
      }
      case _ =>
    }
  }

  // ---------------------------------------------------------------- session

  /** Starts the session; its raw time is normalized in `result()` by the
    * run's median all-core probe. A probe just before it runs in a JVM with
    * no Spark threads yet and reads faster than any later probe, so it would
    * inflate the normalized figure and its spread. */
  private def startSession(): Unit = {
    val t0 = System.nanoTime()
    spark = SparkSession.builder()
      .master(s"local[${a.threads}]")
      .appName(s"vsbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a.threads.toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    side("setup.session_create_raw_s") = (System.nanoTime() - t0) / 1e9
    spark.range(1).count() // first job: executor threads, codegen
    val raw = System.nanoTime() - t0
    if (a.trace) {
      listener = new TaskListener
      spark.sparkContext.addSparkListener(listener)
    }
    sessionRawS = raw / 1e9
  }

  private def sc = spark.sparkContext

  private def drain(): Unit = VsbenchShims.drainListeners(sc)

  private def work(): Work = { drain(); if (listener == null) Work(0, 0, 0, 0, 0, 0) else listener.work }

  // ------------------------------------------------------------ host probe

  private def probeAll(): Double = {
    val p = Probe.median(Seq.fill(3)(probe.all().toDouble))
    probes.getOrElseUpdate("all", ArrayBuffer.empty) += p
    p
  }

  /** One probe on this thread, recorded under `kind`. */
  private def probeSingle(kind: String): Double = {
    val p = probe.single().toDouble
    probes.getOrElseUpdate(kind, ArrayBuffer.empty) += p
    p
  }

  /** Times a Spark-side operation: waits for the listener bus, asserts no
    * job is running, probes the driver thread and all cores, runs `f`. */
  private def sparkOp[T](req: Long, name: String)(f: => T): Timed[T] = {
    drain()
    val busyBefore = sc.statusTracker.getActiveJobIds.nonEmpty
    spans(req, "probe") { (0 until SparkProbes).foreach(_ => probeSingle("single")); probeAll() }
    drain()
    val busy = busyBefore || sc.statusTracker.getActiveJobIds.nonEmpty
    val (v, ns) = spans(req, name)(f)
    Timed(v, ns, busy)
  }

  private def record(kind: String, t: Timed[_]): Unit =
    sparkRaw.getOrElseUpdate(kind, ArrayBuffer.empty) += t.ns.toDouble

  private def note(key: String, v: Double): Unit =
    layer.getOrElseUpdate(key, ArrayBuffer.empty) += v

  /** Counts one request: attempted, and failed when any check objects. */
  private def verdict(what: String, issues: Seq[String]): Unit = {
    attempted += 1
    if (issues.nonEmpty) {
      failed += 1
      if (problems.length < 20) problems += s"$what: ${issues.head}"
    }
  }

  private def nextReq(): Long = { reqSeq += 1; reqSeq }

  // ----------------------------------------------------------------- inputs

  private val vecSchema = StructType(Seq(
    StructField("external_id", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false))))

  private def vectorsDf(rows: Seq[(Long, Array[Float])], parts: Int): DataFrame =
    spark.createDataFrame(
      sc.parallelize(rows.map { case (id, v) => Row(id, v.toSeq) }, parts), vecSchema)

  private def idsDf(ids: Seq[Long]): DataFrame = {
    val s = spark; import s.implicits._
    ids.toDF("external_id")
  }

  private def queriesDf(qs: Seq[Array[Float]]): DataFrame = {
    val s = spark; import s.implicits._
    qs.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("qid", "qvec")
  }

  /** Collected (qid, rank, id, distance) rows, grouped per query id. */
  private def hitsByQuery(rows: Array[Row], nq: Int): IndexedSeq[Seq[Hit]] = {
    val by = rows.groupBy(_.getLong(0))
    (0 until nq).map(q => by.getOrElse(q.toLong, Array.empty[Row])
      .map(r => Hit(r.getInt(1), r.getLong(2), r.getFloat(3))).sortBy(_.rank).toSeq)
  }

  // ---------------------------------------------------------------- requests

  /** One Spark k-NN batch through the public API: open, query, collect. In a
    * traced run the query's phases are forced one at a time. */
  private def sparkQuery(kind: String, uri: String, qs: IndexedSeq[Array[Float]],
      counted: Boolean): Timed[IndexedSeq[Seq[Hit]]] = {
    val req = nextReq()
    val qdf = queriesDf(qs)
    val w0 = work()
    var construct: Work = null
    var phase = Map.empty[String, Long]
    var logRows = 0L
    val t = sparkOp(req, s"query.$kind") {
      if (!a.trace) VectorIndex.open(spark, uri).query(qdf, K).collect()
      else {
        val (df, cNs) = spans(req, "construct")(VectorIndex.open(spark, uri).query(qdf, K))
        construct = work() - w0
        val qe = df.queryExecution
        val (_, an) = spans(req, "analyze")(qe.analyzed)
        val (_, op) = spans(req, "optimize")(qe.optimizedPlan)
        val (_, ph) = spans(req, "physical")(qe.executedPlan)
        val (rows, ex) = spans(req, "execute")(df.collect())
        logRows = PlanScans.rowsUnder(qe.executedPlan, "/updates")
        phase = Map("construct" -> cNs, "analyze" -> an, "optimize" -> op, "physical" -> ph, "execute" -> ex)
        rows
      }
    }
    val hits = hitsByQuery(t.value, qs.length)
    if (counted) {
      record(kind, t)
      if (a.trace) {
        val all = work() - w0
        phase.foreach { case (p, ns) => note(s"$kind.$p.ms", ns / 1e6) }
        note(s"$kind.construct.jobs", construct.jobs.toDouble)
        note(s"$kind.jobs", all.jobs.toDouble)
        note(s"$kind.tasks", all.tasks.toDouble)
        note(s"$kind.task_run_ms", all.runMs.toDouble)
        note(s"$kind.task_cpu_ms", all.cpuNs / 1e6)
        // cores idle while the query executed: driver-bound when large
        note(s"$kind.idle_core_ms", phase("execute") / 1e6 * a.threads - all.runMs)
        note(s"$kind.shuffle_bytes", all.shuffleBytes.toDouble)
        note(s"$kind.rows_read", all.rowsRead.toDouble)
        note(s"$kind.results", (qs.length * K).toDouble)
        note(s"$kind.log_rows_read", logRows.toDouble)
      }
    }
    t.copy(value = hits)
  }

  private def checkSparkBusy(t: Timed[_]): Seq[String] =
    if (t.busy) Seq("Spark jobs were running during the host probe") else Nil

  // -------------------------------------------------------------- set-up

  /** Builds one index; returns its wall time in seconds. */
  private def build(uri: String, df: DataFrame, indexType: String, rowBytes: Long): Double = {
    val dir = Paths.get(uri)
    val before = FileTree.list(dir)
    val w0 = work()
    val t = sparkOp(nextReq(), s"build.$indexType") {
      Ingest.ingest(spark, uri, df, indexType, DistanceMetric.L2, timestamp = BaseTs)
    }
    val w = work() - w0
    bytesWritten += FileTree.written(before, FileTree.list(dir))
    userBytes += rowBytes
    verdict(s"build $indexType", checkSparkBusy(t))
    note("build.s", t.ns / 1e9)
    note(s"build.$indexType.s", t.ns / 1e9)
    note("build.jobs", w.jobs.toDouble)
    note("build.task_cpu_s", w.cpuNs / 1e9)
    t.ns / 1e9
  }

  private def snapshot(uri: String, kind: String): (LocalSearcher, Double) = {
    val w0 = work()
    val t = sparkOp(nextReq(), s"snapshot.$kind")(VectorIndex.open(spark, uri).localSearcher())
    val w = work() - w0
    verdict(s"snapshot $kind", checkSparkBusy(t))
    note("snapshot.s", t.ns / 1e9)
    note("snapshot.jobs", w.jobs.toDouble)
    (t.value, t.ns / 1e9)
  }

  /** Set-up time: session start plus every build and snapshot, in raw
    * seconds; `finish()` takes it to the reference host speed. */
  private def setup(steps: => Double): Unit = stepsRawS = steps

  private def corpus(n: Int): (Corpus, IndexedSeq[(Long, Array[Float])]) = {
    val c = new Corpus(gen.dims)
    val rows = gen.stream(Gen.CorpusStream).take(n).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toIndexedSeq
    rows.foreach { case (id, v) => c.upsert(id, v) }
    (c, rows)
  }

  // ------------------------------------------------------------- knn_batch

  private def knnBatch(): Unit = {
    val t0 = System.nanoTime()
    val (c, rows) = corpus(BatchCorpus)
    // every JVM of the run draws its own queries: no query repeats
    val queries = gen.stream(Gen.QueryStream + Gen.JvmStride * a.jvm)
    side("bench.gen_s") = (System.nanoTime() - t0) / 1e9
    startSession()
    val uris = BatchTypes.map(t => t -> runDir.resolve(s"batch/$t").toString).toMap
    // the first JVM builds, takes the snapshots and serves from them (its
    // set-up is the run's); a later one reopens the indexes for more batches
    val searchers = if (first) {
      val df = vectorsDf(rows, a.threads)
      val rowBytes = rows.length.toLong * gen.dims * 4
      val builds = BatchTypes.map(t => build(uris(t), df, t, rowBytes)).sum
      val snaps = ServeTypes.map(t => t -> snapshot(uris(t), t)).toMap
      setup(builds + snaps.values.map(_._2).sum)
      snaps
    } else Map.empty[String, (LocalSearcher, Double)]

    val done = ArrayBuffer.empty[(String, IndexedSeq[Array[Float]], IndexedSeq[Seq[Hit]], Boolean)]
    def one(t: String, counted: Boolean): Unit = {
      val qs = queries.take(BatchQueries).toIndexedSeq
      val r = sparkQuery(t, uris(t), qs, counted)
      done += ((t, qs, r.value, r.busy))
    }
    for (_ <- 0 until BatchWarmup; t <- BatchTypes) one(t, counted = false)
    System.gc()
    val gc0 = gcMs()
    // two thirds of the window go to the batches, spread over the run's
    // JVMs (BatchMinRounds usually takes longer), and a third to serving
    val window = a.seconds * 1000000000L / 3
    val end = System.nanoTime() + 2 * window / a.jvms
    var i = 0
    while (System.nanoTime() < end || i < BatchMinRounds * BatchTypes.length) {
      one(BatchTypes(i % BatchTypes.length), counted = true)
      i += 1
    }
    note("jvm.gc_ms", gcMs() - gc0)
    if (searchers.nonEmpty) serve(c, queries, searchers.map { case (t, (s, _)) => t -> (uris(t), s) }, window)

    // checks against the exact answers, after the window
    val truth = c.topKAll(done.flatMap(_._2).toIndexedSeq, K, a.threads).iterator
    done.foreach { case (t, qs, hits, busy) =>
      val issues = ArrayBuffer.empty[String]
      if (busy) issues += "Spark jobs were running during the host probe"
      qs.indices.foreach { qi =>
        val h = hits(qi); val g = truth.next()
        issues ++= Checks.wellFormed(h, K)
        if (t == "FLAT") issues ++= Checks.matchesExact(h, g, id => Some(c.distance(id, qs(qi))).filter(_ => c.contains(id)))
        else recalls.getOrElseUpdate(t, ArrayBuffer.empty) += Checks.recall(h, g)
      }
      verdict(s"$t batch", issues.toSeq)
    }
  }

  /** Single-vector queries on in-process snapshots, alternating between
    * them for `windowNs` after a warm-up; no Spark job runs per request.
    * Each pair of requests is normalized by a single-thread probe on the
    * serving thread just before it. Sampled answers are checked against the
    * exact answer and against `VectorIndex.query` on the same index. */
  private def serve(c: Corpus, queries: Iterator[Array[Float]],
      searchers: Map[String, (String, LocalSearcher)], windowNs: Long): Unit = {
    val threadMx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val kept = mutable.LinkedHashMap.empty[String, ArrayBuffer[(Array[Float], Array[(Long, Float)])]]
    var n = 0L
    def pair(counted: Boolean): Unit = {
      val p = probeSingle("serve")
      ServeTypes.foreach { t =>
        val s = searchers(t)._2
        val q = queries.next()
        val req = nextReq()
        val cpu0 = if (a.trace) threadMx.getThreadCpuTime(tid) else 0L
        val al0 = if (a.trace) threadMx.getThreadAllocatedBytes(tid) else 0L
        val (res, ns) = spans(req, s"serve.$t")(s.query(q, K))
        if (counted) {
          samples.getOrElseUpdate(s"serve.$t", ArrayBuffer.empty) += ns * refSingleNs / p
          rawSamples.getOrElseUpdate(s"serve.$t", ArrayBuffer.empty) += ns.toDouble
          if (a.trace) {
            note(s"serve.cpu_us", (threadMx.getThreadCpuTime(tid) - cpu0) / 1e3 * refSingleNs / p)
            note(s"serve.alloc_bytes", (threadMx.getThreadAllocatedBytes(tid) - al0).toDouble)
          }
        }
        verdict(s"$t serve", Checks.wellFormed(toHits(res), K).toSeq)
        if (n % ServeCheckEvery == 0) kept.getOrElseUpdate(t, ArrayBuffer.empty) += ((q, res))
      }
      n += 1
    }
    for (_ <- 0 until ServeWarmup) pair(counted = false)
    System.gc()
    val gc0 = gcMs()
    val end = System.nanoTime() + windowNs
    while (System.nanoTime() < end) pair(counted = true)
    note("jvm.gc_ms", gcMs() - gc0)

    kept.foreach { case (t, ks) =>
      val truth = c.topKAll(ks.map(_._1).toIndexedSeq, K, a.threads)
      val sq = ks.take(ServeSparkChecks).map(_._1).toIndexedSeq
      val viaSpark = VectorIndex.open(spark, searchers(t)._1).query(queriesDf(sq), K).collect()
      val sparkHits = hitsByQuery(viaSpark, sq.length)
      ks.indices.foreach { i =>
        val (q, res) = ks(i)
        val h = toHits(res)
        val issues = ArrayBuffer.empty[String]
        if (t == "FLAT") issues ++= Checks.matchesExact(h, truth(i), id => Some(c.distance(id, q)).filter(_ => c.contains(id)))
        else recalls.getOrElseUpdate(s"serve.$t", ArrayBuffer.empty) += Checks.recall(h, truth(i))
        if (i < sq.length) issues ++= Checks.sameResults(h, sparkHits(i))
        verdict(s"$t serve vs exact and Spark", issues.toSeq)
      }
    }
  }

  // --------------------------------------------------------- ingest_update

  private def ingestUpdate(): Unit = {
    val t0 = System.nanoTime()
    val (c, rows) = corpus(UpdateCorpus)
    val queries = gen.stream(Gen.QueryStream)
    val fresh = gen.stream(Gen.UpsertStream)
    val choice = new java.util.Random(a.seed * 31 + Gen.ChoiceStream)
    side("bench.gen_s") = (System.nanoTime() - t0) / 1e9
    startSession()
    val df = vectorsDf(rows, a.threads)
    val rowBytes = rows.length.toLong * gen.dims * 4
    val uri = runDir.resolve("update/IVF_FLAT").toString
    setup(build(uri, df, "IVF_FLAT", rowBytes))
    val dir = Paths.get(uri)

    val deleted = mutable.HashSet.empty[Long]
    var nextId = UpdateCorpus.toLong // ids below are the corpus
    var ts = BaseTs
    val cycles = ArrayBuffer.empty[Map[String, Double]]
    var cycleBytes = 0L

    /** One checked k-NN read: fresh queries plus self-queries of `selfIds`. */
    def read(selfIds: Seq[Long], counted: Boolean): Timed[_] = {
      val qs = queries.take(UpdateQueries - selfIds.length).toIndexedSeq ++ selfIds.map(c.vector)
      val rt = sparkQuery("read", uri, qs, counted)
      val truth = c.topKAll(qs.take(UpdateQueries - selfIds.length), K, a.threads)
      val issues = ArrayBuffer.empty[String] ++ checkSparkBusy(rt)
      qs.indices.foreach { qi =>
        val h = rt.value(qi)
        issues ++= Checks.wellFormed(h, K)
        issues ++= Checks.noneDeleted(h, deleted)
        if (qi < truth.length) recalls.getOrElseUpdate("IVF_FLAT", ArrayBuffer.empty) += Checks.recall(h, truth(qi))
        else issues ++= Checks.selfFirst(h, selfIds(qi - truth.length))
      }
      verdict("read after write", issues.toSeq)
      rt
    }

    def round(counted: Boolean): Unit = {
      ts += 10
      val wb = WriteBatch.draw(c, choice, nextId, UpsertNew, UpsertOverwrite, Deletes)
      nextId += UpsertNew
      val (newIds, over, dels) = (wb.newIds, wb.overwrites, wb.deletes)
      val ups = wb.upsertIds.map(id => (id, fresh.next()))
      val upDf = vectorsDf(ups, 1)
      val delDf = idsDf(dels)
      val before = FileTree.list(dir)
      val w0 = work()
      val wt = sparkOp(nextReq(), "upsert") {
        VectorIndex.open(spark, uri).updateDeleteBatch(upDf, delDf, ts)
      }
      val ww = work() - w0
      val written = FileTree.written(before, FileTree.list(dir))
      bytesWritten += written
      cycleBytes += written
      userBytes += ups.length.toLong * gen.dims * 4
      ups.foreach { case (id, v) => c.upsert(id, v) }
      dels.foreach { id => c.delete(id); deleted += id }
      verdict("upsert", checkSparkBusy(wt))

      // read: fresh queries plus self-queries of vectors just written
      read(newIds.take(SelfQueries / 2) ++ over.take(SelfQueries / 2), counted)
      if (counted) {
        record("upsert", wt)
        note("upsert.jobs", ww.jobs.toDouble)
        note("upsert.bytes", written.toDouble)
        note("log.files", FileTree.files(dir.resolve("updates"), ".parquet").toDouble)
      }
    }

    def maintain(counted: Boolean): Unit = {
      ts += 10
      val newTs = ts
      val before = FileTree.list(dir)
      val w0 = work()
      val req = nextReq()
      val t = sparkOp(req, "maintain") {
        val (idx, cons) = spans(req, "consolidate")(VectorIndex.open(spark, uri).consolidateUpdates(newTs))
        val (_, compact) = spans(req, "compact_log")(idx.consolidateUpdatesLog())
        val (_, clear) = spans(req, "clear_history")(idx.clearHistory(newTs))
        Map("consolidate_s" -> cons / 1e9, "compact_log_s" -> compact / 1e9, "clear_history_s" -> clear / 1e9)
      }
      val w = work() - w0
      val written = FileTree.written(before, FileTree.list(dir))
      bytesWritten += written
      cycleBytes += written
      verdict("maintenance", checkSparkBusy(t))
      cycles += t.value ++ Map(
        "cycle_s" -> t.ns / 1e9, "bytes_written" -> cycleBytes.toDouble,
        "index_bytes" -> FileTree.bytes(dir).toDouble,
        "log_files" -> FileTree.files(dir.resolve("updates"), ".parquet").toDouble)
      cycleBytes = 0L
      if (counted) {
        record("maintain", t)
        note("consolidate.jobs", w.jobs.toDouble)
        note("consolidate.task_cpu_s", w.cpuNs / 1e9)
        note("cycle.bytes", cycles.last("bytes_written"))
      }
    }

    // The writes follow a fixed schedule, not the clock: the log and the
    // index grow with every round, so a time-bound schedule would make
    // `write_amp`, the read latency and the storage figures depend on how
    // many rounds fit the window. `--seconds` only extends the window with
    // reads of the final state, which no gated figure includes.
    for (_ <- 0 until UpdateWarmup) round(counted = false)
    System.gc()
    val gc0 = gcMs()
    val end = System.nanoTime() + a.seconds * 1000000000L
    (1 to UpdateRounds).foreach { r =>
      round(counted = true)
      if (r % MaintainEvery == 0) maintain(counted = true)
    }
    note("jvm.gc_ms", gcMs() - gc0)
    side("ingest_update.cycles") = cycles.toSeq
    side("ingest_update.rounds") = UpdateRounds
    note("space_amp", FileTree.bytes(dir).toDouble / (c.size.toLong * gen.dims * 4))
    val settled = ArrayBuffer.empty[Double]
    while (System.nanoTime() < end) settled += read(Nil, counted = false).ns / 1e6
    side("ingest_update.settled_read_ms") = settled.toSeq

    // a fresh session sees exactly the live ids on disk
    val fresh2 = spark.newSession()
    val s = VectorIndex.open(fresh2, uri).localSearcher()
    val all = s.query(c.vector(c.idAt(0)), c.size + 1, nprobe = Int.MaxValue)
    verdict("reopen in a new session", Checks.sameIds(all.map(_._1).toSeq, c.liveIds).toSeq ++
      (if (s.numVectors != c.size) Seq(s"snapshot holds ${s.numVectors}, expected ${c.size}") else Nil))
  }

  private def toHits(res: Array[(Long, Float)]): Seq[Hit] =
    res.toSeq.zipWithIndex.map { case ((id, d), i) => Hit(i + 1, id, d) }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  // ----------------------------------------------------------------- output

  private def result(): String = {
    // session start is paid by every JVM of the run: its median counts
    val sessionS = Probe.median(sessions.toSeq)
    val setupS = sessionS + stepsS
    side("setup.session_s") = sessionS
    side("setup.steps_s") = stepsS
    val kinds = samples.keys.toSeq
    def geo(xs: Seq[Double]) = math.exp(xs.map(math.log).sum / xs.length)
    val p50 = geo(kinds.map(kk => Probe.median(samples(kk).toSeq))) / 1e6
    val tail = geo(kinds.map(kk => Probe.quantile(samples(kk).toSeq, tailQ(samples(kk).length)))) / 1e6
    val recall = {
      val r = recalls.values.map(x => x.sum / x.length).toSeq
      if (r.isEmpty) 0.0 else r.sum / r.length
    }
    val writeAmp = bytesWritten.toDouble / userBytes
    val e2e = Seq(
      ("setup_s", setupS, "s"), ("p50_ms", p50, "ms"), ("tail_ms", tail, "ms"),
      ("recall_at_10", recall, "ratio"), ("write_amp", writeAmp, "ratio"))

    kinds.foreach { kk =>
      val raw = rawSamples(kk)
      side(s"kind.$kk.n") = samples(kk).length
      side(s"kind.$kk.p50_ms") = Probe.median(samples(kk).toSeq) / 1e6
      side(s"kind.$kk.tail_ms") = Probe.quantile(samples(kk).toSeq, tailQ(samples(kk).length)) / 1e6
      side(s"kind.$kk.raw_p50_ms") = Probe.median(raw.toSeq) / 1e6
      side(s"kind.$kk.deciles_ms") = (1 to 9).map(d => Probe.quantile(samples(kk).toSeq, d / 10.0) / 1e6)
      side(s"kind.$kk.raw_deciles_ms") = (1 to 9).map(d => Probe.quantile(raw.toSeq, d / 10.0) / 1e6)
      if (samples(kk).length <= 64) {
        side(s"kind.$kk.ms") = samples(kk).map(_ / 1e6).toSeq
        side(s"kind.$kk.raw_ms") = raw.map(_ / 1e6).toSeq
      }
    }
    recalls.foreach { case (kk, r) => side(s"kind.$kk.recall_at_10") = r.sum / r.length }
    priorProbes.foreach { case (kk, p) => probes.getOrElseUpdate(kk, ArrayBuffer.empty).prependAll(p) }
    probes.foreach { case (kk, p) => side(s"probe.$kk.median_ms") = Probe.median(p.toSeq) / 1e6 }
    side("setup.sessions_s") = sessions.toSeq
    layer.foreach { case (kk, v) => side(s"layer.$kk") = v.sum / v.length }
    side("problems") = problems.toSeq

    val metrics = if (a.trace) perLayer() else e2e
    Files.createDirectories(a.out)
    def asJson(ms: Seq[(String, Double, String)]) =
      ListMap(ms.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*)
    Files.write(a.out.resolve(s"$name.json"), json(
      asJson(e2e.map { case (n, v, u) => (s"e2e.$n", v, u) }) ++ side).getBytes("UTF-8"))
    System.err.println(s"vsbench ${a.workload}: " + e2e.map { case (n, v, u) => f"$n=$v%.4f$u" }.mkString(" ") +
      s" attempted=$attempted failed=$failed" + problems.headOption.map(p => s" first problem: $p").getOrElse(""))
    json(ListMap("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> asJson(metrics)))
  }

  private def json(v: Any): String = {
    implicit val formats: Formats = DefaultFormats
    compact(render(Extraction.decompose(v)))
  }

  /** The per-layer metrics of a traced run (see vsbench/README.md). */
  private def perLayer(): Seq[(String, Double, String)] = {
    def mean(key: String) = layer.get(key).filter(_.nonEmpty).map(v => v.sum / v.length).getOrElse(0.0)
    def med(key: String) = layer.get(key).filter(_.nonEmpty).map(v => Probe.median(v.toSeq)).getOrElse(0.0)
    val sparkKinds = samples.keys.filter(kk => layer.contains(s"$kk.jobs")).toSeq
    // Spark-request layers: averaged over every Spark request of the window
    def over(f: String => Double) =
      if (sparkKinds.isEmpty) 0.0 else sparkKinds.map(f).sum / sparkKinds.length
    def m(kk: String, s: String) = mean(s"$kk.$s")
    val rows = over(kk => m(kk, "rows_read"))
    val cpuMs = over(kk => m(kk, "task_cpu_ms"))
    val results = over(kk => m(kk, "results"))
    Seq(
      ("Ingest.build_s", med("build.s"), "s"),
      ("Ingest.build_jobs", mean("build.jobs"), "count"),
      ("Ingest.build_task_cpu_s", mean("build.task_cpu_s"), "s"),
      ("Ingest.consolidate_jobs", mean("consolidate.jobs"), "count"),
      ("Ingest.consolidate_task_cpu_s", mean("consolidate.task_cpu_s"), "s"),
      ("VectorIndex.construct_ms", over(kk => med(s"$kk.construct.ms")), "ms"),
      ("VectorIndex.construct_jobs", over(kk => m(kk, "construct.jobs")), "count"),
      ("plans.analyze_ms", over(kk => med(s"$kk.analyze.ms")), "ms"),
      ("plans.optimize_ms", over(kk => med(s"$kk.optimize.ms")), "ms"),
      ("plans.physical_ms", over(kk => med(s"$kk.physical.ms")), "ms"),
      ("exec.ms", over(kk => med(s"$kk.execute.ms")), "ms"),
      ("spark.jobs", over(kk => m(kk, "jobs")), "count"),
      ("spark.tasks", over(kk => m(kk, "tasks")), "count"),
      ("spark.task_run_ms", over(kk => m(kk, "task_run_ms")), "ms"),
      ("spark.task_cpu_ms", cpuMs, "ms"),
      ("spark.idle_core_ms", over(kk => m(kk, "idle_core_ms")), "ms"),
      ("spark.shuffle_bytes", over(kk => m(kk, "shuffle_bytes")), "bytes"),
      ("storage.rows_read", rows, "count"),
      ("functions.cpu_ns_per_row", if (rows > 0) cpuMs * 1e6 / rows else 0.0, "ns"),
      ("operators.rows_read_per_result", if (results > 0) rows / results else 0.0, "ratio"),
      ("VectorIndex.upsert_jobs", mean("upsert.jobs"), "count"),
      ("storage.upsert_bytes", mean("upsert.bytes"), "bytes"),
      ("storage.log_files", layer.get("log.files").map(_.max).getOrElse(0.0), "count"),
      ("storage.log_rows_read", over(kk => m(kk, "log_rows_read")), "count"),
      ("storage.bytes_written_per_cycle", mean("cycle.bytes"), "bytes"),
      ("storage.space_amp", mean("space_amp"), "ratio"),
      ("LocalSearcher.snapshot_s", med("snapshot.s"), "s"),
      ("LocalSearcher.snapshot_jobs", mean("snapshot.jobs"), "count"),
      ("LocalSearcher.cpu_us", med("serve.cpu_us"), "us"),
      ("LocalSearcher.alloc_bytes", mean("serve.alloc_bytes"), "bytes"),
      ("jvm.gc_ms", mean("jvm.gc_ms"), "ms"),
      ("host.probe_ms", probes.get("all").map(p => Probe.median(p.toSeq) / 1e6).getOrElse(0.0), "ms"),
      ("host.probe1_us", probes.get("single").map(p => Probe.median(p.toSeq) / 1e3).getOrElse(0.0), "us"))
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

object Bench {
  val K = 10
  val ProbeWarmup = 400
  val SparkProbes = 5 // driver-thread probes before each Spark-side operation
  val BaseTs = 1000L

  val BatchCorpus = 3000
  val BatchTypes = IndexedSeq("FLAT", "IVF_FLAT", "IVF_PQ", "VAMANA")
  val BatchQueries = 64
  val BatchWarmup = 1
  val BatchMinRounds = 2 // timed batches per index and JVM, at the least

  val UpdateCorpus = 5000
  val UpsertNew = 150
  val UpsertOverwrite = 150
  val Deletes = 100
  val UpdateQueries = 64
  val SelfQueries = 8
  val UpdateRounds = 6
  val MaintainEvery = 3
  val UpdateWarmup = 1

  val ServeTypes = IndexedSeq("IVF_FLAT", "FLAT")
  val ServeWarmup = 200
  val ServeCheckEvery = 16
  val ServeSparkChecks = 64

  /** Tail percentile of n samples: the highest with at least ten samples
    * beyond it, between the median and p99. Below 20 samples it is the
    * median, so a Spark kind (4 to 6 samples a run) adds its median to
    * `tail_ms`; only the serving kinds of `knn_batch` add a real tail. */
  def tailQ(n: Int): Double = math.min(0.99, math.max(0.5, 1.0 - 10.0 / n))
}
