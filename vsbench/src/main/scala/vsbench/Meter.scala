package vsbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Spark work between two points, summed from task metrics. */
final case class Work(jobs: Long, tasks: Long, runMs: Long, cpuNs: Long,
    rowsRead: Long, shuffleBytes: Long) {
  def -(o: Work): Work = Work(jobs - o.jobs, tasks - o.tasks, runMs - o.runMs,
    cpuNs - o.cpuNs, rowsRead - o.rowsRead, shuffleBytes - o.shuffleBytes)
}

/** Counts jobs and sums task metrics, read from outside the engine. Read
  * [[work]] only after draining the listener bus. */
final class TaskListener extends SparkListener {
  private val jobs, tasks, runMs, cpuNs, rowsRead, shuffleBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      rowsRead.addAndGet(m.inputMetrics.recordsRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def work: Work = Work(jobs.get, tasks.get, runMs.get, cpuNs.get, rowsRead.get, shuffleBytes.get)
}

/** One traced interval: spans of a request share `req`; `parent` is the
  * index of the enclosing span, or -1. */
final case class Span(req: Long, name: String, startNs: Long, endNs: Long, parent: Int)

/** In-memory span store, written out once when the run ends. */
final class Spans(enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  /** Times `f` as span `name` of request `req`, nested in the innermost
    * open span. Returns the result and the span's duration in ns. */
  def apply[T](req: Long, name: String)(f: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val idx = if (enabled) {
      buf += Span(req, name, t0, 0L, open.headOption.getOrElse(-1))
      open ::= buf.length - 1
      buf.length - 1
    } else -1
    try {
      val r = f
      (r, System.nanoTime() - t0)
    } finally if (enabled) {
      buf(idx) = buf(idx).copy(endNs = System.nanoTime())
      open = open.tail
    }
  }

  def count: Int = buf.length

  def write(path: Path): Unit = if (enabled) {
    Files.createDirectories(path.getParent)
    val lines = buf.iterator.map { s =>
      s"""{"req":${s.req},"span":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent}}"""
    }
    Files.write(path, lines.toSeq.mkString("\n").getBytes("UTF-8"))
  }
}

/** Sizes of the files under a directory, read with java.nio. */
object FileTree {
  def list(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try {
        val out = Map.newBuilder[String, Long]
        s.filter(Files.isRegularFile(_)).forEach(p => out += p.toString -> Files.size(p))
        out.result()
      } finally s.close()
    }

  def bytes(dir: Path): Long = list(dir).values.sum

  /** Bytes of files that are new or changed between two listings. */
  def written(before: Map[String, Long], after: Map[String, Long]): Long =
    after.iterator.collect { case (p, n) if !before.get(p).contains(n) => n }.sum

  def files(dir: Path, suffix: String): Int =
    list(dir).keys.count(_.endsWith(suffix))
}

/** Rows produced by the file scans of an executed plan whose root paths
  * fall under `pathPart` (e.g. the updates log), from the scans' SQL
  * metrics. */
object PlanScans {
  def rowsUnder(plan: SparkPlan, pathPart: String): Long = scans(plan).collect {
    case s if s.relation.location.rootPaths.exists(_.toString.contains(pathPart)) =>
      s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
  }.sum

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
    val here = p match {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case _ => Seq.empty
    }
    here ++ p.children.flatMap(scans) ++ p.subqueries.flatMap(scans)
  }
}
