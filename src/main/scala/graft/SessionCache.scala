package graft

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** The engine's one memo for values that stay valid for the life of a
  * SparkSession. The reference keeps a long-lived `Index` that holds its
  * centroids and codebooks in memory; graft opens a fresh handle per call,
  * so without this memo every query would re-list its version directories
  * and re-collect its model parameters.
  *
  * What is memoized:
  *   - analyzed parquet relations of paths that only change through
  *     `Storage` or an explicit invalidation: index versions
  *     (`base/v=<ts>`, `graph/v=<ts>`, ...), text-model layers and the
  *     driver's read-only tables ([[parquet]]);
  *   - the updates log of an index and its per-window emptiness probe,
  *     re-armed by every log mutator;
  *   - small driver-side artifacts collected from such a path: IVF
  *     centroids, PQ codebooks, SQ8 ranges, text-model scalars;
  *   - path-less answers keyed by a plan's semantic hash or a name
  *     ([[NoPath]]): Knn's measured batch size, Par's planned partition
  *     count, Simd's one-time sync. No invalidation drops these; a stale
  *     one can only misroute a plan choice, never change a result.
  *
  * Contract:
  *   - Entries are per session: sibling sessions (`newSession()`) share
  *     nothing. A cached DataFrame refers to its session, so nothing global
  *     holds the entries strongly: the session's own optimizer-rule list
  *     holds them (a no-op rule, [[Entries]]), and the global map holds the
  *     session and its entries weakly. A session that is no longer
  *     referenced — a dropped sibling, a stopped session — is collected
  *     with its entries. Replacing `experimental.extraOptimizations`
  *     wholesale drops the entries too; the only cost is a re-read.
  *   - A session holds at most [[Cap]] entries. A store past the cap clears
  *     that session's map first; the only cost is a re-list or re-collect.
  *   - A miss runs `make` with no lock held, so `make` may call [[get]]
  *     itself or run a Spark job. Threads that miss on one key together
  *     each run `make`; the first value stored is the one all of them get.
  *     `make` must not return null.
  *   - [[invalidateUnder]] drops, in every session, the entries whose path
  *     is the prefix or lies under it (`<uri>/base` keeps
  *     `<uri>/base-other`). `Storage.deleteRecursively` and `Storage.move`
  *     call it; code that writes in place (appends, overwrites) calls it
  *     itself. A write by another process, or outside `Storage` with no
  *     call, is not seen until its path is invalidated.
  */
object SessionCache {

  /** Entries per session before a store clears the session's map. */
  val Cap = 8192

  /** The path of an entry that no [[invalidateUnder]] drops. */
  val NoPath = ""

  private final case class Key(path: String, tag: Any)

  /** One session's entries. A rule so the session can own it: it sits in
    * the session's `experimental.extraOptimizations` and leaves every plan
    * as it is. */
  private final class Entries extends Rule[LogicalPlan] {
    val map = new ConcurrentHashMap[Key, AnyRef]()
    override def apply(plan: LogicalPlan): LogicalPlan = plan
  }

  private val sessions = new java.util.WeakHashMap[SparkSession, WeakReference[Entries]]()

  /** The value memoized for (`spark`, `path`, `tag`), made on a miss. */
  def get[T](spark: SparkSession, path: String, tag: Any)(make: => T): T = {
    val m = entries(spark)
    val key = Key(path, tag)
    val hit = m.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val made = make.asInstanceOf[AnyRef]
      if (m.size >= Cap) m.clear()
      val prev = m.putIfAbsent(key, made)
      (if (prev == null) made else prev).asInstanceOf[T]
    }
  }

  /** `spark.read.parquet(path)`, memoized: repeat reads skip the listing
    * and footer reads. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    get(spark, path, "parquet")(spark.read.parquet(path))

  /** Drop every session's entries at `prefix` or under it. */
  def invalidateUnder(prefix: String): Unit = {
    require(prefix.nonEmpty, "graft: cannot invalidate the empty path")
    val held = sessions.synchronized(new java.util.ArrayList(sessions.values()))
    held.forEach { ref =>
      val e = ref.get
      if (e != null)
        e.map.keySet.removeIf(k => k.path == prefix || k.path.startsWith(prefix + "/"))
    }
  }

  private def entries(spark: SparkSession): ConcurrentHashMap[Key, AnyRef] =
    sessions.synchronized {
      val ref = sessions.get(spark)
      val held = if (ref == null) null else ref.get
      if (held != null) held.map
      else {
        val e = new Entries
        val x = spark.experimental
        x.extraOptimizations = x.extraOptimizations :+ e
        sessions.put(spark, new WeakReference(e))
        e.map
      }
    }
}
