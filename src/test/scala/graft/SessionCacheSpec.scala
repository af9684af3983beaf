package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{Ingest, Storage, VectorIndex}
import graft.operators.{DistanceMetric, Knn}

/** The contract of [[SessionCache]]: per-session entries, invalidation on a
  * path-segment boundary, lock-free misses, and every mutator that must
  * re-arm what it changed. */
class SessionCacheSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    Files.createTempDirectory("graft_cache").toString

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

  /** Runs `body` on `threads` pool threads, failing instead of hanging. */
  private def onThreads[T](threads: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence((0 until threads).map(i => Future(body(i)))), 60.seconds)
    finally pool.shutdownNow()
  }

  // ---- memo identity and invalidation by Storage

  test("memoized parquet read; deleteRecursively invalidates") {
    import spark.implicits._
    val dir = tmp() + "/base/v=1000"
    Seq(1L, 2L, 3L).toDF("x").write.parquet(dir)
    val a = SessionCache.parquet(spark, dir)
    val b = SessionCache.parquet(spark, dir)
    assert(a eq b, "second read must be the memoized relation")
    assert(a.count() === 3)
    Storage.deleteRecursively(dir)
    Seq(1L, 2L, 3L, 4L).toDF("x").write.parquet(dir)
    val c = SessionCache.parquet(spark, dir)
    assert(!(a eq c), "a delete under the path must invalidate the cache")
    assert(c.count() === 4)
  }

  test("updateBatch and deleteBatch re-arm the memoized updates-log probe") {
    val base = vecsDf(80)
    val u = tmp()
    val idx = Ingest.ingest(spark, u, base, "FLAT", DistanceMetric.L2,
      timestamp = 1000L)
    val q = queries(base, 1)
    // arm the (session, path, window) memo: no updates yet -> base-only
    val before = resultRows(VectorIndex.open(spark, u).query(q, 3))
    assert(before.nonEmpty)
    // a new id whose vector EQUALS query 0's vector must become its top hit
    import spark.implicits._
    val qv = base.where(col("external_id") === 0)
      .select(col("vector")).head().getSeq[Float](0).toArray
    idx.updateBatch(Seq((7777L, qv)).toDF("external_id", "vector"), ts = 1100L)
    val after = resultRows(VectorIndex.open(spark, u).query(q, 3))
    assert(after.contains((0L, 7777L)),
      s"log write invisible through the memoized probe: $after")
    // and deleteBatch re-arms it again
    idx.deleteBatch(Seq(Tuple1(7777L)).toDF("external_id"), ts = 1200L)
    val afterDel = resultRows(VectorIndex.open(spark, u).query(q, 3))
    assert(!afterDel.contains((0L, 7777L)))
  }

  test("Storage.move invalidates memoized reads under the source prefix") {
    import spark.implicits._
    val root = tmp()
    val a = s"$root/a"
    val b = s"$root/b"
    Seq((1L, "one")).toDF("id", "tag").write.parquet(a)
    // arm the memo on the source path
    assert(SessionCache.parquet(spark, a).count() == 1)
    // move it aside WITHOUT any manual invalidation, then write fresh
    // content at the same path: the move alone must have re-armed `a`
    Storage.move(a, b)
    Seq((1L, "one"), (2L, "two")).toDF("id", "tag").write.parquet(a)
    assert(SessionCache.parquet(spark, a).count() == 2,
      "stale relation served after Storage.move re-pointed the path")
  }

  test("Par.spread raises a below-floor frame to the floor, repeatedly") {
    import spark.implicits._
    val narrow = (0 until 50).map(i => (i, s"t$i")).toDF("id", "t").coalesce(1)
    val floor = spark.sparkContext.defaultParallelism
    // twice: the second call answers from the memo and must decide the same
    assert(Par.spread(narrow).rdd.getNumPartitions >= math.min(floor, 50))
    assert(Par.spread(narrow).rdd.getNumPartitions >= math.min(floor, 50))
    val wide = (0 until 50).map(i => (i, s"t$i")).toDF("id", "t")
      .repartition(floor + 2)
    assert(Par.spread(wide).rdd.getNumPartitions == floor + 2)
    assert(Par.spread(wide).rdd.getNumPartitions == floor + 2)
  }

  test("EventOps.invalidate re-arms the memoized events read") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a")).toDF("ts", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(graft.streaming.EventOps.loadEvents(spark, dir).count() == 1)
    Seq((1L, "a"), (2L, "b")).toDF("ts", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    graft.streaming.EventOps.invalidate(dir)
    assert(graft.streaming.EventOps.loadEvents(spark, dir).count() == 2)
  }

  // ---- the cache's own contract

  test("sibling sessions from newSession() share no entries") {
    val path = tmp() + "/artifact"
    val sibling = spark.newSession()
    val mine = SessionCache.get(spark, path, "t")(new Object)
    val theirs = SessionCache.get(sibling, path, "t")(new Object)
    assert(!(mine eq theirs))
    assert(SessionCache.get(spark, path, "t")(new Object) eq mine)
    assert(SessionCache.get(sibling, path, "t")(new Object) eq theirs)
    // invalidation reaches every session
    SessionCache.invalidateUnder(path)
    assert(!(SessionCache.get(spark, path, "t")(new Object) eq mine))
    assert(!(SessionCache.get(sibling, path, "t")(new Object) eq theirs))
  }

  test("invalidateUnder(<root>/base) keeps <root>/base-other") {
    val root = tmp()
    def entry(p: String): AnyRef = SessionCache.get(spark, p, "t")(new Object)
    val base = entry(s"$root/base")
    val version = entry(s"$root/base/v=1")
    val other = entry(s"$root/base-other")
    val pathless = SessionCache.get(spark, SessionCache.NoPath, ("spec", root))(new Object)
    SessionCache.invalidateUnder(s"$root/base")
    assert(!(entry(s"$root/base") eq base))
    assert(!(entry(s"$root/base/v=1") eq version))
    assert(entry(s"$root/base-other") eq other)
    SessionCache.invalidateUnder(root)
    assert(SessionCache.get(spark, SessionCache.NoPath, ("spec", root))(new Object) eq pathless)
  }

  test("a get nested inside make returns without deadlock") {
    // a fresh session's map is small, so some of the 64 inner keys share
    // the outer key's hash bin: a miss that held the bin's lock would throw
    // "Recursive update" or hang here
    val session = spark.newSession()
    val root = tmp()
    def inner(i: Int): AnyRef = SessionCache.get(session, s"$root/outer/$i", "i")(new Object)
    val (outer, inners) = onThreads(1) { _ =>
      val o = SessionCache.get(session, s"$root/outer", "o")((0 until 64).map(inner))
      (o, (0 until 64).map(inner))
    }.head
    assert(outer.zip(inners).forall { case (a, b) => a eq b })
    assert(SessionCache.get(session, s"$root/outer", "o")(Seq.empty[AnyRef]) eq outer)
  }

  test("threads missing on one key together all get the one stored instance") {
    val threads = 4
    val path = tmp() + "/shared"
    // every make waits for all the others: it only completes if no miss
    // holds a lock another miss needs
    val together = new CyclicBarrier(threads)
    val makes = new AtomicInteger()
    val got = onThreads(threads) { _ =>
      SessionCache.get(spark, path, "t") {
        makes.incrementAndGet()
        together.await(30, TimeUnit.SECONDS)
        new Object
      }
    }
    assert(makes.get() === threads)
    assert(got.forall(_ eq got.head))
    assert(SessionCache.get(spark, path, "t")(new Object) eq got.head)
  }

  test("a store past the cap clears the session's entries") {
    val session = spark.newSession()
    val root = tmp()
    val first = SessionCache.get(session, s"$root/0", "t")(new Object)
    (1 until SessionCache.Cap).foreach(i => SessionCache.get(session, s"$root/$i", "t")(new Object))
    assert(SessionCache.get(session, s"$root/0", "t")(new Object) eq first)
    SessionCache.get(session, s"$root/${SessionCache.Cap}", "t")(new Object)
    assert(!(SessionCache.get(session, s"$root/0", "t")(new Object) eq first))
  }

  test("an over-gate Knn.bruteForce batch is sized once per session") {
    import spark.implicits._
    val db = Seq((1L, Array(0f, 0f)), (2L, Array(1f, 1f))).toDF("id", "vector")
    val qs = Seq((7L, Array(0.5f, 0.5f))).toDF("qid", "qvec")
    val tagKey = "graft.spec.sizing"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tagKey) != null) {
          jobs.incrementAndGet(); ()
        }
    }
    def jobsToPlan(): Int = {
      jobs.set(0)
      spark.sparkContext.setLocalProperty(tagKey, "on")
      try Knn.bruteForce(db, qs, 1)
      finally spark.sparkContext.setLocalProperty(tagKey, null)
      GraftTestShims.drainListeners(spark.sparkContext)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.conf.set(Conf.MaxBroadcastBytesKey, "1")
    try {
      assert(jobsToPlan() > 0, "an over-gate batch must be measured")
      assert(jobsToPlan() === 0, "the measured size must be memoized")
    } finally {
      spark.conf.unset(Conf.MaxBroadcastBytesKey)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("no memo map outside SessionCache in src/main") {
    val banned = Seq("WeakHashMap", "identityHashCode(", "computeIfAbsent")
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    assert(files.exists(_.endsWith("SessionCache.scala")), "src/main not found")
    val offenders = for {
      f <- files if !f.endsWith("SessionCache.scala")
      text = new String(Files.readAllBytes(f), "UTF-8")
      b <- banned if text.contains(b)
    } yield s"$f: $b"
    assert(offenders.isEmpty,
      s"memoize through graft.SessionCache instead: ${offenders.mkString("; ")}")
  }
}
