package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.VamanaKernels
import graft.operators.DistanceMetric

/** Focused gates for the round-13 optimization rewrites: each pins an
  * operator whose INTERNALS changed for performance to the semantics the
  * old implementation had (reference twins where the rewrite claims
  * bit-identical output, behavioral contracts where it claims invariance).
  */
class R13OptimizationSpec extends AnyFunSuite {
  import SparkTestSession._

  private val rnd = new scala.util.Random(1234)
  private def pts(n: Int, d: Int): Array[Array[Float]] =
    Array.fill(n)(Array.fill(d)(rnd.nextFloat() * 2f - 1f))

  // ---- robustPrune: the primitive-key rewrite vs the old boxed-tuple form

  private def sosRef(a: Array[Float], b: Array[Float]): Float = {
    var s = 0.0f; var i = 0
    while (i < a.length) { val x = a(i) - b(i); s += x * x; i += 1 }
    s
  }

  /** The pre-rewrite robustPrune, verbatim semantics: sort candidates by
    * (dist, id) with boxed tuples, keep nearest alive, drop occluded. */
  private def robustPruneReference(points: Array[Array[Float]], p: Int,
      candidates: Iterable[Int], alpha: Float, r: Int): Array[Int] = {
    val pool = candidates.filter(_ != p).toArray.distinct
      .map(c => (sosRef(points(c), points(p)), c)).sortBy(t => (t._1, t._2))
    val kept = mutable.ArrayBuffer.empty[Int]
    val alive = mutable.ArrayBuffer.empty[(Float, Int)] ++ pool
    while (alive.nonEmpty && kept.size < r) {
      val (_, c) = alive.remove(0)
      kept += c
      var i = alive.length - 1
      while (i >= 0) {
        val (dP, cp) = alive(i)
        if (alpha * sosRef(points(c), points(cp)) <= dP) alive.remove(i)
        i -= 1
      }
    }
    kept.toArray
  }

  test("robustPrune (primitive keys) is element-identical to the boxed-tuple reference") {
    for (trial <- 0 until 20) {
      val n = 30 + rnd.nextInt(120)
      val ps = pts(n, 8)
      val p = rnd.nextInt(n)
      val cands = Seq.fill(20 + rnd.nextInt(80))(rnd.nextInt(n))
      val r = 1 + rnd.nextInt(24)
      val got = VamanaKernels.robustPrune(ps, p, cands, 1.2f, r)
      val want = robustPruneReference(ps, p, cands, 1.2f, r)
      assert(got.toSeq === want.toSeq, s"trial $trial (p=$p r=$r)")
    }
  }

  // ---- greedySearchDist: packed-long frontier vs the old tuple TreeSet

  /** The pre-rewrite greedy search, verbatim: boxed (Float, Int) TreeSet
    * frontier with an explicit (dist, id) comparator, HashSet bookkeeping. */
  private def greedySearchReference(n: Int, dist: Int => Float,
      adj: Int => Iterable[Int], start: Int, L: Int): (Array[(Float, Int)], Array[Int]) = {
    val lEff = math.min(L.toLong, math.max(1L, n.toLong)).toInt
    val cap = math.min(2L * lEff, Int.MaxValue.toLong).toInt
    val seen = new java.util.HashSet[Integer]()
    val visited = mutable.ArrayBuffer.empty[Int]
    val frontier = new java.util.TreeSet[(Float, Int)](
      new java.util.Comparator[(Float, Int)] {
        override def compare(a: (Float, Int), b: (Float, Int)): Int = {
          val c = java.lang.Float.compare(a._1, b._1)
          if (c != 0) c else Integer.compare(a._2, b._2)
        }
      })
    val expanded = new java.util.HashSet[Integer]()
    frontier.add((dist(start), start))
    seen.add(start)
    var done = false
    while (!done) {
      var next: (Float, Int) = null
      val it = frontier.iterator()
      var rank = 0
      while (next == null && it.hasNext && rank < lEff) {
        val c = it.next()
        if (!expanded.contains(c._2)) next = c
        rank += 1
      }
      if (next == null) done = true
      else {
        expanded.add(next._2)
        visited += next._2
        adj(next._2).foreach { nb =>
          if (!seen.contains(nb)) {
            seen.add(nb)
            frontier.add((dist(nb), nb))
            if (frontier.size() > cap) frontier.pollLast()
          }
        }
        while (frontier.size() > cap) frontier.pollLast()
      }
    }
    val top = frontier.iterator()
    val out = mutable.ArrayBuffer.empty[(Float, Int)]
    while (top.hasNext && out.size < lEff) out += top.next()
    (out.toArray, visited.toArray)
  }

  test("greedySearchDist (packed-long frontier) matches the tuple-TreeSet reference") {
    for (trial <- 0 until 12) {
      val n = 40 + rnd.nextInt(200)
      val ps = pts(n, 8)
      val q = pts(1, 8)(0)
      // random connected-ish digraph: ring + random extras
      val adj = Array.tabulate(n)(i =>
        (Seq((i + 1) % n) ++ Seq.fill(6)(rnd.nextInt(n))).distinct.filter(_ != i))
      // negative distances too: the sortable-bits transform must cover them
      val shift = if (trial % 3 == 0) 0.9f else 0f
      val dist = (i: Int) => sosRef(ps(i), q) - shift
      val L = 1 + rnd.nextInt(40)
      val (gotTop, gotVisited) =
        VamanaKernels.greedySearchDist(n, dist, i => adj(i), 0, L)
      val (wantTop, wantVisited) = greedySearchReference(n, dist, i => adj(i), 0, L)
      assert(gotVisited.toSeq === wantVisited.toSeq, s"trial $trial visited")
      assert(gotTop.toSeq === wantTop.toSeq, s"trial $trial top")
    }
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

  // ---- buildShardGraphs: one task per shard; topology invariant to the
  //      input's partitioning (insertion order is pinned to external_id)

  test("buildShardGraphs: shard->task mapping and partitioning-invariant graphs") {
    import spark.implicits._
    val n = 240
    val data = (0 until n).map(i =>
      (i % 4, i.toLong, Array.fill(8)(rnd.nextFloat())))
    val df1 = data.toDF("shard_id", "external_id", "vector").repartition(1)
    val df2 = data.reverse.toDF("shard_id", "external_id", "vector").repartition(7)
    def graphOf(df: org.apache.spark.sql.DataFrame): Map[(Int, Long), Seq[Long]] =
      VamanaKernels.buildShardGraphs(df, 4, 20, 8).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    val g1 = graphOf(df1)
    val g2 = graphOf(df2)
    assert(g1.nonEmpty && g1 === g2,
      "graph must not depend on the input's row order or partitioning")
    // one partition per shard in the build stage
    val parts = VamanaKernels.buildShardGraphs(df1, 4, 20, 8).rdd.getNumPartitions
    assert(parts === 4)
  }

  // ---- Par.spread floor semantics

  test("Par.spread: below-floor inputs spread to the floor, others pass through") {
    val one = spark.range(100).toDF("id").repartition(1)
    val floor = spark.sparkContext.defaultParallelism
    assume(floor > 1)
    assert(Par.spread(one).rdd.getNumPartitions === floor)
    val wide = spark.range(100).toDF("id").repartition(floor + 3)
    assert(Par.spread(wide).rdd.getNumPartitions === floor + 3)
    spark.conf.set(Par.MinComputeParallelismKey, "0")
    try assert(Par.spread(one).rdd.getNumPartitions === 1)
    finally spark.conf.unset(Par.MinComputeParallelismKey)
    // row set unchanged by the spread
    assert(Par.spread(one).agg(sum("id")).head().getLong(0) === 4950L)
  }

  // ---- KnnGraph pair salting: pure re-bucketing, results unchanged

  test("KnnGraph.build output is identical with salting forced off and amplified") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    def edges(): Set[(Long, Long)] = {
      val df = graft.operators.KnnGraph.build(emb, 5, DistanceMetric.L2,
        partitions = 4, nprobe = 4, idCol = "vec_id", vecCol = "embedding")
      df.select("id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    spark.conf.set(graft.operators.KnnGraph.PairSaltsKey, "1")
    val unsalted = try edges()
      finally spark.conf.unset(graft.operators.KnnGraph.PairSaltsKey)
    spark.conf.set(graft.operators.KnnGraph.PairSaltsKey, "8")
    val salted = try edges()
      finally spark.conf.unset(graft.operators.KnnGraph.PairSaltsKey)
    assert(unsalted === salted)
    assert(unsalted.nonEmpty)
  }
}
