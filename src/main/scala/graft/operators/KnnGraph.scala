package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{toColumn, toExpression}

import graft.functions.{NearestCentroid, NearestCentroids}
import graft.index.Ingest

/** All-vectors k-NN graph — the backbone operator for embedding-based
  * corpus dedup, graph-index bootstrap, and label propagation at training-
  * data scale.
  *
  * Multi-probe IVF blocking, duplicate-free by construction:
  *   - QUERY side: each vector assigned to its single HOME partition
  *     (argmin centroid),
  *   - CANDIDATE side: each vector REPLICATED to its `nprobe` nearest
  *     partitions,
  *   - join on partition id: pair (a, b) is scored exactly once — in a's
  *     home partition, iff b's replicas reach it. No pair-dedup shuffle.
  *
  * nprobe = partitions ⇒ candidates replicated everywhere ⇒ the exact
  * graph (this is the oracle-checked configuration); small nprobe ⇒ the
  * scale path: shuffle volume is nprobe x |db|, partition-local scoring.
  */
object KnnGraph {

  /** Salt-count override for the pair join (0/unset = auto:
    * ceil(defaultParallelism / partitions); 1 disables salting). */
  val PairSaltsKey = "spark.graft.knnGraphPairSalts"

  /** Shared blocking pipeline of [[build]] and [[hardNegatives]]:
    * `d` must carry (__id, __vec[, extra columns]); candidate-side copies
    * of `extraCandCols` are exposed with a `__c` prefix to `pairFilter`,
    * which restricts pairs BEFORE scoring (the self-pair exclusion is
    * always applied). One definition so the blocking scheme (centroid
    * training size, probes clamp, join order) can never diverge between
    * the graph and its filtered variants. */
  /** One centroid fit shared by every pair pass over the same frame —
    * [[contrastiveTriplets]] runs two passes (positives + negatives) and
    * must not train twice. */
  private def blocking(d: DataFrame, partitions: Int, nprobe: Int,
      preset: Option[Array[Array[Float]]]): (Int, Array[Array[Float]]) =
    preset match {
      case Some(c) =>
        // preset centroids pin the blocking layout (the Ingest
        // presetCentroids contract): reproducible runs, and an external
        // replay (e.g. a SQL oracle) can read the same centroids the graph
        // actually used instead of re-deriving them
        require(partitions <= 0 || partitions == c.length,
          s"graft: partitions=$partitions contradicts ${c.length} preset centroids")
        (math.min(math.max(1, nprobe), c.length), c)
      case None =>
        val n = d.count()
        val parts = if (partitions > 0) partitions else Ingest.autoPartitions(n)
        val centroids = Ingest.trainCentroids(
          d.select(col("__id"), col("__vec").as("vector")),
          parts, Ingest.autoTrainingSize(n, parts), totalRows = n) // no re-count scan
        (math.min(math.max(1, nprobe), parts), centroids)
    }

  private def topKPairs(
      d: DataFrame,
      k: Int,
      metric: DistanceMetric,
      probes: Int,
      centroids: Array[Array[Float]],
      extraCandCols: Seq[String],
      pairFilter: Column): DataFrame = {
    // Salted partition-local join (guide §2.5): the join's shuffled BYTES
    // are tiny relative to the pair-scoring CPU it fans out (|home_pid| ×
    // |replicas_pid| distance kernels per key), so AQE's byte-sized
    // coalescing can serialize the scoring onto one task when the blocking
    // has fewer partitions than the cluster has cores. Salt the home side
    // by a deterministic id hash and explode the replica side `salts`
    // ways; `salts = ceil(cores / |centroids|)` is 1 whenever the blocking
    // already spreads (every at-scale configuration — partitions grow with
    // the corpus), so the replica duplication only exists when partitions
    // < cores and the scoring would otherwise underparallelize.
    val spark = d.sparkSession
    // target 2x the cores' worth of (pid, salt) keys: with keys ~= cores a
    // hash exchange leaves ~1/e of the slots empty (guide §2.5 wants more
    // distinct keys than partitions); parts >= 2x cores already spreads,
    // so salts collapses to 1 there and the plan is untouched
    val salts = math.max(1, graft.Conf.int(spark, KnnGraph.PairSaltsKey,
      math.ceil(2.0 * spark.sparkContext.defaultParallelism /
        math.max(1, centroids.length)).toInt))
    val home0 = d.withColumn("__pid",
      toColumn(NearestCentroid(toExpression(col("__vec")), centroids)))
    val candCols = Seq(col("__id").as("__cid"), col("__vec").as("__cvec")) ++
      extraCandCols.map(c => col(c).as("__c" + c.stripPrefix("__"))) :+
      explode(toColumn(NearestCentroids(toExpression(col("__vec")), centroids, probes)))
        .as("__pid")
    val replicas0 = d.select(candCols: _*)
    val (home, replicas, joinKeys) =
      if (salts <= 1) (home0, replicas0, Seq("__pid"))
      else {
        val keys = Seq("__pid", "__salt")
        // explicit numPartitions: a user-specified exchange is NOT
        // AQE-coalescible, so the scoring stage keeps its parallelism —
        // salting alone is useless here because coalescing is byte-sized,
        // not key-sized
        val h = home0.withColumn("__salt",
            pmod(xxhash64(col("__id")), lit(salts)).cast("int"))
          .repartition(spark.sparkContext.defaultParallelism, keys.map(col): _*)
        val r = replicas0.withColumn("__salt",
          explode(sequence(lit(0), lit(salts - 1))))
        (h, r, keys)
      }

    val scored = home.join(replicas, joinKeys)
      .where(col("__id") =!= col("__cid") && pairFilter)
      .select(col("__id").as("__qid"), col("__cid").as("__id"),
        DistanceMetric.score(metric)(col("__cvec"), col("__vec")).as("__score"))
    Knn.topKFromScores(scored, k, metric)
      .select(col("qid").as("id"), col("rank"), col("id").as("nbr_id"), col("distance"))
  }

  def build(
      db: DataFrame,
      k: Int,
      metric: DistanceMetric = DistanceMetric.L2,
      partitions: Int = 0,
      nprobe: Int = 2,
      idCol: String = "id",
      vecCol: String = "vector",
      presetCentroids: Option[Array[Array[Float]]] = None): DataFrame = {
    val d = db.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__vec"))
    val (probes, centroids) = blocking(d, partitions, nprobe, presetCentroids)
    topKPairs(d, k, metric, probes, centroids, Nil, lit(true))
  }

  /** Hard-negative mining for embedding-model training: per vector, the
    * top-k NEAREST vectors carrying a DIFFERENT label (same-label hits are
    * the positives — excluding them leaves exactly the near-but-wrong
    * candidates contrastive losses want). Same multi-probe blocking and
    * exactness contract as [[build]] (nprobe = partitions ⇒ exact, the
    * oracle-checked configuration); the label inequality is one more
    * cheap-first conjunct on the partition-local join, so the shuffle
    * volume is unchanged and no same-label pair survives to scoring.
    *
    * Output: (id, label, rank, nbr_id, nbr_label, distance). */
  def hardNegatives(
      db: DataFrame,
      k: Int,
      metric: DistanceMetric = DistanceMetric.L2,
      partitions: Int = 0,
      nprobe: Int = 2,
      idCol: String = "id",
      vecCol: String = "vector",
      labelCol: String = "label",
      presetCentroids: Option[Array[Array[Float]]] = None): DataFrame = {
    val d = db.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__vec"),
      col(labelCol).as("__lbl"))
    val (probes, centroids) = blocking(d, partitions, nprobe, presetCentroids)
    val topk = topKPairs(d, k, metric, probes, centroids,
      extraCandCols = Seq("__lbl"),
      pairFilter = !(col("__lbl") <=> col("__clbl")))
    // re-attach both sides' labels (post-top-k: k rows per id, not |pairs|);
    // two independently-projected frames, not one frame joined twice (a
    // reused frame's attributes would be ambiguous in the second join)
    val l1 = d.select(col("__id").as("__lid"), col("__lbl").as("label"))
    val l2 = d.select(col("__id").as("__nid"), col("__lbl").as("nbr_label"))
    topk
      .join(l1, col("id") === col("__lid")).drop("__lid")
      .join(l2, col("nbr_id") === col("__nid")).drop("__nid")
      .select(col("id"), col("label"), col("rank"), col("nbr_id"),
        col("nbr_label"), col("distance"))
  }

  /** Contrastive triplets: per anchor, its nearest SAME-label vector (the
    * positive) and nearest DIFFERENT-label vector (the hard negative) —
    * the (anchor, positive, negative) rows a triplet/InfoNCE loss consumes
    * directly. One shared centroid fit, two blocked pair passes over it
    * (complementary predicates), both exact at nprobe = partitions; inner
    * join keeps anchors that have BOTH a positive and a negative in reach.
    *
    * Output: (id, label, pos_id, neg_id). */
  def contrastiveTriplets(
      db: DataFrame,
      metric: DistanceMetric = DistanceMetric.L2,
      partitions: Int = 0,
      nprobe: Int = 2,
      idCol: String = "id",
      vecCol: String = "vector",
      labelCol: String = "label",
      presetCentroids: Option[Array[Array[Float]]] = None): DataFrame = {
    val d = db.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__vec"),
      col(labelCol).as("__lbl"))
    val (probes, centroids) = blocking(d, partitions, nprobe, presetCentroids)
    val pos = topKPairs(d, 1, metric, probes, centroids,
        extraCandCols = Seq("__lbl"),
        pairFilter = col("__lbl") <=> col("__clbl"))
      .select(col("id"), col("nbr_id").as("pos_id"))
    val neg = topKPairs(d, 1, metric, probes, centroids,
        extraCandCols = Seq("__lbl"),
        pairFilter = !(col("__lbl") <=> col("__clbl")))
      .select(col("id"), col("nbr_id").as("neg_id"))
    val lbl = d.select(col("__id").as("id"), col("__lbl").as("label"))
    pos.join(neg, Seq("id")).join(lbl, Seq("id"))
      .select(col("id"), col("label"), col("pos_id"), col("neg_id"))
  }

  /** Semi-supervised label propagation over a k-NN graph (noisy-label
    * cleanup / seed-label expansion in data curation): classic synchronous
    * LPA — each non-seed node adopts the majority label among its
    * out-neighbors' current labels each round (its previous label persists
    * only when NO neighbor is labeled); seed labels stay clamped. Runs
    * `iters` rounds.
    * Deterministic: majority by (count DESC, label ASC) — re-runs and the
    * unrolled SQL oracle agree exactly.
    *
    * @param edges directed (idCol, nbrCol) rows — [[build]]'s output shape
    * @param seeds (idCol, labelCol) for the labeled subset only
    * @return one row per node id seen in `edges`: (id, label) with label
    *         null where no labeled node is reachable in `iters` hops
    *
    * Scale: per round, one join (edges × current labels — shuffle on the
    * already-partitioned node id) + one count aggregate + one max_by-style
    * window over per-node candidate labels (≤ distinct labels per node,
    * bounded by k). The EDGES are materialized once at entry and the label
    * frame's lineage is cut every round (checkpoint when a reliable dir is
    * configured, else localCheckpoint) — without the entry cut, an edges
    * argument built by [[build]] would re-run its whole blocking join once
    * per round. */
  def propagateLabels(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int = 2,
      idCol: String = "id",
      nbrCol: String = "nbr_id",
      labelCol: String = "label"): DataFrame = {
    require(iters >= 1 && iters <= 50, s"graft: iters must be in [1, 50], got $iters")
    val e = graft.materialize(edges.select(col(idCol).cast("long").as("__id"),
      col(nbrCol).cast("long").as("__nbr")))
    val seed = seeds.select(col(idCol).cast("long").as("__id"),
      col(labelCol).as("__seed"))
    val nodes = e.select(col("__id")).union(e.select(col("__nbr").as("__id")))
      .distinct()
    var cur = graft.materialize(nodes.join(seed, Seq("__id"), "left")
      .select(col("__id"), col("__seed").as("__lbl")))
    var i = 0
    while (i < iters) {
      val votes = e
        .join(cur.select(col("__id").as("__nbr"), col("__lbl").as("__nlbl")), Seq("__nbr"))
        .where(col("__nlbl").isNotNull)
        .groupBy(col("__id"), col("__nlbl"))
        .agg(count(lit(1)).as("__cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__id"))
        .orderBy(col("__cnt").desc, col("__nlbl").asc)
      val winner = votes.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("__id"), col("__nlbl").as("__win"))
      cur = graft.materialize(cur.join(winner, Seq("__id"), "left")
        .join(seed, Seq("__id"), "left")
        // seeds clamp; otherwise adopt this round's majority, else keep
        .select(col("__id"),
          coalesce(col("__seed"), col("__win"), col("__lbl")).as("__lbl")))
      i += 1
    }
    cur.select(col("__id").as(idCol), col("__lbl").as(labelCol))
  }
}
