package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType}

import graft.functions.{CosineDistance, DotProduct, EuclideanDistance, SumOfSquaresDistance}
import graft.index.{IvfIndex, VamanaIndex, VectorIndex}
import graft.operators.DistanceMetric

/** Registry connecting parquet base paths of IVF indexes to their centroids,
  * so the optimizer can recognize "a scan of table X" as "a scan of IVF
  * index X" (the reference needs no such link — its queries go through the
  * index object; in SQL the table is all the user names). */
object IndexCatalog {
  /** @param pidCol the scan's physical partition column the probe filter
    *               prunes on: `partition_id` for IVF_FLAT / IVF_SQ8 / IVF_PQ bases,
    *               `shard_id` for sharded VAMANA bases. */
  final case class Entry(
      centroids: Array[Array[Float]],
      nprobe: Int,
      metric: DistanceMetric = DistanceMetric.L2,
      pidCol: String = "partition_id")

  private val reg = TrieMap.empty[String, Entry]

  /** Keys are FULLY-QUALIFIED path strings (scheme + authority + path):
    * a bare path is qualified against the session's `fs.defaultFS`, the
    * same qualification Spark applies to scan rootPaths, so registration
    * and lookup agree on any filesystem. Stripping or guessing the scheme
    * would either collide equal paths on different buckets or miss the
    * rewrite entirely on non-local default filesystems. */
  def qualify(spark: SparkSession, p: String): String = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.makeQualified(path).toString
  }

  def register(qualifiedPath: String, entry: Entry): Unit =
    reg.put(qualifiedPath, entry)

  def lookup(qualifiedPath: String): Option[Entry] = reg.get(qualifiedPath)

  /** Drop every registration under a path prefix. Consolidation registers
    * the new version's base path and calls this for the index root — without
    * it, each consolidated version would leak a full centroid array
    * (~100 MB at the 100 TB posture) into a long-serving driver.
    *
    * Matches on a path-SEGMENT boundary: prefix `<uri>/base` must not drop
    * entries of a sibling index rooted at `<uri>/base-other`, whose probe
    * rewrite would otherwise silently fall back to unpruned scans. */
  def unregisterPrefix(qualifiedPrefix: String): Unit = {
    val dir = qualifiedPrefix.stripSuffix("/") + "/"
    reg.keys.filter(k => k == qualifiedPrefix || k.startsWith(dir)).foreach(reg.remove)
  }

  def clear(): Unit = reg.clear()
}

/** SQL-side index access: register an index's base table as a temp view and
  * (for IVF indexes) record its centroids so [[IndexProbeRewrite]] can turn
  * `ORDER BY dist_l2(vector, <const>) LIMIT k` (or `dist_cosine` ASC /
  * `dot_product` DESC, matching the index's metric) into an index probe. */
object GraftSql {
  /** (owning session, view name) → (uri, nprobe): lets consolidation
    * re-point the view and re-register the new version's centroids without
    * the caller having to repeat the registration. Keyed by SESSION as well
    * as name because temp views are session-scoped while this registry is
    * JVM-global: a mutation observed from another session must neither see
    * "view gone" for a view that still exists in its owner, nor re-create
    * the view in the wrong session. Stopped sessions' entries are reaped on
    * the next mutation pass. */
  private val registered = TrieMap.empty[(SparkSession, String), (String, Int)]

  /** Drop entries whose owning session has stopped — each retained entry
    * pins the whole SparkSession object graph. Runs on EVERY registry
    * mutation (register/unregister/onIndexMutated), so a JVM that
    * registers views but never consolidates still releases dead sessions
    * the next time any session touches the registry. */
  private def reapStopped(): Unit =
    registered.keys.foreach { case key @ (owner, _) =>
      if (owner.sparkContext.isStopped) registered.remove(key)
    }

  def registerIndexTable(
      spark: SparkSession,
      name: String,
      uri: String,
      nprobe: Int = 0): VectorIndex = {
    reapStopped()
    val idx = VectorIndex.open(spark, uri)
    // VAMANA replicated builds register the scan-stable dedup formulation —
    // see [[graft.index.VamanaIndex.baseVectorsStableAttrs]]
    val viewDf = idx match {
      case vam: VamanaIndex => vam.baseVectorsStableAttrs()
      case other => other.baseVectors()
    }
    viewDf.createOrReplaceTempView(name)
    registered.put((spark, name), (uri, nprobe))
    // (centroids for the probe rewrite, physical partition column):
    // IVF_FLAT, IVF_PQ, and IVF_SQ8 bases prune partition_id on the
    // k-means centroids (the PQ/SQ8 bases store the ORIGINAL vectors
    // beside the codes, so the pruned SQL scan computes exact distances —
    // the index's nprobe answer at k_factor=∞, with the code columns
    // pruned out of the scan); sharded VAMANA bases prune shard_id on the shard
    // centroids (the routed-search candidate narrowing). Unsharded VAMANA /
    // FLAT have nothing to prune — the view still works as an exact scan.
    val probeSide: Option[(Array[Array[Float]], String)] = idx match {
      case ivf: IvfIndex if ivf.centroids.nonEmpty =>
        Some((ivf.centroids, "partition_id"))
      case vam: VamanaIndex if vam.shardCentroids.nonEmpty =>
        Some((vam.shardCentroids, "shard_id"))
      case _ => None
    }
    probeSide.foreach { case (centroids, pidCol) =>
      // default (nprobe=0) probe width mirrors each engine path's own
      // default: IVF takes the sqrt rule of thumb; VAMANA takes the
      // sweep-derived autoNprobeShards — which is 0 (= do NOT register a
      // probe, SQL scans stay exact) for geometries the programmatic
      // queryRouted itself refuses to route (replicas < 3 cannot clear the
      // 0.85 recall gate at any measured S). An explicit nprobe wins.
      val np = if (nprobe > 0) math.min(nprobe, centroids.length)
        else idx match {
          case vam: VamanaIndex => vam.autoNprobeShards
          case _ => math.max(1, math.sqrt(centroids.length.toDouble).toInt)
        }
      val ts = idx.meta.ingestionTimestamps(idx.meta.historyIndex(Long.MaxValue))
      // superseded versions' centroid arrays would otherwise accumulate
      // in the driver across consolidations
      IndexCatalog.unregisterPrefix(IndexCatalog.qualify(spark, s"$uri/base"))
      if (np > 0)
        IndexCatalog.register(IndexCatalog.qualify(spark, s"$uri/base/v=$ts"),
          IndexCatalog.Entry(centroids, np, idx.metric, pidCol))
    }
    idx
  }

  /** Forget a registered view: drops the temp view, its probe-catalog
    * entries, and the consolidation-refresh tracking. */
  def unregisterIndexTable(spark: SparkSession, name: String): Unit = {
    reapStopped()
    registered.remove((spark, name)).foreach { case (uri, _) =>
      IndexCatalog.unregisterPrefix(IndexCatalog.qualify(spark, s"$uri/base"))
      spark.catalog.dropTempView(name)
      ()
    }
  }

  /** Called by [[graft.index.VectorIndex.consolidateUpdates]]: any views
    * registered over `uri` are re-created against the new active version
    * (fresh base path + centroids in the catalog), each within its OWNING
    * session — the mutating session's catalog says nothing about a view
    * registered elsewhere. A name whose temp view the owner has since
    * DROPPED is forgotten instead of resurrected — but a name the owner
    * dropped and re-bound to their own view cannot be distinguished from
    * ours and will be re-pointed; call [[unregisterIndexTable]] when
    * retiring a registered name. */
  def onIndexMutated(spark: SparkSession, uri: String): Unit =
    registered.foreach { case ((owner, name), (u, np)) =>
      // stopped sessions are reaped regardless of uri: a retained entry
      // pins the whole SparkSession object graph, and an index that is
      // never consolidated would otherwise never trigger its owner's reap
      if (owner.sparkContext.isStopped) registered.remove((owner, name))
      else if (u == uri) {
        if (owner.catalog.tableExists(name)) registerIndexTable(owner, name, u, np)
        else registered.remove((owner, name))
      }
    }
}

/** `ORDER BY dist_l2(vector, <const-vector>) LIMIT k` over a registered
  * index base table → probe plan: the top-nprobe centroid partitions for
  * the (plan-time constant) query vector become a `<pidCol> IN (...)`
  * filter directly above the scan, which Catalyst's partition pruning turns
  * into "read only the probed partitions" — the same pruning the shared
  * IVF probe ([[graft.index.IvfIndex.probe]]) performs programmatically
  * (reference: detail/ivf/qv.h:99-153 probe; SURVEY §4 optional Strategy).
  * The Sort+Limit stay and run as TakeOrdered over the pruned scan, so
  * results are exactly the index's nprobe answer.
  *
  * A user WHERE between the Sort and the scan composes: the probe filter
  * is injected directly above the scan regardless (the transform finds the
  * relation through intervening Filters/Projects), the user predicate then
  * restricts candidates before the TakeOrdered — the SQL twin of
  * [[graft.index.VectorIndex.queryFiltered]]'s semantics (filter AFTER
  * partition pruning): exact at probe-all registration, the filtered
  * nprobe answer otherwise (spec: SqlApiSpec "composes with a user WHERE";
  * oracle: `sql_index_topk_filtered`).
  *
  * Covers every partitioned base the engine stores: IVF_FLAT, IVF_SQ8 and IVF_PQ
  * prune `partition_id` on the k-means centroids (the PQ base keeps the
  * original vectors beside the codes, so the pruned SQL scan re-ranks
  * exactly — the index's nprobe answer at k_factor=∞); sharded VAMANA
  * prunes `shard_id` on the shard centroids (the routed search's candidate
  * narrowing, with an exact scan inside the probed shards in place of the
  * per-shard beam).
  */
object IndexProbeRewrite extends Rule[LogicalPlan] {

  /** Which family of order key matched — decides which index metrics the
    * probe is valid for and how the query vector is prepared. */
  private sealed trait OrderKey
  private case object L2Key extends OrderKey // dist_l2 / dist_sos ASC
  private case object CosineKey extends OrderKey // dist_cosine ASC
  private case object IpKey extends OrderKey // dot_product DESC

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case gl @ GlobalLimit(IntegerLiteral(_),
        LocalLimit(_, inner)) =>
      stripProjects(inner) match {
        // the DISTANCE must be the primary sort key; trailing tie-break
        // keys (e.g. the id) don't affect which partitions can win
        case Sort(SortOrder(dist, direction, _, _) +: _, true, _, _) =>
          distanceArgs(dist, direction) match {
            case Some((attr, qexpr, key)) =>
              evalQueryVector(qexpr)
                .flatMap(qv => injectProbeFilter(gl, attr, qv, key))
                .getOrElse(gl)
            case None => gl
          }
        case _ => gl
      }
    // multi-query batch (join form): per-query top-k via
    //   row_number() OVER (PARTITION BY q.<keys> ORDER BY dist(b.vector,
    //   q.qvec)) <= k
    // over queries × registered-base — the rank filter bounds each query's
    // result, so restricting each query row to its own top-nprobe centroid
    // partitions is exactly the programmatic IVF nprobe answer
    // ([[graft.index.IvfIndex.probe]] builds the identical
    // explode-probes equi-join). The cross join becomes an equi-join on
    // partition_id: shuffle nprobe×|batch| instead of |batch|×|corpus|.
    // Behavior note: a query row with a NULL query vector produces zero
    // result rows under the probe (its probe list is null, so the explode
    // drops it) where the unrewritten plan would rank its null distances —
    // the same "no neighbors for a null query" answer the programmatic
    // index path gives.
    case f @ Filter(cond, child) => rewriteWindowTopK(f, cond, child).getOrElse(f)
  }

  /** Match `rnAttr <= k` / `rnAttr < k` conjuncts (the rank-limit shapes). */
  private def rankLimitAttr(cond: Expression): Option[AttributeReference] = {
    val conjuncts = {
      def split(e: Expression): Seq[Expression] = e match {
        case And(l, r) => split(l) ++ split(r)
        case o => Seq(o)
      }
      split(cond)
    }
    conjuncts.collectFirst {
      case LessThanOrEqual(a: AttributeReference, IntegerLiteral(_)) => a
      case LessThan(a: AttributeReference, IntegerLiteral(_)) => a
      case EqualTo(a: AttributeReference, IntegerLiteral(1)) => a
    }
  }

  /** The analyzer extracts window order keys into a `_w0` project below the
    * Window — resolve an attribute back to its defining expression through
    * intervening projects. */
  private def resolveThroughProjects(e: Expression, p: LogicalPlan): Expression = e match {
    case a: AttributeReference => p match {
      case Project(list, inner) =>
        list.collectFirst {
          case al: Alias if al.exprId == a.exprId => resolveThroughProjects(al.child, inner)
        }.getOrElse {
          if (list.exists(ne => ne.exprId == a.exprId)) resolveThroughProjects(a, inner) else a
        }
      case _ => a
    }
    case other => other
  }

  private def rewriteWindowTopK(
      f: Filter,
      cond: Expression,
      child: LogicalPlan): Option[LogicalPlan] = {
    val rnAttr = rankLimitAttr(cond).getOrElse(return None)
    val w = (stripProjects(child) match {
      case w: Window => w
      case _ => return None
    })
    // the rank attr must be this window's row_number (rank also works: both
    // bound each group's survivors to the leading rows) — and it must be the
    // ONLY window expression: any sibling (count(*) OVER the query partition,
    // a lagging dist, …) aggregates over the candidate set, so probing would
    // silently change its value beyond the documented top-k approximation.
    val isRankExpr = w.windowExpressions match {
      case Seq(a: Alias) if a.exprId == rnAttr.exprId => a.child match {
        case WindowExpression(_: RowNumber, _) => true
        case WindowExpression(_: Rank, _) => true
        case _ => false
      }
      case _ => false
    }
    if (!isRankExpr || w.orderSpec.isEmpty || w.partitionSpec.isEmpty) return None
    val distExpr = resolveThroughProjects(w.orderSpec.head.child, w.child)
    val direction = w.orderSpec.head.direction

    // locate the join below the window (through projects)
    val join = (stripProjects(w.child) match {
      case j: Join if j.joinType == Inner || j.joinType == Cross => j
      case _ => return None
    })
    // idempotency: an already-probed join references the partition column
    if (join.condition.exists(_.references.exists(a => PidCols(a.name))) ||
        join.left.output.exists(_.name == ProbeCol) ||
        join.right.output.exists(_.name == ProbeCol)) return None

    // distance args: base-side vector ATTRIBUTE vs query-side expression
    val (vecAttr, qvecExpr, key) = joinDistanceArgs(distExpr, direction, join)
      .getOrElse(return None)
    // the window must partition by query-side attributes only (per-query
    // rank); a base-side partition key would change semantics under probing
    val qSide = if (join.left.outputSet.contains(vecAttr)) join.right else join.left
    val bSide = if (join.left.outputSet.contains(vecAttr)) join.left else join.right
    if (!w.partitionSpec.forall(_.references.subsetOf(qSide.outputSet))) return None

    // registered base + matching metric. partition_id lives on the
    // LogicalRelation; column pruning has usually already dropped it from
    // the projects above (nothing referenced it before this rewrite), so
    // re-thread it up to the join.
    val lr = bSide.collectFirst {
      case l: LogicalRelation if l.outputSet.contains(vecAttr) => l
    }.getOrElse(return None)
    val entry = entryFor(lr).getOrElse(return None)
    if (!keyMatchesMetric(key, entry.metric)) return None
    val pidAttr = lr.output.find(_.name == entry.pidCol)
      .getOrElse(return None).asInstanceOf[AttributeReference]
    qvecExpr.dataType match {
      case ArrayType(FloatType, _) => ()
      case _ => return None
    }
    def addPid(plan: LogicalPlan): Option[LogicalPlan] = plan match {
      case l: LogicalRelation => Some(l)
      case p @ Project(list, c) =>
        addPid(c).map { c2 =>
          if (list.exists(_.exprId == pidAttr.exprId)) p.copy(child = c2)
          else Project(list :+ pidAttr, c2)
        }
      case fl @ Filter(_, c) => addPid(c).map(c2 => fl.copy(child = c2))
      case _ => None // unknown shape between join and scan: don't rewrite
    }
    val bSidePid = if (bSide.outputSet.exists(_.exprId == pidAttr.exprId)) bSide
      else addPid(bSide).getOrElse(return None)

    // per-row probe list: explode(nearest_centroids(prep(qvec))) on the
    // query side, then equi-join on partition_id
    val prepped = key match {
      case CosineKey => graft.functions.NormalizeVector(qvecExpr)
      case _ => qvecExpr
    }
    val probeAttr = AttributeReference(ProbeCol, IntegerType, nullable = false)()
    val gen = Generate(
      Explode(graft.functions.NearestCentroids(prepped, entry.centroids, entry.nprobe)),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(probeAttr), child = qSide)
    val probeCond = EqualTo(probeAttr, pidAttr)
    val newCond = join.condition.map(And(_, probeCond)).getOrElse(probeCond)
    val newJoin =
      if (join.left.outputSet.contains(vecAttr))
        join.copy(left = bSidePid, right = gen,
          joinType = Inner, condition = Some(newCond))
      else join.copy(left = gen, right = bSidePid,
        joinType = Inner, condition = Some(newCond))
    val rewritten = f.transformUp {
      case j: Join if j.eq(join) => newJoin
    }
    // the Generate adds the probe column to every operator's output below
    // the filter; restore the original shape on top
    Some(Project(f.output, rewritten.asInstanceOf[Filter]))
  }

  private val ProbeCol = "__graft_probe"

  /** Physical partition columns a probe filter can prune on. */
  private val PidCols = Set("partition_id", "shard_id")

  /** Distance call over (base-side vector attribute, query-side vector
    * expression) in either argument order, validated against the sort
    * direction like the single-query form. */
  private def joinDistanceArgs(e: Expression, dir: SortDirection, join: Join)
      : Option[(AttributeReference, Expression, OrderKey)] = {
    def sides(l: Expression, r: Expression): Option[(AttributeReference, Expression)] =
      (l, r) match {
        case (a: AttributeReference, q)
            if q.references.nonEmpty &&
              (join.left.outputSet.contains(a) && q.references.subsetOf(join.right.outputSet) ||
               join.right.outputSet.contains(a) && q.references.subsetOf(join.left.outputSet)) =>
          Some((a, q))
        case _ => None
      }
    (e, dir) match {
      case (EuclideanDistance(l, r), Ascending) =>
        sides(l, r).orElse(sides(r, l)).map { case (a, q) => (a, q, L2Key) }
      case (SumOfSquaresDistance(l, r), Ascending) =>
        sides(l, r).orElse(sides(r, l)).map { case (a, q) => (a, q, L2Key) }
      case (CosineDistance(l, r), Ascending) =>
        sides(l, r).orElse(sides(r, l)).map { case (a, q) => (a, q, CosineKey) }
      case (DotProduct(l, r), Descending) =>
        sides(l, r).orElse(sides(r, l)).map { case (a, q) => (a, q, IpKey) }
      case _ => None
    }
  }

  private def stripProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(_, child) => stripProjects(child)
    case other => other
  }

  /** (vector attribute, constant query expression, key family) from a
    * distance call in either argument order. SOS shares L2's centroid
    * ordering, so both prune identically; `dist_cosine` orders ascending
    * like a distance, `dot_product` is a SIMILARITY so only a descending
    * sort is a top-k nearest query. */
  private def distanceArgs(e: Expression, dir: SortDirection)
      : Option[(AttributeReference, Expression, OrderKey)] =
    (e, dir) match {
      case (EuclideanDistance(a: AttributeReference, q), Ascending) if q.foldable =>
        Some((a, q, L2Key))
      case (EuclideanDistance(q, a: AttributeReference), Ascending) if q.foldable =>
        Some((a, q, L2Key))
      case (SumOfSquaresDistance(a: AttributeReference, q), Ascending) if q.foldable =>
        Some((a, q, L2Key))
      case (SumOfSquaresDistance(q, a: AttributeReference), Ascending) if q.foldable =>
        Some((a, q, L2Key))
      case (CosineDistance(a: AttributeReference, q), Ascending) if q.foldable =>
        Some((a, q, CosineKey))
      case (CosineDistance(q, a: AttributeReference), Ascending) if q.foldable =>
        Some((a, q, CosineKey))
      case (DotProduct(a: AttributeReference, q), Descending) if q.foldable =>
        Some((a, q, IpKey))
      case (DotProduct(q, a: AttributeReference), Descending) if q.foldable =>
        Some((a, q, IpKey))
      case _ => None
    }

  private def evalQueryVector(q: Expression): Option[Array[Float]] = q.dataType match {
    case ArrayType(FloatType, _) =>
      Option(q.eval(null)).flatMap { v =>
        val ad = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        try Some(ad.toFloatArray()) catch { case _: Throwable => None }
      }
    case _ => None
  }

  /** Valid (index metric, order key) pairings. A cosine order key over an
    * L2 index (or vice versa) must NOT probe: the centroid ranking would be
    * for the wrong geometry and the result would silently differ from the
    * unpruned answer. */
  private def keyMatchesMetric(key: OrderKey, m: DistanceMetric): Boolean = (key, m) match {
    case (L2Key, DistanceMetric.L2 | DistanceMetric.SumOfSquares) => true
    case (CosineKey, DistanceMetric.Cosine) => true
    case (IpKey, DistanceMetric.InnerProduct) => true
    case _ => false
  }

  /** The vector the centroid ranking runs on, mirroring the programmatic
    * path ([[graft.index.IvfIndex.probe]]): COSINE indexes store
    * normalized vectors and centroids, so the query normalizes too
    * (reference: ivf_flat_index.py:254-255); L2/SOS/IP rank raw (the same
    * L2 centroid ranking the index uses for every metric). */
  private def probeVector(key: OrderKey, qv: Array[Float]): Array[Float] = key match {
    case CosineKey =>
      var s = 0.0; var i = 0
      while (i < qv.length) { s += qv(i).toDouble * qv(i); i += 1 }
      val n = math.sqrt(s)
      if (n == 0.0) qv else qv.map(x => (x / n).toFloat)
    case _ => qv
  }

  /** Wrap the (first) registered scan that produces `attr` in a
    * partition_id ∈ nearest-centroids filter. No-op if the scan is already
    * pruned (fixpoint idempotency), the table isn't a registered IVF base,
    * or the order key doesn't match the index's metric. */
  private def injectProbeFilter(
      gl: LogicalPlan,
      attr: AttributeReference,
      qv: Array[Float],
      key: OrderKey): Option[LogicalPlan] = {
    val alreadyPruned: Set[LogicalPlan] = gl.collect {
      case Filter(cond, lr: LogicalRelation)
          if cond.references.exists(a => PidCols(a.name)) => lr: LogicalPlan
    }.toSet
    var injected = false
    val out = gl.transformUp {
      case lr: LogicalRelation
          if !injected && !alreadyPruned(lr) && lr.outputSet.contains(attr) =>
        entryFor(lr).flatMap(e => lr.output.find(_.name == e.pidCol).map((e, _))) match {
          case Some((entry, pid))
              if entry.centroids.head.length == qv.length &&
                keyMatchesMetric(key, entry.metric) =>
            injected = true
            val parts = nearestPartitions(
              probeVector(key, qv), entry.centroids, entry.nprobe)
            Filter(In(pid, parts.map(i => Literal(i))), lr)
          case _ => lr
        }
    }
    if (injected) Some(out) else None
  }

  private def entryFor(lr: LogicalRelation): Option[IndexCatalog.Entry] =
    lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.headOption
          .flatMap(p => IndexCatalog.lookup(p.toString))
      case _ => None
    }

  private def nearestPartitions(
      q: Array[Float], centroids: Array[Array[Float]], nprobe: Int): Seq[Int] = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      var s = 0.0; var j = 0
      while (j < q.length) { val d = q(j) - c(j); s += d * d; j += 1 }
      (s, i)
    }
    scored.sortBy(t => (t._1, t._2)).take(math.min(nprobe, centroids.length))
      .map(_._2).toSeq
  }
}
