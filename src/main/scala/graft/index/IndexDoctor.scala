package graft.index

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Index integrity checker — the `fsck` an operator runs before trusting
  * (or after repairing) a multi-TB index: verifies the metadata document's
  * internal invariants and that every version's on-disk artifacts agree
  * with it. The reference leans on TileDB's fragment consistency for this;
  * the parquet layout gets an explicit doctor instead.
  *
  * Every check is a bounded driver aggregate (counts, min/max dims — never
  * a collect of vectors), one small Spark job per version table, so the
  * doctor is safe to run against an index of any size.
  */
object IndexDoctor {

  /** severity: "error" = the index will misbehave; "warn" = inconsistent
    * bookkeeping that degrades (extra scans, stale flags) but serves. */
  case class Finding(severity: String, check: String, detail: String)

  def check(spark: SparkSession, uri: String): Seq[Finding] = {
    val out = mutable.Buffer.empty[Finding]
    val meta =
      try IndexMeta.read(uri)
      catch {
        case e: Exception =>
          return Seq(Finding("error", "meta", s"metadata unreadable: ${e.getMessage}"))
      }

    // ---- metadata invariants ----
    val ts = meta.ingestionTimestamps
    if (ts.sorted != ts || ts.distinct != ts)
      out += Finding("error", "meta.timestamps",
        s"ingestion timestamps must be strictly increasing, got $ts")
    if (meta.baseSizes.length != ts.length || meta.partitionHistory.length != ts.length)
      out += Finding("error", "meta.lengths",
        s"baseSizes(${meta.baseSizes.length}) / partitionHistory(${meta.partitionHistory.length}) " +
          s"must match ${ts.length} ingestions")
    if (meta.dimensions <= 0)
      out += Finding("error", "meta.dimensions", s"non-positive dimensions ${meta.dimensions}")
    // VectorIndex.open dispatches on these exact strings — anything else
    // opens with a MatchError, which the doctor must say BEFORE the caller
    // trusts the index
    val knownTypes = Set("FLAT", "BINARY", "IVF_FLAT", "IVF_PQ", "VAMANA")
    if (!knownTypes.contains(meta.indexType))
      out += Finding("error", "meta.indexType",
        s"unrecognized index type '${meta.indexType}' — open() will fail " +
          s"(known: ${knownTypes.toSeq.sorted.mkString(", ")})")
    if (!Set("float32", "uint8", "int8").contains(meta.dtype))
      out += Finding("error", "meta.dtype", s"unrecognized dtype '${meta.dtype}'")
    // ingest refuses this combination (graph nodes key by external_id);
    // a hand-rolled meta claiming it gets a named finding, not a silent
    // pass through the relaxed multi-vector row arithmetic below
    if (meta.multiVector && meta.indexType == "VAMANA")
      out += Finding("error", "meta.multiVector",
        "VAMANA cannot carry multi-vector layouts (graph keyed by " +
          "external_id); ingest refuses this combination")

    // ---- per-version artifacts ----
    // each version checks inside its own guard: a truncated parquet footer
    // or a drifted schema must become a FINDING for that version (and the
    // remaining versions still get checked), not a propagated stack trace —
    // corrupt artifacts are exactly what the doctor exists to report
    ts.zipWithIndex.foreach { case (t, i) =>
      try checkVersion(spark, uri, meta, t, i, out)
      catch {
        case e: Exception =>
          out += Finding("error", s"base.v=$t",
            s"version unreadable: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

    // ---- updates log bookkeeping ----
    val logDir = s"$uri/updates"
    val logExists = Storage.hasParquet(logDir)
    // queries gate the merge branch on the log's fragments, not the flag
    // (VectorIndex.updatesLog), so either drift is bookkeeping, not broken
    // serving — both warn
    if (meta.hasUpdates && !logExists)
      out += Finding("warn", "updates",
        "hasUpdates is set but the log holds no fragment " +
          "(stale flag; queries gate on the fragments and serve correctly)")
    if (!meta.hasUpdates && logExists)
      out += Finding("warn", "updates",
        "updates log present but hasUpdates is false — the log still " +
          "merges into queries (fragment-gated); the flag is stale bookkeeping")
    if (logExists) {
      val cols = spark.read.parquet(logDir).columns.toSet
      val need = Set("external_id", "vector", "ts")
      if (!need.subsetOf(cols))
        out += Finding("error", "updates",
          s"log schema $cols missing ${(need -- cols).mkString(", ")}")
      // rows at or before the oldest kept version are unreachable (reads
      // before it are empty); an index whose history an earlier release
      // cleared still holds such fragments
      ts.headOption.foreach { first =>
        try {
          val stale = Storage.logFragments(logDir).count(f => !f.isEmpty && f.maxTs <= first)
          if (stale > 0)
            out += Finding("warn", "updates",
              s"$stale log fragments hold only rows at or before the oldest " +
                s"kept version ($first), which no read reaches; vacuum() drops them")
        } catch {
          case e: Exception =>
            out += Finding("error", "updates",
              s"log fragment unreadable: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }
    out.toSeq
  }

  /** Object-layer fsck: every vector-index check plus the coherence of the
    * `object_metadata` table object queries join each hit against
    * ([[graft.objects.ObjectIndex]]; reference: object_index.py:524-544
    * metadata materialization). Same discipline — bounded aggregates
    * (anti-join COUNTS, never id collects), safe at any corpus size.
    *
    *  - duplicate metadata rows per external_id → '''error''' (the
    *    fused-results inner join would multiply every hit of that object)
    *  - an indexed id with no metadata row → '''error''' (the inner join
    *    silently DROPS that object from results — a hit the vector index
    *    earns disappears)
    *  - a metadata row whose id is not in the latest base → '''warn'''
    *    (pre-registered object; joins ignore it) */
  def checkObjectIndex(spark: SparkSession, uri: String): Seq[Finding] = {
    val out = mutable.Buffer.empty[Finding]
    out ++= check(spark, uri)
    // the table-local checks below (presence, schema, duplicates) never
    // touch the metadata document, so they run even when it is unreadable;
    // only the base-coverage anti-joins need the parsed meta, and an
    // unreadable document already surfaced ONE finding from check() above
    val indexMeta: Option[IndexMeta] =
      try Some(IndexMeta.read(uri))
      catch { case _: Exception => None }
    val metaDir = s"$uri/object_metadata"
    if (!Storage.nonEmptyDir(metaDir)) {
      out += Finding("error", "object_metadata",
        "object_metadata table missing/empty — object queries inner-join " +
          "every hit against it, so ALL results vanish")
      return out.toSeq
    }
    // the maintenance-log schema gate runs on the RAW log (the merged view
    // would just throw on a drifted union); everything else checks the
    // MERGED view — the table object queries actually join against
    val mdUpdPath = graft.objects.ObjectIndex.metadataUpdatesPath(uri)
    if (Storage.nonEmptyDir(mdUpdPath)) {
      try {
        val baseCols = spark.read.parquet(metaDir).schema
          .map(f => f.name -> f.dataType).toSet
        val internal = Set(graft.objects.ObjectIndex.MetaTsCol,
          graft.objects.ObjectIndex.MetaDeletedCol)
        val updCols = spark.read.parquet(mdUpdPath).schema
          .filterNot(f => internal(f.name)).map(f => f.name -> f.dataType).toSet
        if (updCols != baseCols)
          out += Finding("error", "object_metadata_updates",
            s"log attrs ${updCols.toSeq.sortBy(_._1).mkString(", ")} drifted " +
              s"from the base table's ${baseCols.toSeq.sortBy(_._1).mkString(", ")} — " +
              "merged reads union NULLs into the divergent columns")
      } catch {
        case e: Exception =>
          out += Finding("error", "object_metadata_updates",
            s"unreadable: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    val md =
      try graft.objects.ObjectIndex.mergedMetadata(spark, uri)
      catch {
        case e: Exception =>
          out += Finding("error", "object_metadata",
            s"unreadable: ${e.getClass.getSimpleName}: ${e.getMessage}")
          return out.toSeq
      }
    if (!md.columns.contains("external_id")) {
      out += Finding("error", "object_metadata",
        s"schema ${md.columns.toSeq.sorted.mkString(", ")} lacks external_id")
      return out.toSeq
    }
    val dups = md.groupBy(col("external_id")).count()
      .where(col("count") > 1).count()
    if (dups > 0)
      out += Finding("error", "object_metadata",
        s"$dups external_ids carry duplicate metadata rows — the " +
          "metadata join multiplies every hit of those objects")
    indexMeta.foreach { im =>
      try {
        val t = im.ingestionTimestamps.last
        // LIVE indexed ids = latest base ∪ updates-log additions, minus ids
        // whose latest log entry is a tombstone — exactly the id set a
        // query can surface between consolidations, so metadata coverage
        // stays a hard invariant through the incremental path
        val baseIds = spark.read.parquet(s"$uri/base/v=$t")
          .select(col("external_id")).distinct()
        val updPath = s"$uri/updates"
        val live =
          if (Storage.hasParquet(updPath)) {
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("external_id")).orderBy(col("ts").desc)
            val latest = spark.read.parquet(updPath)
              .withColumn("__rn", row_number().over(w))
              .where(col("__rn") === 1)
            baseIds.unionByName(latest.select("external_id"))
              .distinct()
              .join(latest.where(col("vector").isNull).select("external_id"),
                Seq("external_id"), "left_anti")
          } else baseIds
        val mdIds = md.select(col("external_id")).distinct()
        val missingMeta = live.join(mdIds, Seq("external_id"), "left_anti").count()
        if (missingMeta > 0)
          out += Finding("error", "object_metadata",
            s"$missingMeta live indexed external_ids have NO metadata row — " +
              "their hits silently drop from object query results")
        val orphans = mdIds.join(live, Seq("external_id"), "left_anti").count()
        if (orphans > 0)
          out += Finding("warn", "object_metadata",
            s"$orphans metadata external_ids are not live in the index " +
              s"(absent from base v=$t and the updates log, or tombstoned; " +
              "joins ignore them)")
      } catch {
        case e: Exception =>
          out += Finding("error", "object_metadata",
            s"coverage check failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    out.toSeq
  }

  /** All artifact checks for one base version (throwing variants surface
    * as a single per-version finding in [[check]]). */
  private def checkVersion(
      spark: SparkSession,
      uri: String,
      meta: IndexMeta,
      t: Long,
      i: Int,
      out: mutable.Buffer[Finding]): Unit = {
    val basePath = s"$uri/base/v=$t"
    if (!Storage.nonEmptyDir(basePath)) {
      out += Finding("error", s"base.v=$t", "base version directory missing or empty")
      return
    }
    val base = spark.read.parquet(basePath)
    // float32 stores array<float> (size = dims); byte dtypes store packed
    // binary (length = dims bytes) — one element/byte per dim either way
    val lenOf =
      if (meta.dtype == "float32") size(col("vector")) else length(col("vector"))
    val stats = base.agg(count(lit(1)).as("rows"),
      countDistinct(col("external_id")).as("n"),
      min(lenOf).as("lo"), max(lenOf).as("hi")).head()
    val rows = stats.getLong(0)
    val n = stats.getLong(1)
    // the logical corpus is DISTINCT ids: boundary-replicated VAMANA
    // builds store each vector in several shards (+ portal copies from
    // the neighbor exchange), so raw row count legitimately exceeds the
    // recorded size there; multi-vector object layouts (meta.multiVector —
    // ColPali-style models stacking several vectors per external id)
    // record baseSizes as ROW counts and id multiplicity IS the layout.
    // Duplicate rows in any other layout are corruption.
    if (meta.multiVector) {
      if (meta.baseSizes.lift(i).exists(_ != rows))
        out += Finding("error", s"base.v=$t",
          s"row count $rows != recorded baseSize ${meta.baseSizes(i)} " +
            "(multi-vector layout records rows)")
    } else {
      if (meta.baseSizes.lift(i).exists(_ != n))
        out += Finding("error", s"base.v=$t",
          s"distinct id count $n != recorded baseSize ${meta.baseSizes(i)}")
      if (meta.shardReplicas <= 1 && rows != n)
        out += Finding("error", s"base.v=$t",
          s"${rows - n} duplicate external_id rows in an unreplicated layout")
    }
    // replicated layouts hold copies ACROSS shards, but within one shard
    // (shard_id, external_id) is still unique — portals are only imported
    // where the point is NOT resident — so a double-written file is
    // detectable there too
    if (meta.shardReplicas > 1 && base.columns.contains("shard_id")) {
      val dupInShard = base.groupBy(col("shard_id"), col("external_id"))
        .agg(count(lit(1)).as("c")).where(col("c") > 1).count()
      if (dupInShard > 0)
        out += Finding("error", s"base.v=$t",
          s"$dupInShard (shard, id) pairs with duplicate rows — a point " +
            "must appear at most once per shard even under replication")
    }
    val expectLen = meta.dimensions
    if (!stats.isNullAt(2) &&
        (stats.getInt(2) != expectLen || stats.getInt(3) != expectLen))
      out += Finding("error", s"base.v=$t",
        s"vector length range [${stats.getInt(2)}, ${stats.getInt(3)}] " +
          s"!= dimensions $expectLen")
    meta.indexType match {
      case "IVF_FLAT" | "IVF_PQ" =>
        val cPath = s"$uri/centroids/v=$t"
        if (!Storage.nonEmptyDir(cPath))
          out += Finding("error", s"centroids.v=$t", "centroid table missing")
        else {
          val c = spark.read.parquet(cPath).count()
          if (meta.partitionHistory.lift(i).exists(_ != c))
            out += Finding("error", s"centroids.v=$t",
              s"$c centroids != recorded partition count ${meta.partitionHistory(i)}")
        }
        if (meta.indexType == "IVF_PQ" && !Storage.nonEmptyDir(s"$uri/pq_codebooks/v=$t"))
          out += Finding("error", s"pq_codebooks.v=$t", "codebook table missing")
      case "VAMANA" =>
        if (!Storage.nonEmptyDir(s"$uri/graph/v=$t"))
          out += Finding("error", s"graph.v=$t", "adjacency table missing")
        else {
          // graph ↔ base coherence: the per-shard search assembles rows by
          // an inner join on (shard_id, external_id), so a base row with
          // no adjacency is INVISIBLE to search, an adjacency row with no
          // vector silently drops, and a shard needs exactly one medoid
          // entry point. ONE full-outer join + a per-shard aggregate
          // (bounded by shard count) answers all of it in a single pass
          // over each table — the doctor's one-bounded-job-per-table
          // contract.
          val gk = spark.read.parquet(s"$uri/graph/v=$t")
            .select(col("shard_id"), col("external_id"), col("is_medoid"))
            .withColumn("__g", lit(1))
          val bk = base.select("shard_id", "external_id").withColumn("__b", lit(1))
          val perShard = gk.join(bk, Seq("shard_id", "external_id"), "full_outer")
            .groupBy("shard_id")
            .agg(
              sum(when(col("__g").isNull, 1L).otherwise(0L)).as("inv"),
              sum(when(col("__b").isNull, 1L).otherwise(0L)).as("vless"),
              sum(when(coalesce(col("is_medoid"), lit(false)), 1L)
                .otherwise(0L)).as("m"))
          val tot = perShard.agg(
            sum("inv").as("invisible"),
            sum("vless").as("vectorless"),
            sum(when(col("m") =!= 1L, 1L).otherwise(0L)).as("badMedoids"),
            count(lit(1)).as("shardsSeen")).head()
          if (tot.getLong(0) > 0)
            out += Finding("error", s"graph.v=$t",
              s"${tot.getLong(0)} base rows without adjacency — invisible to search")
          if (tot.getLong(1) > 0)
            out += Finding("error", s"graph.v=$t",
              s"${tot.getLong(1)} adjacency rows without a base vector — dropped at query")
          if (tot.getLong(2) > 0)
            out += Finding("error", s"graph.v=$t",
              s"${tot.getLong(2)} shards without exactly one medoid entry point")
          // a WHOLE shard vanishing (base + graph partitions lost together)
          // is invisible to the row-level checks above: compare the
          // observed shard set against the recorded geometry. An assigned
          // shard can legitimately be empty (k-means may starve one), so
          // this is a warn naming both readings.
          meta.partitionHistory.lift(i).foreach { parts =>
            if (tot.getLong(3) < parts)
              out += Finding("warn", s"graph.v=$t",
                s"only ${tot.getLong(3)} of $parts shards have any rows — " +
                  "either empty k-means shards (benign) or lost shard " +
                  "partitions (routed queries probing them lose recall)")
            if (tot.getLong(3) > parts)
              out += Finding("error", s"graph.v=$t",
                s"${tot.getLong(3)} shards on disk > recorded $parts")
          }
          // sharded builds persist the shard map; its size must match the
          // recorded geometry exactly (the IVF centroid check's sibling)
          if (Storage.nonEmptyDir(s"$uri/centroids/v=$t")) {
            val c = spark.read.parquet(s"$uri/centroids/v=$t").count()
            if (meta.partitionHistory.lift(i).exists(_ != c))
              out += Finding("error", s"centroids.v=$t",
                s"$c shard centroids != recorded shard count ${meta.partitionHistory(i)}")
          }
          // OPTIONAL PQ attachment (VamanaIndex.buildPqCodes): codes and
          // codebooks ship together, and the PQ walk assembles rows by the
          // same (shard_id, external_id) inner join as the float path — so
          // a half-written attachment or a coverage gap silently shrinks
          // the searchable graph. Bounded aggregates only.
          val hasPqCodes = Storage.nonEmptyDir(s"$uri/pq/v=$t")
          val hasPqCb = Storage.nonEmptyDir(s"$uri/pq_codebooks/v=$t")
          if (hasPqCodes != hasPqCb)
            out += Finding("error", s"pq.v=$t",
              if (hasPqCodes) "pq codes present but pq_codebooks missing " +
                "(partial buildPqCodes write)"
              else "pq_codebooks present but pq codes missing " +
                "(partial buildPqCodes write)")
          if (hasPqCodes && hasPqCb) {
            val cb = spark.read.parquet(s"$uri/pq_codebooks/v=$t")
              .agg(countDistinct(col("subspace")).as("m"),
                min(size(col("centroid"))).as("lo"),
                max(size(col("centroid"))).as("hi")).head()
            val mSub = cb.getLong(0)
            if (mSub == 0 || meta.dimensions % mSub != 0)
              out += Finding("error", s"pq_codebooks.v=$t",
                s"$mSub subspaces do not divide dimensions ${meta.dimensions}")
            else if (cb.getInt(1) != meta.dimensions / mSub ||
                cb.getInt(2) != meta.dimensions / mSub)
              out += Finding("error", s"pq_codebooks.v=$t",
                s"sub-centroid length range [${cb.getInt(1)}, ${cb.getInt(2)}] " +
                  s"!= dimensions/m = ${meta.dimensions / mSub}")
            val pq = spark.read.parquet(s"$uri/pq/v=$t")
            val pqStats = pq.agg(count(lit(1)).as("rows"),
              sum(when(size(col("codes")) =!= mSub.toInt, 1L).otherwise(0L))
                .as("badLen")).head()
            if (pqStats.getLong(0) != rows)
              out += Finding("error", s"pq.v=$t",
                s"${pqStats.getLong(0)} code rows != $rows base rows — " +
                  "uncoded points are invisible to PQ traversal")
            if (pqStats.getLong(1) > 0)
              out += Finding("error", s"pq.v=$t",
                s"${pqStats.getLong(1)} code rows whose length != $mSub subspaces")
          }
        }
      case "BINARY" =>
        val sPath = s"$uri/sketch/v=$t"
        if (!Storage.nonEmptyDir(sPath))
          out += Finding("error", s"sketch.v=$t", "sign-sketch table missing")
        else {
          val sk = spark.read.parquet(sPath)
          val sn = sk.count()
          // one sketch row per base ROW (multi-vector layouts included);
          // distinct-id comparison would false-positive on multiplicity
          val expectSketch = if (meta.multiVector) rows else n
          if (sn != expectSketch)
            out += Finding("error", s"sketch.v=$t",
              s"sketch rows $sn != base rows $expectSketch")
          val words = (meta.dimensions + 63) / 64
          val bad = sk.where(size(col("bits")) =!= words).count()
          if (bad > 0)
            out += Finding("error", s"sketch.v=$t",
              s"$bad sketch rows with word count != $words")
        }
      case _ => // FLAT (and unknown types, already flagged): base only
    }
  }
}
