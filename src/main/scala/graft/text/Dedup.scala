package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.dist_cosine
import graft.materialize

/** Deduplication operators for training-data pipelines, all expressed as
  * declarative DataFrame plans so Catalyst handles pushdown/pruning and the
  * shuffles are the minimum the algorithm implies.
  *
  * Scale posture (100 TB): every variant avoids the naive all-pairs join —
  * exact/fingerprint dedup is one hash aggregation; MinHash-LSH shuffles on
  * band buckets (candidates only); n-gram/embedding near-dup joins are
  * block-scoped. Pathologically hot LSH buckets are capped (dropped) rather
  * than allowed to go quadratic — the standard guard in web-scale dedup.
  */
object Dedup {

  /** Row cap per (blockCols) block in [[ngramJaccardPairs]]; a block past
    * the cap fails the job with a pointer to the LSH path. */
  val MaxNgramBlockRowsKey = "spark.graft.ngramJaccard.maxBlockRows"
  val DefaultMaxNgramBlockRows = 100000L

  /** Exact duplicate groups by content hash: one hash-aggregate, no join.
    * Output: (fp, canonical_id, cnt) with canonical = min id. */
  def exactGroups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      fingerprint: Column => Column = TextOps.fingerprintMd5): DataFrame =
    docs.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("cnt"))

  /** Block-scoped n-gram (3-shingle set) Jaccard near-dup pairs: join only
    * within `blockCols` blocks (e.g. language x source), never all-pairs. */
  def ngramJaccardPairs(
      docs: DataFrame,
      threshold: Double,
      blockCols: Seq[String],
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // repartition on the block keys BEFORE the self-join: the exchange
    // materializes the shingle sets once (projection collapse would
    // otherwise inline + re-evaluate them per joined pair) and pre-shuffles
    // both sides on the join keys. Shingles ride as 64-bit hashes: integer
    // set intersection + ~3x less shuffle than the raw 3-gram strings; the
    // pair set only changes if two distinct shingles of the SAME doc pair
    // collide in 64 bits AND that flips a borderline Jaccard — negligible
    // at any corpus size.
    // materialize BEFORE the self-join: constraint inference would otherwise
    // push an isnotnull over the full shingle expression into the scan and
    // recompute the pipeline once per predicate (observed 2x at bench scale)
    val withSets = materialize(docs.select(
      (col(idCol).as("id") +: blockCols.map(col)) :+
        transform(TextOps.shingleSet(col(textCol)), s => xxhash64(s)).as("sh"): _*)
      .withColumn("nsh", size(col("sh")))
      .repartition(blockCols.map(col): _*))
    // Block-size guard: the within-block join is QUADRATIC by design
    // (acceptable only for small curated blocks; MinHash-LSH is the corpus-
    // scale path). A block past the cap means this operator was pointed at
    // the wrong data — refuse loudly instead of launching an accidental
    // O(n²) shuffle at corpus scale.
    val maxBlock = graft.Conf.long(docs.sparkSession,
      Dedup.MaxNgramBlockRowsKey, Dedup.DefaultMaxNgramBlockRows)
    val oversized = withSets.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).where(col("__n") > maxBlock)
      .limit(1).collect()
    require(oversized.isEmpty, {
      val r = oversized.head
      val desc = blockCols.zipWithIndex.map { case (c, i) => s"$c=${r.get(i)}" }
        .mkString(", ")
      s"graft: ngramJaccardPairs block ($desc) holds ${r.getLong(blockCols.length)} " +
        s"rows (cap ${Dedup.MaxNgramBlockRowsKey}=$maxBlock); the within-block " +
        "join is quadratic — use minhashLshPairs for blocks this size"
    })
    val a = withSets.as("a")
    val b = withSets.as("b")
    // size-ratio prefilter: J(a,b) ≤ min(|a|,|b|)/max(|a|,|b|), so pairs
    // whose set sizes differ by more than the threshold ratio can't qualify
    // — two int comparisons prune them before any intersection is computed
    val sizeCompatible =
      col("a.nsh").cast("double") >= col("b.nsh") * threshold &&
        col("b.nsh").cast("double") >= col("a.nsh") * threshold
    val blockEq = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.id") < col("b.id") && sizeCompatible)(_ && _)
    // the jaccard predicate goes into the join condition LAST so the cheap
    // conjuncts (id order, size ratio) screen each hash-bucket pair before
    // any array intersection is evaluated
    a.join(b, blockEq && jaccard(col("a.sh"), col("b.sh")) >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** Set Jaccard of two pre-distinct arrays. Integer set sizes divided in
    * double — bit-identical across engines for oracle parity. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_distinct(concat(a, b))).cast("double")

  /** Test-set decontamination (training-data hygiene): per corpus document,
    * how many of its distinct 3-shingles also appear in `benchmark` (a
    * held-out eval set whose n-grams must not leak into training data).
    * Output: (doc_id, n_overlap) for documents sharing >= `minOverlap`
    * shingles — the rows to drop or audit before training.
    *
    * Scale shape: the corpus side explodes its shingle SET (already
    * distinct per doc) and joins on the shingle string; the benchmark side
    * is distinct-collapsed and small by nature (eval sets are thousands of
    * documents, not billions), so the planner broadcasts it and the corpus
    * never shuffles — one scan + map-side semi work + a keyed count. */
  def contaminationHits(
      docs: DataFrame,
      benchmark: DataFrame,
      minOverlap: Int = 1,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val corpusSh = docs.select(col(idCol).as("doc_id"),
      explode(TextOps.shingleSet(col(textCol))).as("sh"))
    val benchSh = benchmark
      .select(explode(TextOps.shingleSet(col(textCol))).as("sh"))
      .distinct()
    // the hint is load-bearing: a benchmark derived by FILTERING a big
    // table carries the parent's size estimate, and without the hint the
    // planner would sort-merge — shuffling the exploded corpus shingles,
    // orders of magnitude more data than the corpus itself
    corpusSh.join(broadcast(benchSh), Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .where(col("n_overlap") >= minOverlap)
  }

  /** Cross-document duplicated-SPAN detection (exact substring dedup, the
    * Lee et al. 2021 "Deduplicating Training Data Makes Language Models
    * Better" signal): a length-`spanTokens` token span is duplicated when
    * it occurs in at least `minDocs` distinct documents; per document,
    * report how many span start positions are duplicated and how many
    * token positions the merged duplicated spans cover. Documents shorter
    * than `spanTokens` trivially report zeros. Unlike whole-document
    * near-dup (MinHash/SimHash), this catches boilerplate shared INSIDE
    * otherwise-distinct documents — the licence header / navigation bar /
    * quoted-reply case.
    *
    * Output: (doc_id, n_spans, n_dup_spans, n_dup_tokens) for every input
    * document.
    *
    * Scale shape: shingles ride the shuffle as 64-bit xxhash64 values
    * (engine-internal — the hash never reaches the output, a collision
    * would need two spans colliding in 64 bits to flip a count), the
    * duplicated-shingle set is one hash aggregate with an early
    * `minDocs` filter, and the join back is hash-to-hash. Nothing is
    * all-pairs; the explode factor is ~1 shingle per token and the
    * coverage explode is `spanTokens`×hits, both linear. The suffix-array
    * construction the paper uses is a single-machine formulation — the
    * shingle-join re-expression is the standard distributed equivalent at
    * this span granularity. */
  def duplicatedSpans(
      docs: DataFrame,
      spanTokens: Int = 5,
      minDocs: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(spanTokens > 0 && minDocs >= 2,
      s"duplicatedSpans: need spanTokens > 0 (got $spanTokens) and minDocs >= 2 (got $minDocs)")
    val sh = docs.select(col(idCol).as("doc_id"),
        posexplode(TextOps.positionalShingles(col(textCol), spanTokens))
          .as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos"), xxhash64(col("sh")).as("h"))
    // one aggregate; count DISTINCT docs, not occurrences — a span repeated
    // inside a single document is repetition (TextOps.repetitionRatio's
    // signal), not cross-document duplication
    val dup = sh.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= minDocs)
      .select("h")
    val hits = sh.join(dup, Seq("h"))
    // merged-span coverage: explode each hit to its covered token
    // positions and count them distinct — overlap-correct without any
    // per-document interval logic. Each hit contributes exactly
    // spanTokens rows, so the span count is count/spanTokens (avoids a
    // second distinct aggregate and its Expand).
    val perDoc = hits
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(spanTokens - 1))).as("tpos"))
      .groupBy("doc_id")
      .agg((count(lit(1)) / spanTokens).cast("long").as("n_dup_spans"),
        countDistinct(col("tpos")).as("n_dup_tokens"))
    docs.select(col(idCol).as("doc_id"),
        greatest(TextOps.tokenCount(col(textCol)) - lit(spanTokens - 1), lit(0))
          .cast("long").as("n_spans"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
  }

  /** MinHash + banded LSH near-dup pairs over 3-shingle sets
    * (numHashes = bands x rowsPerBand signatures).
    *
    * Pipeline: shingle → xxhash64 → minhash signatures (all inside one
    * codegen'd projection) → explode bands → shuffle ONLY on (band, hash)
    * buckets → within-bucket pairs (hot buckets capped at `maxBucketSize`)
    * → exact-Jaccard verification of the candidates. With rowsPerBand=4,
    * bands=32 the miss probability at j=0.8 is (1-0.8^4)^32 ≈ 5e-8, so the
    * verified output equals the exhaustive-pairs answer w.h.p. — that is
    * what the DuckDB oracle checks.
    */
  def minhashLshPairs(
      docs: DataFrame,
      threshold: Double,
      bands: Int = 32,
      rowsPerBand: Int = 4,
      maxBucketSize: Int = 10000,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val numHashes = bands * rowsPerBand
    // Deterministic affine hash family over 31-bit shingle hashes, applied
    // in ONE pass by MinHashSignature (see its scaladoc for why the
    // higher-order-function formulation is off the table).
    val rnd = new scala.util.Random(42)
    val aCoef = Array.fill(numHashes)(rnd.nextInt(Int.MaxValue).toLong | 1L)
    val bCoef = Array.fill(numHashes)(rnd.nextInt(Int.MaxValue).toLong)

    import org.apache.spark.sql.graftshim.{toColumn, toExpression}
    // The (sh, minhash) frame is referenced three times (banding + both
    // sides of the verification join) — materialize() computes it once and
    // cuts lineage (see its scaladoc for the checkpoint/localCheckpoint
    // fault-tolerance trade). The signature consumes the raw shingle
    // strings, but the verification join only needs SET IDENTITY, so the
    // materialized `sh` is 64-bit hashes: less storage and shuffle, integer
    // intersections (same borderline-collision caveat as ngramJaccardPairs).
    val withSig = docs.select(col(idCol).as("id"),
        TextOps.shingleSet(col(textCol)).as("sh"))
      .withColumn("minhash",
        toColumn(MinHashSignature(toExpression(col("sh")), aCoef, bCoef)))
      .withColumn("sh", transform(col("sh"), s => xxhash64(s)))
      .transform(materialize)

    val banded = withSig.select(col("id"), col("sh"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), bd =>
          xxhash64(bd, slice(col("minhash"), bd * lit(rowsPerBand) + 1, lit(rowsPerBand)))))
          .as(Seq("band", "bucket")))

    // Cap pathological buckets (boilerplate shingle floods) before pairing.
    // A windowed count would shuffle + sort EVERY banded row (bands × corpus
    // rows at scale); the hash aggregate map-side-combines to the distinct
    // bucket keys and only the over-cap keys survive. No forced broadcast:
    // the hot set is usually tiny (planner broadcasts it on its own), but a
    // boilerplate-flooded corpus can have millions of hot keys — the
    // un-hinted join lets AQE fall back to a shuffle join instead of dying
    // on the broadcast limit. Distinct names on the hot side: a same-lineage
    // join with shared names resolves trivially-true in Spark.
    val hot = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bucket_n")).where(col("bucket_n") > maxBucketSize)
      .select(col("band").as("hot_band"), col("bucket").as("hot_bucket"))
    val bucketed = banded.join(hot,
      col("band") === col("hot_band") && col("bucket") === col("hot_bucket"),
      "left_anti")

    // Distinct column names on each side: self-joins on same-lineage frames
    // with shared names resolve to trivially-true predicates in Spark.
    // Only IDS ride through the bucket join (shingle sets are wide); the
    // candidate pairs re-join the sets for exact verification.
    val l = bucketed.select(col("band").as("band_a"), col("bucket").as("bucket_a"),
      col("id").as("id_a"))
    val r = bucketed.select(col("band").as("band_b"), col("bucket").as("bucket_b"),
      col("id").as("id_b"))
    val candidates = l.join(r,
        col("band_a") === col("band_b") && col("bucket_a") === col("bucket_b")
          && col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    val sets = withSig.select(col("id"), col("sh"))
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .where(jaccard(col("sh_a"), col("sh_b")) >= threshold)
      .select("id_a", "id_b")
  }

  /** 64-bit SimHash near-dup pairs: signature via [[SimHash64]], then
    * pairs within Hamming distance `maxHamming`, blocked on the signature's
    * 4 16-bit chunks (a pair within distance<=3 shares at least one intact
    * chunk — classic Charikar blocking, no all-pairs join). */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(maxHamming <= 3, "chunk blocking covers hamming <= 3 over 4 chunks")
    import org.apache.spark.sql.graftshim.toColumn
    import org.apache.spark.sql.graftshim.toExpression
    val sig = docs.select(col(idCol).as("id"),
      toColumn(SimHash64(toExpression(TextOps.tokens(col(textCol))))).as("sig"))
      .repartition(col("id")) // materialize signatures once before the join
    val chunkCols = (0 until 4).map(i =>
      shiftrightunsigned(col("sig"), i * 16).bitwiseAND(lit(0xFFFFL)))
    val chunked = sig.select(col("id"), col("sig"),
      posexplode(array(chunkCols: _*)).as(Seq("chunk_idx", "chunk")))
    val l = chunked.select(col("chunk_idx").as("ci_a"), col("chunk").as("ch_a"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val r = chunked.select(col("chunk_idx").as("ci_b"), col("chunk").as("ch_b"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, col("ci_a") === col("ci_b") && col("ch_a") === col("ch_b")
        && col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .where(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= maxHamming)
      .select("id_a", "id_b")
  }

  /** Connected components over a near-dup pair graph by iterative min-label
    * propagation (each iteration: one join + one hash agg; lineage is cut
    * with [[materialize]]). Diameter of dup-clusters bounds the iteration
    * count; convergence is detected by a changed-label count. This is the
    * canonical-document assignment step of corpus dedup: component id =
    * smallest doc id reachable through near-dup edges.
    *
    * @return (id, component) for every node
    */
  def connectedComponents(
      nodes: DataFrame, // single column "id"
      edges: DataFrame, // columns (id_a, id_b)
      maxIter: Int = 15): DataFrame = {
    // Central-vs-distributed dispatch (the same size gate as index
    // training): a deduplicated corpus has FAR fewer near-dup edges than
    // documents, so the edge list usually fits on the driver — union-find
    // there costs zero Spark jobs per round instead of ~5. The limit+collect
    // doubles as the gate: if it returns <= cap rows, that IS the whole edge
    // set; past the cap the iterative distributed path below takes over
    // (driver memory stays bounded no matter the corpus).
    val cap = graft.Conf.int(edges.sparkSession,
      "spark.graft.maxLocalCCEdges", 4000000)
    val matEdges = materialize(
      edges.select(col("id_a").cast("long"), col("id_b").cast("long")))
    val head = matEdges.limit(cap + 1).collect()
    if (head.length <= cap) {
      val comp = localComponents(head.map(r => (r.getLong(0), r.getLong(1))))
      val labelDf = edges.sparkSession
        .createDataFrame(comp.toSeq).toDF("l_id", "l_comp")
      return nodes.join(labelDf, nodes("id") === col("l_id"), "left")
        .select(nodes("id"), coalesce(col("l_comp"), nodes("id")).as("component"))
    }

    val sym = matEdges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(matEdges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .transform(materialize)
    // Iterate ONLY over edge-incident vertices: near-dup cluster members are
    // a vanishing fraction of the corpus, so the loop's joins never touch
    // the full node set — that is the 100 TB posture (the corpus is read
    // once to build `nodes` and once in the final left join; every
    // iteration's frames are |dup vertices|, not |corpus|).
    var labels = materialize(sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component")))
    var converged = false
    var iter = 0
    // Labels only ever DECREASE (min-propagation), so the label sum is a
    // strictly-monotone convergence witness: unchanged sum ⇔ no label moved.
    // One decimal aggregate per iteration replaces a join + count (decimal
    // so 10^11 rows × 10^18 ids cannot overflow).
    var lastSum: java.math.BigDecimal = null
    while (!converged && iter < maxIter) {
      val nbrMin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("component")).as("nbr_min"))
      val stepped = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(labels("id"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
      // Pointer jump (shortcutting): component := label(component). Labels
      // always hold ids of edge-incident vertices, so the mapping is total;
      // composing it each round turns the O(diameter) propagation into
      // O(log diameter) — long chains were the bench-visible worst case.
      // The map is the PREVIOUS round's materialized labels (one round
      // stale, still monotone): mapping through `stepped` itself would put
      // the neighbor-min join in both branches of the join and evaluate it
      // twice. Distinct names on the mapping side: a same-lineage self-join
      // with shared names resolves to a trivially-true predicate in Spark.
      val lmap = labels.select(col("id").as("m_id"), col("component").as("m_comp"))
      val next = stepped.join(lmap, stepped("component") === lmap("m_id"), "left")
        .select(stepped("id"),
          least(col("component"), coalesce(col("m_comp"), col("component")))
            .as("component"))
        .transform(materialize)
      val s = next.agg(sum(col("component").cast("decimal(38,0)"))).head().getDecimal(0)
      // null sum ⇔ zero rows: converged trivially (otherwise an empty frame
      // would spin through every iteration)
      converged = s == null || (lastSum != null && s.compareTo(lastSum) == 0)
      lastSum = s
      labels = next
      iter += 1
    }
    // Non-edge vertices are their own singleton components. The dup-vertex
    // label table is small after LSH, so the planner broadcasts it.
    nodes.join(labels.select(col("id").as("l_id"), col("component").as("l_comp")),
        nodes("id") === col("l_id"), "left")
      .select(nodes("id"), coalesce(col("l_comp"), nodes("id")).as("component"))
  }

  /** Driver-local union-find (path-halving + union by rank) over a collected
    * edge list; components are then re-labeled to their minimum member id
    * (the canonical-document convention). */
  private def localComponents(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    val rank = scala.collection.mutable.HashMap.empty[Long, Int]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // path halving
        x = parent(x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        val (hi, lo) =
          if (rank.getOrElse(ra, 0) >= rank.getOrElse(rb, 0)) (ra, rb) else (rb, ra)
        parent(lo) = hi
        if (rank.getOrElse(ra, 0) == rank.getOrElse(rb, 0))
          rank(hi) = rank.getOrElse(hi, 0) + 1
      }
    }
    val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
    parent.keys.foreach { v =>
      val r = find(v)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, Long.MaxValue), v)
    }
    parent.keys.map(v => v -> minOfRoot(find(v))).toMap
  }

  /** Full corpus dedup: LSH near-dup pairs → connected components →
    * canonical = component minimum. Returns (doc_id, component,
    * is_canonical); filtering on is_canonical yields the dedup'd corpus. */
  def dedupAssignments(
      docs: DataFrame,
      threshold: Double,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val pairs = minhashLshPairs(docs, threshold, textCol = textCol, idCol = idCol)
    val cc = connectedComponents(docs.select(col(idCol).as("id")), pairs)
    cc.select(col("id").as(idCol), col("component"),
      (col("id") === col("component")).as("is_canonical"))
  }

  /** Embedding near-dup pairs at scale (SemDeDup-style): k-means centroids
    * over the normalized embeddings define the blocks, and each vector is
    * assigned to its `probes` nearest centroids (multi-probe), so a pair is
    * examined iff the two probe sets intersect — near-centroid-boundary
    * pairs survive that a single-assignment blocking would miss. Candidate
    * pairs are then verified with the exact cosine predicate, so output
    * precision is exact; only recall is approximate (missed pairs are those
    * whose members share no probed block). This is the production form of
    * [[embeddingCosinePairs]], whose `blockCol` prefilter assumes a label
    * column exists; here the blocks come from the data itself, the same
    * partitioning an IVF index would use.
    *
    * Shuffle volume: probes × |corpus| rows into the block join — bucketed,
    * never all-pairs. Training is the shared central/distributed k-means
    * dispatch ([[graft.index.Ingest.trainCentroids]]).
    */
  def embeddingCosinePairsAnn(
      emb: DataFrame,
      threshold: Double,
      partitions: Int = 0, // 0 = auto (sqrt of corpus size)
      probes: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      presetCentroids: Option[Array[Array[Float]]] = None): DataFrame = {
    import org.apache.spark.sql.graftshim.{toColumn, toExpression}
    import graft.functions.vector_normalize
    // normalized up front: cosine neighbors cluster on the unit sphere, and
    // the verification dot product reuses the normalized form
    val v = emb.select(col(idCol).cast("long").as("id"),
      vector_normalize(col(vecCol).cast("array<float>")).as("v"))
    val centroids = presetCentroids.getOrElse {
      val n = v.count()
      if (n == 0) // no vectors -> no pairs (training would yield zero centroids)
        return v.sparkSession.emptyDataFrame
          .select(lit(0L).as("id_a"), lit(0L).as("id_b"))
      val k = if (partitions > 0) partitions else graft.index.Ingest.autoPartitions(n)
      graft.index.Ingest.trainCentroids(
        v.select(col("v").as("vector")), k,
        graft.index.Ingest.autoTrainingSize(n, k), totalRows = n)
    }
    // materialized before the self-join: projection collapse would re-run
    // the normalize + top-probes assignment once per joined pair
    val blocked = materialize(v.select(col("id"), col("v"),
      explode(toColumn(graft.functions.NearestCentroids(
        toExpression(col("v")), centroids, probes))).as("blk")))
    val a = blocked.select(col("blk").as("blk_a"), col("id").as("id_a"), col("v").as("v_a"))
    val b = blocked.select(col("blk").as("blk_b"), col("id").as("id_b"), col("v").as("v_b"))
    // VERIFY BEFORE DEDUP: the cosine predicate evaluates inside the
    // block-join stage (codegen'd, pairs stream through memory), so only
    // SURVIVING pairs — 16 bytes each — reach the dropDuplicates shuffle.
    // The original dedup-then-verify order shuffled every candidate pair
    // WITH both vector payloads: ~blockSize²/2 rows × (2·dims floats) per
    // block ≈ 235 GB of spill at 432k vectors — measured filling the disk
    // (round-13 dedup scale run) where the filtered order shuffles
    // megabytes. Same result set: the predicate is a pure function of the
    // (id_a, id_b) pair, so dedup-of-filtered ≡ filter-of-deduped.
    a.join(b, col("blk_a") === col("blk_b") && col("id_a") < col("id_b"))
      .where(lit(1.0f) - dist_cosine(col("v_a"), col("v_b")) >= threshold)
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b") // pairs sharing several probed blocks
  }

  /** Full SEMANTIC corpus dedup (the SemDeDup pipeline shape): centroid-
    * blocked cosine near-dup pairs → connected components → canonical =
    * component minimum. The embedding-space twin of [[dedupAssignments]];
    * filtering on is_canonical yields the semantically-deduplicated corpus.
    *
    * @return (idCol, component, is_canonical) for every vector
    */
  def dedupAssignmentsEmbedding(
      emb: DataFrame,
      threshold: Double,
      partitions: Int = 0,
      probes: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      presetCentroids: Option[Array[Array[Float]]] = None): DataFrame = {
    val pairs = embeddingCosinePairsAnn(emb, threshold, partitions, probes, idCol,
      vecCol, presetCentroids)
    val cc = connectedComponents(emb.select(col(idCol).cast("long").as("id")), pairs)
    cc.select(col("id").as(idCol), col("component"),
      (col("id") === col("component")).as("is_canonical"))
  }

  /** Embedding near-dup pairs: cosine similarity >= threshold within
    * `blockCol` blocks (a coarse IVF-style prefilter; at 100 TB the block
    * would be an LSH/IVF partition id instead of a label). */
  def embeddingCosinePairs(
      emb: DataFrame,
      threshold: Double,
      blockCol: String = "label",
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val v = emb.select(col(idCol).as("id"), col(blockCol).as("blk"), col(vecCol).as("v"))
    val a = v.as("a"); val b = v.as("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .where(lit(1.0f) - dist_cosine(col("a.v"), col("b.v")) >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** Soft duplication score — the document-level "how much of this text
    * exists elsewhere" signal (the scoring complement of the hard pair
    * generators above; Lee et al. 2021 §5 measures corpora exactly this
    * way before choosing dedup thresholds). For every document: how many
    * of its distinct 3-token shingles appear in at least one OTHER
    * document, reported as exact integers plus an integer-DIV permille.
    *
    * Scale: one shingle explode, one corpus-wide shingle-frequency hash
    * aggregate (map-side combined), one hash join back on the shingle,
    * one per-doc re-aggregate — every step keyed and shuffle-parallel,
    * no pair enumeration anywhere. Output:
    * `(id, n_shingles, n_shared, dup_permille)`. */
  def duplicationScore(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val e = docs.select(col(idCol), explode(TextOps.shingleSet(col(textCol))).as("sh"))
    val freq = e.groupBy("sh").agg(count(lit(1)).as("df"))
    e.join(freq, Seq("sh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_permille", expr("n_shared * 1000 DIV n_shingles"))
  }

  /** Corpus-wide boilerplate LINE removal (the C4 §2.2 / RefinedWeb
    * line-wise filter): a line of text that recurs across at least
    * `minDocFreq` DISTINCT documents is boilerplate (navigation chrome,
    * cookie banners, license footers) — every occurrence is dropped and
    * each document is reassembled from its surviving lines in original
    * order. Sub-document granularity distinguishes this from the
    * whole-document dedup family above and from [[dedupSpans]]' pairwise
    * span containment: the signal here is corpus-wide line frequency, not
    * any document pair.
    *
    * Lines shorter than `minLineChars` characters never participate —
    * neither counted nor dropped (they reassemble untouched). That is both
    * the C4 semantic (short fragments aren't boilerplate evidence) and the
    * hot-key guard: empty/one-char lines are the corpus's most frequent
    * keys and would otherwise dominate the frequency shuffle.
    *
    * Scale shape (100 TB): (1) one posexplode over documents; (2) distinct
    * (line, doc) pairs then a line-keyed count — both hash aggregates with
    * map-side partial combine, shuffle volume ≈ the distinct-line text
    * once; (3) the boilerplate set (df ≥ minDocFreq, cardinality bounded
    * by total_lines / minDocFreq) anti-joins the exploded lines under the
    * engine-wide broadcast gate ([[graft.gatedSmallSide]] — shuffle
    * fallback past it, where AQE's skew split handles a pathological hot
    * line); (4) per-document reassembly is a bounded collect_list +
    * sort_array, per-doc line counts only — no global order, no window
    * anywhere. A document whose every line is boilerplate survives as an
    * empty string (callers drop empties with their own length filter, as
    * C4 does).
    *
    * Output: `(id, clean_text, n_lines, removed_lines)`. */
  def dedupBoilerplateLines(
      docs: DataFrame,
      minDocFreq: Int,
      minLineChars: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(minDocFreq >= 2,
      s"graft: dedupBoilerplateLines minDocFreq must be >= 2 (a line is " +
        s"boilerplate only when SHARED across documents), got $minDocFreq")
    require(minLineChars >= 0,
      s"graft: dedupBoilerplateLines minLineChars must be >= 0, got $minLineChars")
    // NULL text coalesces to '' (the empty-document contract): split(NULL)
    // is NULL, which would otherwise emit NULL n_lines/removed_lines that
    // silently poison downstream counter arithmetic
    val base = docs.select(col(idCol).cast("long").as("__id"),
      coalesce(col(textCol), lit("")).as("__text"))
    val lines = base.select(col("__id"),
      posexplode(split(col("__text"), "\n", -1)).as(Seq("__pos", "__line")))
    // candidates vs guarded-short split happens ONCE here so the short/hot
    // keys bypass the anti join entirely, not just the frequency count
    val isCand = length(col("__line")) >= minLineChars
    val freq = lines.where(isCand)
      .select("__line", "__id").distinct()
      .groupBy("__line").agg(count(lit(1)).as("__df"))
    val boiler = freq.where(col("__df") >= minDocFreq).select("__line")
    val kept = lines.where(isCand)
      .join(graft.gatedSmallSide(boiler), Seq("__line"), "left_anti")
      .unionByName(lines.where(!isCand))
    val rebuilt = kept
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__pos"), col("__line")))).as("__sl"))
      .select(col("__id"),
        array_join(transform(col("__sl"), s => s.getField("__line")), "\n")
          .as("clean_text"),
        size(col("__sl")).cast("long").as("__kept"))
    base
      .select(col("__id"), size(split(col("__text"), "\n", -1)).cast("long").as("n_lines"))
      .join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("__kept"), lit(0L))).as("removed_lines"))
  }

  /** Quality-canonical selection over duplicate clusters: instead of the
    * min-id convention [[dedupAssignments]] uses, the surviving member of
    * each component is its HIGHEST-quality document (ties break to the
    * smallest id). This is what production corpus dedup actually wants —
    * when a page was crawled five times, keep the cleanest capture, not the
    * one with the lowest crawl id (the convention SemDeDup/CCNet pipelines
    * follow when a quality score is available).
    *
    * `quality` must be integer-valued (enforced) and cover every id in
    * `assignments` — ids without a quality row drop out of the result (the
    * join is inner; run the scorer over the full corpus first). Float
    * qualities are refused: they put the argmax on an engine-dependent
    * tie boundary, the same trap the integer-micro pinning elsewhere in
    * this codebase avoids — quantize upstream.
    *
    * Scale: one map-side-combinable `max(struct(quality, -id))` aggregate
    * per component — no window, no self-join. The canonical table the join
    * adds back is one row per component and rides the size-gated broadcast
    * helper, shuffle fallback included.
    *
    * @param assignments (idCol, component) as produced by
    *                    [[dedupAssignments]] / [[dedupAssignmentsEmbedding]]
    * @param quality     (idCol, qualityCol) integer-valued score, higher =
    *                    better
    * @return (idCol, component, canonical_id, canonical_quality,
    *         is_canonical) for every input id
    */
  def canonicalByQuality(
      assignments: DataFrame,
      quality: DataFrame,
      idCol: String = "doc_id",
      qualityCol: String = "quality"): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val qType = quality.schema(qualityCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(qType),
      s"graft: canonicalByQuality requires an integer-valued $qualityCol " +
        s"(got $qType) — float scores make the per-component argmax an " +
        "engine-dependent tie; quantize upstream (e.g. round(q * 1e6))")
    val j = assignments
      .select(col(idCol).cast("long").as("__id"), col("component"))
      .join(quality.select(col(idCol).cast("long").as("__id"),
        col(qualityCol).cast("long").as("__q")), Seq("__id"))
    // max over (quality, -id): highest quality, then smallest id — one
    // struct-ordered aggregate, partial on the map side like any max
    val canon = j.groupBy(col("component"))
      .agg(max(struct(col("__q"), (-col("__id")).as("__nid"))).as("__best"))
      .select(col("component"),
        (-col("__best.__nid")).as("canonical_id"),
        col("__best.__q").as("canonical_quality"))
    j.join(graft.gatedSmallSide(canon), Seq("component"))
      .select(col("__id").as(idCol), col("component"), col("canonical_id"),
        col("canonical_quality"),
        (col("__id") === col("canonical_id")).as("is_canonical"))
  }
}
