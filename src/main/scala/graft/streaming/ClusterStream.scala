package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.{CacheHygiene, DupClusters, SketchState}

/** Incremental duplicate-CLUSTER maintenance over streamed near-dup
  * pairs — the alias-log union-find that replaces q170's per-read
  * connected-components recompute over the accumulated pair sink
  * (≙ the reference's micro-batch polling model, Main.java:53–66, for
  * the cluster-labeling stage of a dedup pipeline).
  *
  * STATE is a forest stored as an append-only merge log
  * `<stateDir>/aliases` of rows `(node, parent)`:
  *
  *  - only a node that was a component ROOT and then lost a merge ever
  *    gets a row, and it gets exactly ONE row for the stream's life (a
  *    node stops being a root the moment it is aliased, and only
  *    current roots are ever aliased) — so the log is a forest by
  *    construction, `|log| = #merges ≤ #docs-with-duplicates`, id-only
  *    METADATA that never re-reads pair history;
  *  - merges alias the LARGER root to the smaller (union by min), so
  *    every chain terminates at its component's minimum id — exactly
  *    [[graft.operators.DupClusters.connectedComponents]]' labeling
  *    (the spec pins equality under arbitrary arrival splits, and q170
  *    keeps certifying against q44's oracle verbatim).
  *
  * PER-POLL COST tracks the BATCH: the batch's pair endpoints (batch-
  * bounded) chase the alias forest — one join per chain hop, hops kept
  * short by compaction (below) — and the batch-local union-find over
  * the RESOLVED roots runs driver-side (bounded by the batch's pair
  * count, the q44 small-regime discipline). Appended aliases point
  * DIRECTLY at the poll's final root (path compression at write), so
  * chains only deepen when LATER polls merge a former root again.
  *
  * READ COST is bounded by the FOREST, not by pair history: the whole
  * alias log resolves to terminal roots by pointer doubling
  * (O(log depth) self-joins of the metadata-sized log — depth, not
  * edge count, and no corpus-sized iteration), then ONE broadcast left
  * join labels the vertex universe map-side. The old read ran
  * iterative CC over EVERY pair ever discovered; this one never reads
  * a pair again after its poll.
  *
  * CRASH SAFETY: ingest is IDEMPOTENT under at-least-once replay — a
  * replayed pair resolves both endpoints to the same root (the merge
  * already happened) and appends nothing, so the upstream
  * pair-discovery replay contract (NearDupStream's sink-then-state
  * ordering) carries through with no watermark needed. COMPACTION:
  * when the log's part-file count exceeds the excess trigger, it is
  * rewritten FULLY COMPRESSED (every node straight to its terminal
  * root — depth 1) via [[SketchState.swapReplace]]'s crash-safe
  * write-swap-delete-rename, fixing small files and chain depth in
  * one mechanism. */
object ClusterStream {

  case class BatchResult(pairs: Long, merges: Long)

  private def aliasPath(stateDir: String) = s"$stateDir/aliases"

  private val aliasSchema = StructType(Seq(
    StructField("node", LongType), StructField("parent", LongType)))

  /** Fold one poll's newly discovered pairs `(id_a, id_b)` into the
    * alias forest. Endpoint ids must be ids of ingested documents;
    * pairs may repeat across polls (replay-safe no-op).
    *
    * Endpoint resolution is size-gated like [[graft.operators
    * .DupClusters.connectedComponents]]' crossover: while the alias log
    * is ≤ `localMaxAliasBytes` on disk (decided from the file listing —
    * zero jobs; 32 MB ≈ 2M aliases, the DupClusters-measured crossover
    * neighborhood) the log is collected once and chased driver-side —
    * ZERO joins and shuffles per poll, which is what the poll floor is
    * made of at fixture scale (each tiny chase join+count was a full
    * 32-partition shuffle round-trip). Past the gate, the join-per-hop
    * chase runs: batch-bounded endpoint side, one join per chain depth
    * — the 100 TB path.
    *
    * The BATCH side is gated too (`maxLocalPairs`): the batch's distinct
    * pair count is measured before anything is collected, and a batch
    * past the ceiling (a boilerplate flood producing quadratic
    * within-batch pairs) runs entirely distributed through
    * [[ingestPairsDistributed]] — label-identical, never an unguarded
    * driver collect. */
  def ingestPairs(spark: SparkSession, newPairs: DataFrame,
                  stateDir: String, compactAfterFiles: Int = 64,
                  maxChase: Int = 64,
                  localMaxAliasBytes: Long = 32L << 20,
                  maxLocalPairs: Long = 2000000L): BatchResult = {
    val path = aliasPath(stateDir)
    val hasState = SketchState.exists(spark, path)
    val prPlan = newPairs
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
      .persist()
    try {
      // MEASURED batch-size gate, not a contract comment: "a poll's
      // near-dup pairs are a sliver of its docs" is the normal shape, but
      // one boilerplate flood inside a batch produces quadratic
      // within-batch pairs — collecting those unguarded OOMs the driver
      // with no diagnostic. The count materializes the persist, so the
      // in-gate collect below is a cache read, and an over-ceiling batch
      // redirects to DupClusters' distributed big-regime rounds
      // (spec-pinned label-identical) instead of dying. 2M pairs is the
      // DupClusters-measured union-find crossover neighborhood — past it
      // the distributed path is the faster one anyway.
      val nPairs = prPlan.count()
      if (nPairs == 0) return BatchResult(0, 0)
      if (nPairs > maxLocalPairs)
        return ingestPairsDistributed(spark, prPlan, path, hasState,
          maxChase, compactAfterFiles, nPairs)
      ingestPairsLocal(spark, prPlan, path, hasState, maxChase,
        localMaxAliasBytes, compactAfterFiles, nPairs)
    } finally prPlan.unpersist()
  }

  private def ingestPairsLocal(spark: SparkSession, prPlan: DataFrame,
      path: String, hasState: Boolean, maxChase: Int,
      localMaxAliasBytes: Long, compactAfterFiles: Int,
      nPairs: Long): BatchResult = {
    // regime gate from the FILE LISTING (zero Spark jobs): 32 MB of
    // encoded (long, long) rows ≈ 2M aliases, the DupClusters-measured
    // union-find crossover neighborhood
    val logBytes = if (!hasState) 0L else {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).iterator
        .filter(_.getPath.getName.startsWith("part-"))
        .map(_.getLen).sum
    }
    // batch-bounded by the caller's maxLocalPairs gate; the persist was
    // materialized by the gate's count, so this is a cache read
    val pairRows: Array[(Long, Long)] = prPlan.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rootOf: Map[Long, Long] =
      if (logBytes <= localMaxAliasBytes) {
        // LOCAL regime: chase the collected forest driver-side — zero
        // joins, zero shuffles per poll
        val alias: Map[Long, Long] =
          if (!hasState) Map.empty
          else spark.read.parquet(path).collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
        def chase(x: Long): Long = {
          var r = x
          var hops = 0
          while (alias.contains(r)) {
            require(hops < maxChase,
              s"alias chain deeper than maxChase=$maxChase — compaction broken?")
            r = alias(r); hops += 1
          }
          r
        }
        val ids: Set[Long] =
          pairRows.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
        ids.iterator.map(id => id -> chase(id)).toMap
      } else {
        // DISTRIBUTED regime: resolve the batch's endpoints through
        // the CURRENT forest — one join per chain hop, endpoint side
        // batch-bounded throughout (built from the already-collected
        // pairs: the union-find is driver-side in BOTH regimes, so the
        // distributed path exists for a LARGE ALIAS LOG, not large
        // batches)
        import spark.implicits._
        val ids: Set[Long] =
          pairRows.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
        // batch-local union-find over resolved roots, driver-side
        // (rows ≤ 2 × batch pair count)
        withChasedRoots(spark, ids.toSeq.toDF("id"), path, hasState,
            maxChase) { roots =>
          roots.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
      }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path-compress the probe
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    pairRows.foreach { case (a, b) =>
      val ra = find(rootOf(a))
      val rb = find(rootOf(b))
      if (ra != rb) {
        val (hi, lo) = if (ra > rb) (ra, rb) else (rb, ra)
        parent(hi) = lo
      }
    }
    // emit each losing root aliased straight to its FINAL root this
    // poll (write-time path compression)
    val aliasRows: Seq[Row] = parent.keys.toSeq.sorted.flatMap { n =>
      val r = find(n)
      if (r != n) Some(Row(n, r)) else None
    }
    if (aliasRows.nonEmpty) {
      // raw append, not SketchState.append: the alias log is maintained
      // by its own path-compressing rewrite (compressIfNeeded), and the
      // gate already ran in ingestPairs
      spark.createDataFrame(
          java.util.Arrays.asList(aliasRows: _*), aliasSchema)
        .coalesce(1) // driver-built metadata: one file per poll
        .write.mode("append").parquet(path)
      compressIfNeeded(spark, path, compactAfterFiles)
    }
    BatchResult(nPairs, aliasRows.size.toLong)
  }

  /** The over-ceiling batch path: everything stays distributed. The
    * batch's endpoints resolve through the forest (join per chain hop,
    * endpoint side batch-bounded), the batch contracts to a ROOT graph
    * (pairs whose endpoints already share a root vanish — replay-safe
    * like the local path), and [[DupClusters.connectedComponents]]' rounds
    * label each root with its component minimum — the SAME labeling the
    * driver union-find produces (union by min), so the appended aliases
    * are byte-identical: every losing root aliased straight to its final
    * component min (write-time path compression preserved).
    * `failOnNonConvergence = true` because these labels enter a PERSISTENT
    * forest: a partially-propagated label would corrupt every later poll,
    * so an over-deep graph must fail the batch, not taint the state. */
  private def ingestPairsDistributed(spark: SparkSession, pairs: DataFrame,
      path: String, hasState: Boolean, maxChase: Int,
      compactAfterFiles: Int, nPairs: Long): BatchResult =
    CacheHygiene.withRddCleanup(spark) {
      val eps = pairs.select(col("id_a").as("id"))
        .union(pairs.select(col("id_b").as("id")))
        .distinct()
      withChasedRoots(spark, eps, path, hasState, maxChase) { cur =>
        val rootEdges = pairs
          .join(cur.select(col("id").as("id_a"), col("root").as("src")),
            Seq("id_a"))
          .join(cur.select(col("id").as("id_b"), col("root").as("dst")),
            Seq("id_b"))
          .select(col("src"), col("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
        val rootVertices = rootEdges.select(col("src").as("id"))
          .union(rootEdges.select(col("dst").as("id")))
          .distinct()
        val newAliases = DupClusters
          .connectedComponents(rootVertices, rootEdges,
            failOnNonConvergence = true)
          .filter(col("id") =!= col("cluster_rep"))
          .select(col("id").as("node"), col("cluster_rep").as("parent"))
          .persist()
        val nMerges = newAliases.count()
        if (nMerges > 0) {
          // aliases are 16 B/row metadata; land them in O(bytes/64MB) files
          val nFiles = math.max(1L, (nMerges * 16L) >> 26).toInt
          // raw append: the log's own rewrite maintains it (see above)
          newAliases.coalesce(nFiles).write.mode("append").parquet(path)
          compressIfNeeded(spark, path, compactAfterFiles)
        }
        newAliases.unpersist()
        BatchResult(nPairs, nMerges)
      }
    }

  /** Resolve the batch endpoints `eps` (one `id` column) through the
    * CURRENT forest at `path`: one join per chain hop, the endpoint side
    * batch-bounded throughout. `use` gets the (id, root) frame while it
    * is cached; it is unpersisted after. */
  private def withChasedRoots[A](spark: SparkSession, eps: DataFrame,
      path: String, hasState: Boolean, maxChase: Int)(use: DataFrame => A): A = {
    var cur = eps.select(col("id"), col("id").as("root"))
    // track the PERSISTED frame itself: unpersisting a derived frame
    // (e.g. nxt.drop) misses the cache entry, and a leaked entry is a
    // stale-file time bomb — CacheManager matches later polls' plans by
    // root path, resurrecting scans of files a compaction swap already
    // deleted
    var pinned = cur.persist()
    try {
      pinned.count()
      if (hasState) {
        val al = spark.read.parquet(path)
          .select(col("node").as("root"), col("parent").as("__p"))
        var moved = 1L
        var hops = 0
        while (moved > 0) {
          require(hops < maxChase,
            s"alias chain deeper than maxChase=$maxChase — compaction broken?")
          val nxt = cur.join(al, Seq("root"), "left")
            .select(col("id"),
              coalesce(col("__p"), col("root")).as("root"),
              col("__p").isNotNull.as("__m"))
            .persist()
          moved = nxt.filter(col("__m")).count()
          pinned.unpersist()
          pinned = nxt
          cur = nxt.drop("__m")
          hops += 1
        }
      }
      use(cur)
    } finally pinned.unpersist()
  }

  /** Label a vertex universe with its duplicate-cluster representative
    * (the component minimum — q44's labeling): resolve the forest by
    * pointer doubling (log-depth self-joins of the metadata-sized
    * log), spill the resolved labels, then ONE broadcast left join
    * keeps the (possibly corpus-sized) vertex scan map-side. */
  def clusters(spark: SparkSession, vertices: DataFrame,
               stateDir: String): DataFrame = {
    val v = vertices.select(col("id"))
    SketchState.readOpt(spark, aliasPath(stateDir)) match {
      case None => v.select(col("id"), col("id").as("cluster_rep"))
      case Some(log) =>
        val resolved = resolveForest(spark, log)
        v.join(broadcast(resolved.withColumnRenamed("node", "id")),
            Seq("id"), "left")
          .select(col("id"),
            coalesce(col("root"), col("id")).as("cluster_rep"))
    }
  }

  /** Resolve every node of the alias forest to its terminal root.
    * Size-gated like [[ingestPairs]]: a log of ≤ `localMaxAliases` rows
    * is collected and path-compressed driver-side (one job, zero
    * shuffles — the read-path floor at fixture scale was the doubling
    * rounds' join+count shuffles over a few hundred rows). Past the
    * gate: POINTER DOUBLING — each round substitutes root :=
    * resolve(root) using the current table itself, halving remaining
    * chain depth — O(log depth) passes over the log, never over pairs
    * or corpus. Returns a (node, root) frame (spill-decoupled in the
    * distributed regime). */
  private[graft] def resolveForest(spark: SparkSession,
      aliases: DataFrame, maxIter: Int = 64,
      localMaxAliases: Long = 1000000L): DataFrame = {
    if (aliases.count() <= localMaxAliases) {
      val alias = aliases.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val memo = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = memo.getOrElseUpdate(x, {
        var r = x
        var hops = 0
        while (alias.contains(r)) {
          require(hops <= alias.size, "alias forest has a cycle?")
          r = alias(r); hops += 1
        }
        r
      })
      val rows: Seq[Row] = alias.keys.toSeq.sorted
        .map(n => Row(n, find(n)))
      // metadata-sized: one partition, so a compression rewrite lands
      // as one file and the read-path broadcast builds from one task
      return spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), StructType(Seq(
          StructField("node", LongType), StructField("root", LongType))))
        .coalesce(1)
    }
    CacheHygiene.withRddCleanup(spark) {
      var cur = aliases.select(col("node"), col("parent").as("root"))
      var pinned = cur.persist() // see ingestPairs on unpersist hygiene
      pinned.count()
      var moved = 1L
      var iter = 0
      while (moved > 0) {
        require(iter < maxIter,
          s"forest resolution exceeded $maxIter doubling rounds — cycle?")
        val hop = cur.select(col("node").as("root"), col("root").as("__r"))
        val nxt = cur.join(hop, Seq("root"), "left")
          .select(col("node"),
            coalesce(col("__r"), col("root")).as("root"),
            col("__r").isNotNull.as("__m"))
          .persist()
        moved = nxt.filter(col("__m")).count()
        pinned.unpersist()
        pinned = nxt
        cur = nxt.drop("__m")
        iter += 1
      }
      val out = CacheHygiene.spillToTempParquet(cur, "cluster_forest")
      pinned.unpersist()
      out
    }
  }

  /** Excess-triggered compression+compaction: rewrite the log fully
    * path-compressed (depth 1) in one crash-safe swap when its
    * part-file count exceeds the trigger — one mechanism retires both
    * the small-file wall and chain growth. */
  private def compressIfNeeded(spark: SparkSession, path: String,
                               maxFiles: Int): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val nFiles = fs.listStatus(p)
      .count(_.getPath.getName.startsWith("part-"))
    if (nFiles <= maxFiles) return false
    val resolved = resolveForest(spark, spark.read.parquet(path))
      .select(col("node"), col("root").as("parent"))
    SketchState.swapReplace(resolved, path)
    true
  }
}
