package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.slf4j.LoggerFactory

import scala.collection.mutable

/** Duplicate-cluster resolution: connected components over a near-dup pair
  * graph, labeling every document with the minimum id of its component —
  * the step that turns pairwise near-dup output (MinHash/SimHash/Jaccard)
  * into "keep one representative per cluster" for corpus dedup.
  *
  * Algorithm: iterative min-label propagation (the simple variant of
  * large-star/small-star), restricted to the vertices that actually touch
  * an edge. In any real corpus the overwhelming majority of documents are
  * isolated (near-dup families are small), and an isolated vertex's label
  * is its own id by definition — so the iteration works only over the
  * edge-incident vertex set and the isolated rest is unioned back with
  * `label = id` at the end. Per-round cost is O(dup-set), not O(corpus).
  *
  * Each round is two hash-partitioned shuffles (edge×label join + min
  * aggregate); rounds needed = component diameter, which for near-dup
  * clusters is tiny (dup families are cliques-ish). If a component is NOT
  * shallow, rounds 6+ add a pointer-jumping step (label ← label[label],
  * halving the remaining distance each round) so even a diameter-d chain
  * converges in ~5 + log₂(d) rounds instead of d — deep components can
  * slip past maxIter only in theory, not in practice. Shallow graphs
  * converge before the jumping kicks in and never pay for it. Rounds
  * materialize via `persist` + a convergence probe, and every third round
  * goes through `localCheckpoint` so lineage (and with it plan size and
  * recovery cost) stays bounded regardless of iteration count.
  * Labels-only state shuffles (id, label) pairs: 16 bytes a row at any
  * corpus scale. The whole loop runs under [[CacheHygiene.withRddCleanup]]
  * with its result spill-decoupled first, so no loop cache — including the
  * checkpoint-pinned generations `Dataset.unpersist` can't release —
  * outlives the call.
  */
object DupClusters {

  private val log = LoggerFactory.getLogger(getClass)

  /** Total ordering used to pick the component-minimum representative in
    * the local-finish path, for the id types the engine's tables use.
    * An id type outside this set simply keeps the iterative path. */
  private def minOrdering(dt: DataType): Option[Ordering[Any]] = {
    def o[T](ord: Ordering[T]): Option[Ordering[Any]] =
      Some(ord.asInstanceOf[Ordering[Any]])
    dt match {
      case LongType    => o(Ordering.Long)
      case IntegerType => o(Ordering.Int)
      case ShortType   => o(Ordering.Short)
      case ByteType    => o(Ordering.Byte)
      case StringType  => o(Ordering.String)
      case _           => None
    }
  }

  /** `vertices`: one column `id`; `edges`: columns `src`, `dst`
    * (undirected pairs, any orientation). Returns (id, cluster_rep).
    *
    * When the edge set is small — `edgeCount <= localMaxEdges`, known for
    * free because the edges are counted to materialize their persist —
    * the components are resolved by a driver-side union-find over the
    * collected edge list instead of the distributed loop. This is the
    * common case by construction: near-dup families are a vanishingly
    * small fraction of any real corpus, so even a 100 TB corpus's verified
    * near-dup EDGE set is millions of rows, not billions — and those rows
    * were ALREADY driver-bound in any local finish (the labeled output is
    * the build side of a broadcast join). The corpus-scale work (edge
    * production, the incident-vertex semi-join, the final labeling join)
    * stays fully distributed; only the O(dup-set) contraction runs on the
    * driver — the same "finish small graphs locally" regime production CC
    * implementations use, at exactly 3 Spark jobs before the caller's
    * action (round 6 ran ~8: two broadcast-semi-join builds, a separate
    * incident count, and a coalesce(1) contraction task on top — job
    * scheduling latency was the contention amplifier in two rounds of
    * bench artifacts). The 1M-edge default is MEASURED, not guessed
    * (SCALE.md § "Union-find crossover", chains-of-5 shape, local[32]):
    * local wins 8.4 s vs 14.5 s at 1M edges, ties at 2M (21.0 vs 19.1),
    * loses at 4M (41.6 vs 19.9) — the crossover sits near 2M and the
    * default stays on its safe side. The primitive long→long parent table
    * ([[LongLongMap]]) holds ~19 MB at the threshold (vs several hundred
    * MB for a boxed HashMap[Any,Any]). Above the threshold the iterative
    * min-label/pointer-jumping path below takes over.
    *
    * Exiting at `maxIter` without convergence means long-chain components
    * may carry partially-propagated labels; that is logged as a warning,
    * or thrown when `failOnNonConvergence` is set — non-converged output
    * is never returned silently. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIter: Int = 20,
                          failOnNonConvergence: Boolean = false,
                          localMaxEdges: Long = 1000000L): DataFrame = {
    // persist + MATERIALIZE the directed edges before anything reads them:
    // the incident-vertex derivation and the mirrored union each reference
    // the input again, and the propagation join reads it every round —
    // without an eager persist an expensive upstream edge producer (a
    // whole minhash-LSH pipeline) executes once per reference instead of
    // once total
    val directed = edges.select(col("src"), col("dst")).persist()
    val edgeCount =
      try directed.count()
      catch { case t: Throwable => directed.unpersist(); throw t }
    val idType = directed.schema("src").dataType
    val localOrd =
      if (edgeCount <= localMaxEdges) minOrdering(idType) else None
    localOrd match {
      case Some(ord) =>
        // Small-edge regime, round-7 shape: the edge set is bounded by
        // localMaxEdges, i.e. the SAME rows the previous plan shipped to
        // the driver twice as broadcast builds and once through a
        // single-task contraction — so ship them once, explicitly, and do
        // everything bounded on the driver. Exactly THREE Spark jobs
        // before the caller's action (count → collect-from-cache →
        // incident semi-join collect) where the previous shape ran ~8
        // (count, incident count, two broadcast builds, coalesce(1)
        // contraction, labeled collect, plus AQE re-plans); measured via
        // BenchOne jobs=: q44 18→13, q55 28→23 end to end. Scheduling
        // latency of many small jobs — not data volume — was what a
        // contended box amplified 10–20× in two rounds of official bench
        // artifacts.
        val edgeRows =
          try directed.collect()
          finally directed.unpersist()
        // endpoints + incident ∩ vertex universe. The endpoint set is a
        // driver-built LocalRelation broadcast against the (possibly
        // corpus-sized) vertex scan, which therefore stays map-side; its
        // result is bounded by 2·edgeCount rows, safe to collect.
        val endpointSchema = StructType(Seq(StructField("id", idType)))
        val endpointRows: java.util.List[Row] = {
          val seen = new java.util.HashSet[Any]()
          val out = new java.util.ArrayList[Row]()
          edgeRows.foreach { r =>
            val a = r.get(0); val b = r.get(1)
            if (seen.add(a)) out.add(Row(a))
            if (seen.add(b)) out.add(Row(b))
          }
          out
        }
        val endpointsDf = vertices.sparkSession
          .createDataFrame(endpointRows, endpointSchema)
        val incidentRows = vertices.select(col("id"))
          .join(broadcast(endpointsDf), Seq("id"), "left_semi")
          .collect()
        // driver-side exact contraction — no Spark job at all: the
        // incident vertices enter as self-edges (so vertices whose only
        // edges point outside the universe still label themselves), edges
        // are restricted to universe-internal pairs — identical semantics
        // to the propagation loop, where an out-of-universe endpoint
        // never carries a label. Union-by-min roots make each root the
        // component minimum.
        val incidentSet = new java.util.HashSet[Any](incidentRows.length * 2)
        incidentRows.foreach(r => incidentSet.add(r.get(0)))
        val selfEdges = incidentRows.iterator.map(r => Row(r.get(0), r.get(0)))
        val validEdges = edgeRows.iterator.filter(r =>
          incidentSet.contains(r.get(0)) && incidentSet.contains(r.get(1)))
        val fn: Iterator[Row] => Iterator[Row] =
          if (idType == LongType) unionFindLong else unionFindGeneric(ord)
        val labeledRows = fn(selfEdges ++ validEdges).toArray
        val outSchema = StructType(Seq(
          StructField("id", idType), StructField("cluster_rep", idType)))
        val labeled = vertices.sparkSession.createDataFrame(
          java.util.Arrays.asList(labeledRows: _*), outSchema)
        // one broadcast left join instead of anti-join + union: the
        // labeled set is bounded by 2·localMaxEdges rows, so the corpus
        // scan stays map-side — no shuffle of the (possibly huge)
        // vertex set at all
        vertices.select(col("id"))
          .join(broadcast(labeled), Seq("id"), "left")
          .select(col("id"),
            coalesce(col("cluster_rep"), col("id")).as("cluster_rep"))
      case None =>
        // the scoped guard releases EVERY cache the loop creates — incl.
        // the localCheckpoint-pinned truncation generations that
        // Dataset.unpersist cannot reach (CacheHygiene doc) — once the
        // loop has decoupled its result via spill; a long-lived session
        // therefore holds zero pinned RDDs between dupClusters calls
        CacheHygiene.withRddCleanup(vertices.sparkSession) {
          val und = directed
            .union(directed.select(col("dst").as("src"), col("src").as("dst")))
          // iterate ONLY over edge-incident vertices; isolated ones are done
          // at round 0 and never need to enter (or be re-shuffled by) the
          // loop. Derived from the CACHED directed relation, not the raw
          // edges plan.
          val endpoints = directed.select(col("src").as("id"))
            .union(directed.select(col("dst").as("id")))
            .distinct()
          val incident = endpoints
            .join(vertices.select(col("id")), Seq("id"), "left_semi")
            .persist()
          iterativeMinLabel(vertices, directed, und, incident,
            maxIter, failOnNonConvergence)
        }
    }
  }

  /** Primitive-keyed union-find for Long ids (every registered caller's id
    * type): the parent table is an open-addressing long→long map at ~16
    * bytes/entry instead of a boxed `HashMap[Any,Any]` at ~80, so the
    * driver-side contraction at the 1M-edge threshold holds ~32 MB of
    * parent state, not hundreds (see SCALE.md's union-find probe). */
  private def unionFindLong(rows: Iterator[Row]): Iterator[Row] = {
    val parent = new LongLongMap(1 << 12)
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    rows.foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      if (!parent.contains(a)) parent.put(a, a)
      if (!parent.contains(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        // attach the larger root under the smaller: roots stay minima
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    // path-compression puts during the sweep only overwrite existing
    // slots (every key is already present), so iterating the key set
    // while calling find is safe
    parent.keyIterator.map(k => Row(k, find(k)))
  }

  /** Boxed fallback for the remaining id types (string ids etc.). */
  private def unionFindGeneric(ord: Ordering[Any])
                              (rows: Iterator[Row]): Iterator[Row] = {
    val parent = mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def add(x: Any): Unit = if (!parent.contains(x)) parent(x) = x
    rows.foreach { row =>
      val a = row.get(0); val b = row.get(1)
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keysIterator.map(k => Row(k, find(k)))
  }

  private def iterativeMinLabel(vertices: DataFrame, directed: DataFrame,
                                und: DataFrame, incident: DataFrame,
                                maxIter: Int,
                                failOnNonConvergence: Boolean): DataFrame = {
    var labels = incident.select(col("id"), col("id").as("label")).persist()
    // convergence probe: min-label propagation only ever DECREASES labels,
    // so the label sum is strictly monotone until fixpoint — an unchanged
    // sum IS convergence. One cheap aggregate per round instead of a
    // changed-rows self-join. decimal(38) so huge id sums cannot overflow.
    def labelSum(df: DataFrame): Any =
      df.agg(sum(col("label").cast("decimal(38,0)"))).collect()(0).get(0)
    var prevSum = labelSum(labels) // also materializes the persist
    var iter = 0
    var converged = false
    try {
      while (!converged && iter < maxIter) {
        val neighborMin = und
          .join(labels.withColumnRenamed("id", "__src"), col("src") === col("__src"))
          .groupBy(col("dst")).agg(min(col("label")).as("__nlabel"))
        val oneHop = labels
          .join(neighborMin, col("id") === col("dst"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("__nlabel"), col("label")))
              .as("label"))
        // still not converged after 5 rounds → the graph has deep
        // components; compress paths with label ← label[label] (every
        // label IS a working-set vertex id, so the self-join is total).
        // oneHop is persisted for the round: the self-join references it
        // twice and would otherwise evaluate the propagation join twice
        val jumping = iter >= 5
        val hop = if (jumping) oneHop.persist() else oneHop
        val propagated =
          if (!jumping) hop
          else hop.as("a")
            .join(hop.withColumnRenamed("id", "__pid")
              .withColumnRenamed("label", "__plabel"),
              col("a.label") === col("__pid"))
            .select(col("a.id").as("id"),
              least(col("a.label"), col("__plabel")).as("label"))
        // localCheckpoint every 3rd round: persist alone caches rows but
        // keeps the full lineage, so the logical plan (and failure-recovery
        // chain) would otherwise grow with the iteration count
        // (localCheckpoint caches the underlying RDD itself — no extra persist)
        val next =
          if (iter % 3 == 2) propagated.localCheckpoint(eager = false)
          else propagated.persist()
        val nextSum = labelSum(next) // materializes next
        if (jumping) hop.unpersist()
        labels.unpersist()
        labels = next
        converged = nextSum == prevSum
        prevSum = nextSum
        iter += 1
      }
      if (!converged) {
        val msg = s"connectedComponents exited at maxIter=$maxIter without " +
          "converging: components with diameter > maxIter carry " +
          "partially-propagated labels"
        if (failOnNonConvergence) throw new IllegalStateException(msg)
        log.warn(msg)
      }
      // Decouple the result from the loop's caches before the scoped
      // guard (in connectedComponents) drops them: several label
      // generations are localCheckpoint-pinned, so the returned plan must
      // not reference ANY of them. The converged working-set labels —
      // (id, label), 16 B/row, dup-set-bounded, NOT corpus-sized — spill
      // to a JVM-lifetime temp parquet, and the isolated complement is
      // derived from the spilled id set (the spill holds exactly the
      // edge-incident vertices), so the output plan references only the
      // vertex scan and the spill files: consuming it after cleanup never
      // replays the loop or the caller's edge-producer pipeline.
      val spilled = CacheHygiene.spillToTempParquet(
        labels.withColumnRenamed("label", "cluster_rep"), "graft-cc-labels-")
      val isolated = vertices.select(col("id"))
        .join(spilled.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("cluster_rep"))
      spilled.union(isolated)
    } finally directed.unpersist()
  }

  /** Cluster sizes + representative, for "how much of the corpus is
    * duplicated" reporting. */
  def clusterSizes(labeled: DataFrame): DataFrame =
    labeled.groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("n_members"))

  /** Cluster-SIZE histogram — the duplication dashboard's shape panel
    * over a `(doc_id, cluster_rep)` labeling: one row per distinct
    * cluster size `(cluster_size, n_clusters, n_docs)`. The tail
    * answers "do dup families stay pairs or snowball?" — a fat tail
    * (one 50k-member family) usually means a boilerplate shingle got
    * through the df-cut and glued unrelated docs, which is invisible
    * in the mean dup rate. Scale: two count aggregates (ids →
    * cluster-cardinality → distinct-size-cardinality), id traffic
    * only. */
  def sizeHistogram(labeled: DataFrame): DataFrame =
    clusterSizes(labeled)
      .groupBy(col("n_members").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
}

/** Minimal open-addressing long→long hash map: power-of-two capacity,
  * linear probing, 0.75 load factor, `Long.MinValue` as the empty-slot
  * sentinel (the sentinel key itself is carried out-of-band so the full
  * Long domain is usable). Exists because the union-find parent table is
  * the single-task hot spot of the local CC path: primitive arrays cost
  * ~16 bytes/entry where a boxed `HashMap[Any,Any]` costs ~80 with a Node
  * and two boxes per entry, and probe reads are cache-line-friendly. */
private[operators] final class LongLongMap(expected: Int) {
  private[this] final val EMPTY = Long.MinValue
  private[this] var cap = {
    var c = 16
    while (c < expected * 2 && c > 0) c <<= 1
    c
  }
  private[this] var mask = cap - 1
  private[this] var keys = {
    val a = new Array[Long](cap); java.util.Arrays.fill(a, EMPTY); a
  }
  private[this] var vals = new Array[Long](cap)
  private[this] var n = 0
  private[this] var hasSentinel = false
  private[this] var sentinelVal = 0L

  // splitmix64-style finalizer: sequential doc ids must not cluster probes
  private def slot(k: Long): Int = {
    var h = k * -7046029254386353131L
    h ^= h >>> 32
    h.toInt & mask
  }

  /** Value for `k`; caller guarantees the key is present (union-find only
    * ever reads keys it inserted). */
  def get(k: Long): Long = {
    if (k == EMPTY) return sentinelVal
    var i = slot(k)
    while (keys(i) != k) i = (i + 1) & mask
    vals(i)
  }

  def contains(k: Long): Boolean = {
    if (k == EMPTY) return hasSentinel
    var i = slot(k)
    while (true) {
      val kk = keys(i)
      if (kk == k) return true
      if (kk == EMPTY) return false
      i = (i + 1) & mask
    }
    false
  }

  def put(k: Long, v: Long): Unit = {
    if (k == EMPTY) { hasSentinel = true; sentinelVal = v; return }
    var i = slot(k)
    while (keys(i) != EMPTY && keys(i) != k) i = (i + 1) & mask
    if (keys(i) == EMPTY) {
      keys(i) = k; vals(i) = v; n += 1
      if (n * 4 > cap * 3) grow()
    } else vals(i) = v
  }

  private def grow(): Unit = {
    val ok = keys; val ov = vals
    cap <<= 1; mask = cap - 1
    keys = new Array[Long](cap); java.util.Arrays.fill(keys, EMPTY)
    vals = new Array[Long](cap); n = 0
    var i = 0
    while (i < ok.length) {
      if (ok(i) != EMPTY) put(ok(i), ov(i))
      i += 1
    }
  }

  def size: Int = n + (if (hasSentinel) 1 else 0)

  def keyIterator: Iterator[Long] = {
    val base = keys.iterator.filter(_ != EMPTY)
    if (hasSentinel) Iterator.single(EMPTY) ++ base else base
  }
}
