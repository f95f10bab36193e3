package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.NearDup

/** Scale probes for the three defaults that are still sized by
  * measurement. Each mode times both sides of a crossover at growing
  * scale; the recorded figures are in SCALE.md:
  *   - `uf`    — `DupClusters.connectedComponents(localMaxEdges)`
  *               (§ "Union-find crossover");
  *   - `nd`    — `NearDupStream.semiJoinCorpusRatio`
  *               (§ "NearDupStream verify-side crossover");
  *   - `ops29` — `ClusterStream.ingestPairs(localMaxAliasBytes)`
  *               (§ "size-gated alias-chase").
  *
  * The SCALE.md figures were taken at `SPARK_GRAFT_CPUS=32` (local[32],
  * 32 shuffle partitions); the session defaults to every core of the
  * machine, so set that to reproduce them.
  *
  * Usage: sbt "runMain graft.tools.ScaleProbe uf|nd|ops29"
  */
object ScaleProbe {

  private def time[A](what: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[probe] $what%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  /** ops29: ClusterStream's chase-regime crossover, measured. The r16
    * size gate (collect-and-chase ≤ 32 MB of log, join-per-hop past it)
    * needs its threshold justified the way DupClusters' was: seed alias
    * forests of growing size DIRECTLY (node 4r+k → parent 4r — depth-1,
    * the compacted shape), then time ONE identical 50k-pair ingest
    * (half its endpoints hit the forest) under the default gate vs
    * forced-distributed, and one forest resolution each way. Separate
    * state dirs per variant so both time the identical increment. */
  def ops29Probe(spark: SparkSession): Unit = {
    import graft.streaming.ClusterStream
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def seed(nAlias: Long, dir: String): Unit = {
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      spark.range(nAlias).select(
          ((col("id") / 3L).cast("long") * 4L + pmod(col("id"), lit(3L)) + 1L)
            .as("node"),
          ((col("id") / 3L).cast("long") * 4L).as("parent"))
        .repartition(math.max(1L, nAlias / 2000000L).toInt)
        .write.mode("overwrite").parquet(s"$dir/aliases")
    }
    // 6.4M is enough: the local regime is already 2–13× behind there
    // (and collapse is super-linear — driver Map + row materialization);
    // larger sizes only repeat the verdict at unbounded probe cost
    Seq(400000L, 1600000L, 6400000L).foreach { nAlias =>
      // batch: 50k pairs, id_a an aliased node, id_b a fresh id — every
      // chase has to consult the forest
      val fresh = nAlias * 8L
      val batch = spark.range(50000L).select(
        ((col("id") / 3L).cast("long") * 4L + pmod(col("id"), lit(3L)) + 1L)
          .as("id_a"),
        (col("id") + fresh).as("id_b"))
      Seq(("local", Long.MaxValue), ("dist ", 0L)).foreach { case (tag, gate) =>
        val dir = s"/tmp/ops29_${nAlias}_${tag.trim}"
        seed(nAlias, dir)
        time(f"ops29 ingest $tag aliases=$nAlias%9d (50k pairs)") {
          ClusterStream.ingestPairs(spark, batch, dir,
            localMaxAliasBytes = gate)
        }
      }
      val dir = s"/tmp/ops29_${nAlias}_local"
      time(f"ops29 read   local aliases=$nAlias%9d") {
        ClusterStream.resolveForest(spark,
          spark.read.parquet(s"$dir/aliases"),
          localMaxAliases = Long.MaxValue).count()
      }
      time(f"ops29 read   dist  aliases=$nAlias%9d") {
        ClusterStream.resolveForest(spark,
          spark.read.parquet(s"$dir/aliases"),
          localMaxAliases = 0L).count()
      }
    }
  }

  /** Crossover measurement for NearDupStream's verify-side corpus access
    * (full-scan shingle vs candidate-id broadcast semi-join) at growing
    * corpus/batch ratios. State is seeded directly with what ingestBatch
    * leaves behind (docs + band index), fresh per variant so both time the
    * IDENTICAL increment. */
  def nearDupStreamProbe(spark: SparkSession): Unit = {
    import graft.streaming.NearDupStream
    val (n, bands, rpb, thr) = (3, 8, 2, 0.8)
    // realistic candidate shape: dup families are a SLIVER of the corpus
    // (the whole premise of the dedup family) — 30-word docs over a 100k
    // vocabulary almost never collide, and 10% of the batch duplicates a
    // specific corpus doc. A candidate-rich corpus (every corpus doc a
    // near-dup of the batch) inverts the result: the semi-join restricts
    // nothing and pays its jobs for free — measured 9.4 vs 7.0 s at
    // ratio 125 in that degenerate shape.
    def text(idc: org.apache.spark.sql.Column) =
      concat_ws(" ", transform(sequence(lit(0), lit(149)),
        i => concat(lit("w"), pmod(hash(idc * 31 + i), lit(100000)))))
    val nBatch = 500L
    val batch = spark.range(nBatch).select(
        (col("id") + 900000000L).as("id"),
        when(col("id") < nBatch / 10, text(col("id"))) // dup of corpus id
          .otherwise(text(col("id") + 500000000L)).as("text"))
      .cache()
    batch.count()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    var warmed = false
    Seq(8, 32, 125, 500).foreach { ratio =>
      val nCorpus = nBatch * ratio
      val corpus = spark.range(nCorpus)
        .select(col("id"), text(col("id")).as("text")).cache()
      corpus.count()
      Seq(("full-scan", Long.MaxValue), ("semi-join", 0L)).foreach {
        case (label, r) =>
          val base = s"/tmp/nd_probe_${ratio}_$label"
          fs.delete(new org.apache.hadoop.fs.Path(base), true)
          corpus.write.mode("overwrite").parquet(s"$base/state/docs")
          NearDup.minhashBands(corpus, col("id"), col("text"), n, bands, rpb)
            .write.mode("overwrite").parquet(s"$base/state/bands")
          if (!warmed) { // JIT/codegen warmup outside every timed window
            NearDupStream.ingestBatch(spark, batch, s"$base/state",
              s"$base/sink-warm", n, bands, rpb, thr)
            fs.delete(new org.apache.hadoop.fs.Path(base), true)
            corpus.write.mode("overwrite").parquet(s"$base/state/docs")
            NearDup.minhashBands(corpus, col("id"), col("text"), n, bands, rpb)
              .write.mode("overwrite").parquet(s"$base/state/bands")
            warmed = true
          }
          time(f"ndstream $label%-9s corpus=$nCorpus%7d ratio=$ratio%3d") {
            NearDupStream.ingestBatch(spark, batch, s"$base/state",
              s"$base/sink", n, bands, rpb, thr, semiJoinCorpusRatio = r)
          }
      }
      corpus.unpersist()
    }
    batch.unpersist()
  }

  /** Sizes the `localMaxEdges` default from measurement instead of a guess:
    * times the single-task union-find vs the distributed min-label loop on
    * the SAME graph at edge counts bracketing the threshold, and reports
    * the parent-table size the task holds (2 long arrays ≈ 16 B/entry
    * after the primitive-map specialization). Graph shape is the realistic
    * one — many small families (chains of 5 edges), vertices ≈ 1.2× edges.
    * Run: sbt "runMain graft.tools.ScaleProbe uf"; results in SCALE.md. */
  def unionFindProbe(spark: SparkSession): Unit = {
    import graft.operators.DupClusters
    Seq(250000L, 1000000L, 4000000L).foreach { nE =>
      val nIds = nE * 6 / 5 + 1
      val edges = spark.range(nIds - 1).filter(col("id") % 6 =!= 5)
        .select(col("id").as("src"), (col("id") + 1).as("dst")).cache()
      val ne = edges.count()
      val verts = spark.range(nIds).select(col("id")).cache()
      verts.count()
      // ~2.4 longs of parent state per edge at this shape (keys+vals at
      // 0.75 max load rounds capacity to the next power of two)
      println(f"[probe] union-find parent table ≈ ${ne * 1.2 * 16 / 1e6}%.0f MB raw" +
        f" for $ne%d edges (pre-pow2-rounding)")
      time(f"unionFindLocal   ($ne%8d edges)") {
        DupClusters.connectedComponents(verts, edges,
          localMaxEdges = Long.MaxValue).count()
      }
      time(f"unionFindLoop    ($ne%8d edges)") {
        DupClusters.connectedComponents(verts, edges,
          localMaxEdges = 0L).count()
      }
      verts.unpersist(); edges.unpersist()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }

  def main(args: Array[String]): Unit = {
    val probes = Map[String, SparkSession => Unit](
      "uf" -> unionFindProbe, "nd" -> nearDupStreamProbe,
      "ops29" -> ops29Probe)
    val probe = args.headOption.flatMap(probes.get).getOrElse {
      System.err.println(
        s"usage: ScaleProbe ${probes.keys.toSeq.sorted.mkString("|")}")
      sys.exit(2)
    }
    val spark = graft.Session()
    try probe(spark) finally spark.stop()
  }
}
