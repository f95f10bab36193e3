package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev harness: re-measure the q145/q148/q243 learned-coarse recall
  * tables whose FLOORS are asserted by the registered queries (MLlib
  * k-means centroids are not SQL-replayable, so the oracle is a floor,
  * not a pin — this prints the actual per-query hits that SCALE.md
  * documents; q148 vs q243 is the seed-residual vs learned-subspace
  * codebook comparison). Usage:
  * sbt "runMain graft.tools.RecallMeasure [sfDir ...]" */
object RecallMeasure {

  private def randRotHits(spark: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Quantize, Similarity}
    val embs = spark.read.parquet(s"$d/embeddings.parquet")
    val rotM = Similarity.orthogonalMatrix(64, seed = 117L)
    val rot = embs.select(col("vec_id"),
      Similarity.rpProject(col("embedding").cast("array<double>"), rotM)
        .as("rvec"))
    val cb = Quantize.learnedSubCodebooks(rot, col("rvec"),
      m = 8, dim = 64, k = 16, seed = 7L)
    val codes = Quantize.pqEncode(rot, col("vec_id"), col("rvec"), cb,
      m = 8, dim = 64).drop("distortion")
    val qset = rot.filter(col("vec_id") < 10)
    val shortlist = Quantize.pqAdcTopK(codes, qset, "vec_id", "rvec",
      cb, m = 8, dim = 64, k = 200)
    val origQ = embs.filter(col("vec_id") < 10)
    val ann = Quantize.rerankL2(shortlist, embs, origQ, "vec_id",
      "embedding", k = 5)
    val exact = Similarity.bruteForceTopKL2(embs, origQ, "vec_id",
      "embedding", k = 5)
    graft.queries.TestdataQueries.annRecall(exact, ann)
      .select(col("query_id"), col("n_hit").as("hits"))
  }

  /** The COARSE-PROBE CEILING for the q148/q243/q248 serving config:
    * per query, how many of the exact top-5 live in one of the query's
    * nProbe probed lists at all — no shortlist/ADC/rerank stage can
    * recover a neighbor whose list is never read, so this is the
    * recall bound any training improvement under the same probe budget
    * is squeezed against. Uses the EXACT coarse quantizer all three
    * arms share (learnedCoarse on original embeddings, seed 42). */
  private def probeCeilingHits(spark: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Quantize, Similarity}
    val embs = spark.read.parquet(s"$d/embeddings.parquet")
    val coarse = Quantize.learnedCoarse(embs, col("embedding"),
      nLists = 8, seed = 42L)
    val lists = embs.select(col("vec_id").as("neighbor_id"),
      Quantize.ivfListCol(col("embedding"), coarse).as("nlist"))
    val probes = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        graft.functions.PqKernels.nearestListsCol(
          col("embedding").cast("array<double>"), coarse,
          dim = 64, nProbe = 4).as("probes"))
    val exact = Similarity.bruteForceTopKL2(embs,
        embs.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    exact.join(lists, Seq("neighbor_id"))
      .join(broadcast(probes), Seq("query_id"))
      .groupBy(col("query_id"))
      .agg(sum(when(array_contains(col("probes"), col("nlist")), 1L)
        .otherwise(0L)).as("hits"))
      .select(col("query_id"), col("hits"))
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dirs.foreach { d =>
      Seq(
        "q145 ivfpq learned" ->
          graft.queries.TestdataQueries.q145HitsTable(spark, d),
        "q148 ivfadc learned" ->
          graft.queries.TestdataQueries.q148HitsTable(spark, d),
        "q243 learned-pq     " ->
          graft.queries.TestdataQueries.q243HitsTable(spark, d),
        "q247 learned-opq    " ->
          graft.queries.TestdataQueries.q247HitsTable(spark, d),
        "q248 opq-ivf        " ->
          graft.queries.TestdataQueries.q248HitsTable(spark, d),
        // q250: q248's serving composition trained on the FIRST arrival
        // batch only (1/3 prefix) — the train-once streaming regime
        "q250 stream opq-ivf " ->
          graft.queries.TestdataQueries.q250HitsTable(spark, d),
        "probe-ceiling nP=4/8" -> probeCeilingHits(spark, d),
        // the like-for-like comparator for q247: SAME serving config
        // (full ADC shortlist 200 → exact re-rank, 10 queries, k=5,
        // learned subspace codebooks) but the q117-style RANDOM
        // rotation — isolates what LEARNING the rotation buys
        "rand-rot + learned-cb" -> randRotHits(spark, d)
      ).foreach { case (name, hits) =>
        val rows = hits.orderBy("query_id").collect()
          .map(r => s"${r.getLong(0)}->${r.getLong(1)}")
        val total = hits.agg(
          org.apache.spark.sql.functions.sum("hits")).head().getLong(0)
        println(s"[recall] $name $d: ${rows.mkString(" ")}  total=$total/50")
      }
    }
    spark.stop()
  }
}
