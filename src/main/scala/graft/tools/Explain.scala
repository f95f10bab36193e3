package graft.tools

import graft.Harness

/** Final-plan inspection: runs each named registered query (or a default
  * set of the structurally interesting ones) and prints its post-AQE
  * physical plan, with the scan / shuffle / broadcast / reuse node counts
  * of that plan — the numbers plan-shape claims in SURVEY/SCALE cite. A
  * static `explain` hides runtime exchange reuse and join re-planning
  * behind `AdaptiveSparkPlan isFinalPlan=false`; `PushedFilters` still
  * shows on every `FileScan`. The walk is `Harness.planWalk`, the one
  * `Bench` fingerprints. Usage:
  * `sbt "runMain graft.tools.Explain [sfDir] [q1 q2 ...]"` */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq(
      "q1_agg", "q2_join_tree", "q5_priority_dedup", "q19_minhash_lsh",
      "q21_cosine_topk", "omm_snapshot_now", "q41_edit_distance",
      "q42_asof_join", "q45_range_join", "q43_sessionize",
      "q50_pq_encode", "q51_pq_adc_topk", "q55_corpus_curation",
      "q56_kmv_distinct", "q58_heavy_hitters", "q60_token_shards",
      "q61_zorder_key", "q62_decontaminate", "q64_kmv_by_group",
      "q68_bm25_topk", "q70_countmin", "q71_bpe_pairs", "q72_bigram_nll",
      "q73_mix_sample", "q74_pack_examples", "q84_doc_chunks",
      "q85_knn_classify", "q175_pmi_collocations")
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n######## $n ########")
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val nodes = Harness.planWalk(plan).map(_.nodeName)
      def c(s: String) = nodes.count(_.contains(s))
      println(s"[executed] scans=${c("Scan")} " +
        s"shuffles=${c("Exchange") - c("ReusedExchange") - c("Broadcast")} " +
        s"broadcasts=${c("BroadcastExchange")} reused=${c("Reused")}")
      println(Harness.unwrap(plan).toString)
    }
    spark.stop()
  }
}
