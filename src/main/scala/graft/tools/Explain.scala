package graft.tools

/** Physical-plan inspection: prints `explain("formatted")` for the named
  * registered queries (or a default set of the structurally interesting
  * ones). Usage: sbt "runMain graft.tools.Explain [sfDir] [q1 q2 ...]"
  */
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
      "q85_knn_classify")
    val spark = graft.Session()
    names.foreach { n =>
      println(s"\n######## $n ########")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
