package graft

import graft.omm.OmmFixtures
import graft.operators.CacheHygiene

/** Physical-plan regression guards: the optimizations SCALE.md claims are
  * asserted against the actual formatted plans, so a refactor that silently
  * loses a pushdown, a broadcast, or WindowGroupLimit fails CI — not a
  * 100 TB run.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = RegistrySweep.sf

  // r19: every per-query plan string and both registry-wide sweeps come
  // from the ONE shared RegistrySweep pass (see its scaladoc) — the
  // assertions below are unchanged, they just stopped re-instantiating
  // (and re-running) the whole registry per sweep.
  private def plan(name: String): String = RegistrySweep.audit(name).formatted

  test("q1_agg: partial aggregation, single exchange, pruned scan") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"), "map-side combine missing")
    // "(n) Exchange" is the node-detail header — one per physical node
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size == 1,
      "expected exactly 1 exchange")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_returnflag:string,l_linestatus:string>"),
      "column pruning lost")
  }

  test("q2_join_tree: dims broadcast, filters pushed to scans") {
    val p = plan("q2_join_tree")
    assert(p.contains("BroadcastHashJoin"), "broadcast join missing")
    assert(p.contains("GreaterThan(p_size,10)"), "p_size pushdown missing")
    assert(p.contains("GreaterThan(s_acctbal,0.0)"), "s_acctbal pushdown missing")
  }

  test("q5_priority_dedup: map-side rank pruning (WindowGroupLimit)") {
    val p = plan("q5_priority_dedup")
    assert(p.contains("WindowGroupLimit"), "rank-limit pushdown missing")
  }

  test("omm snapshot: per-table filter pushdown + broadcast EAV dims") {
    val p = plan("omm_snapshot_now")
    assert(p.contains("EqualTo(language_code,fi)"), "F1 pushdown missing")
    assert(p.contains("In(Name, [JoreIdentity,JoreRouteIdentity,RouteName])"),
      "F3 pushdown missing")
    assert(p.contains("IsNull(IsReplacedById)"), "F6 pushdown missing")
    assert(p.contains("IsNotNull(IsWorkedOnDirectionOfLineGid)"),
      "F5 pushdown missing")
    assert("(?m)^\\(\\d+\\) BroadcastExchange".r.findAllIn(p).size >= 3,
      "KVT/KT/OT should broadcast")
  }

  test("q19_minhash_lsh: signature aggregation barrier present") {
    val p = plan("q19_minhash_lsh")
    // the signature must be built by an aggregate (min per hash lane), not
    // inlined into band-key projections
    assert(p.contains("partial_min"), "signature aggregation barrier lost")
  }

  test("top-k windows prune map-side (WindowGroupLimit): q14/q21/q22") {
    // the brute-force/ANN top-k scale story depends on rank pruning before
    // the shuffle — each partition forwards only its local top k, not every
    // scored pair (q31 shares q21/q22's window code path). One query per
    // operator that ranks through the shared top-k kernel (operators.TopK).
    Seq("q14_topn", "q21_cosine_topk", "q22_cosine_ivf",
        "q28_media_embed_topk", "q51_pq_adc_topk", "q85_knn_classify",
        "q93_ivfpq_topk", "q94_ivfpq_residual", "q99_sq8_topk",
        "q100_sq8_ivf", "q104_bq_hamming", "q107_rp_topk",
        "q114_hard_negatives", "q134_margin_align",
        "q145_ivfpq_learned_recall").foreach { q =>
      assert(plan(q).contains("WindowGroupLimit"),
        s"$q lost map-side rank pruning")
    }
  }

  test("q41_edit_distance: blocked join, no cartesian product") {
    val p = plan("q41_edit_distance")
    assert(!p.contains("CartesianProduct"), "all-pairs cross join crept back")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "non-equi join crept back into the blocker")
  }

  test("q47_tfidf: per-doc top-k window prunes map-side") {
    assert(plan("q47_tfidf").contains("WindowGroupLimit"),
      "tf-idf top-terms lost rank pruning")
  }

  test("q50_pq_encode: PQ encoding is pure map-side — zero exchanges") {
    val p = plan("q50_pq_encode")
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).isEmpty,
      "PQ encode must not shuffle (codebook is a plan-time literal)")
  }

  test("q50/q51: per-row subvector work is O(m) kernel calls, not m×k") {
    // r18: pqEncode/pqAdcTopK run on the PqKernels codegen'd kernels at
    // every codebook size (the unrolled literal formulation's plan/codegen
    // cost measured 4–11 s of driver wall per instantiation; the kernels
    // are spec-pinned bit-identical). The per-row property to preserve:
    // ONE kernel call per row side — zero runtime slice() blowup, and
    // certainly not one term per (subspace × centroid).
    Seq("q50_pq_encode" -> "pq_encode_k",
        "q51_pq_adc_topk" -> "pq_adc_tables_k").foreach {
      case (q, kernel) =>
        val opt = RegistrySweep.audit(q).optimizedStr
        val slices = "slice\\(".r.findAllIn(opt).size
        assert(opt.contains(kernel), s"$q: expected the $kernel kernel")
        assert(slices == 0, s"$q: expected 0 slice() calls, got $slices")
    }
  }

  test("q58_heavy_hitters: broadcast semi-join recount, map-combined agg") {
    val p = plan("q58_heavy_hitters")
    // the recount pass must keep the corpus scan map-side (candidates are
    // broadcast) and partial-aggregate before its single count shuffle
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "candidate restriction must be a broadcast semi-join")
    assert(p.contains("partial_count"), "recount lost map-side combine")
  }

  test("q59_repetition_stats: bigram aggs map-combine; one doc_id join") {
    val p = plan("q59_repetition_stats")
    assert(p.contains("partial_count") || p.contains("partial_max"),
      "bigram aggregation lost map-side combine")
    // doc-level stats joined back once, on doc_id only
    assert("(?m)^\\(\\d+\\) SortMergeJoin|BroadcastHashJoin".r.findAllIn(p).nonEmpty,
      "expected a single doc_id join")
  }

  test("q62_decontaminate: benchmark set broadcasts; corpus never " +
      "shuffles by shingle") {
    val p = plan("q62_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "benchmark shingle set must broadcast")
    // the only exchanges allowed: benchmark-set distinct (tiny side) and
    // the final per-doc aggregate — the corpus×shingle explode must reach
    // its group-by through map-side combine, not a shingle-keyed shuffle
    assert(p.contains("partial_count"), "per-doc agg lost map-side combine")
  }

  test("q56_kmv_distinct: hashes are k-bounded BEFORE any exchange") {
    // the whole point of the KMV sketch at scale: only partitions×k hash
    // values may enter a shuffle — the subtree below the mapPartitions
    // bounding stage (printed after it, root-first) must be exchange-free
    val p = RegistrySweep.audit("q56_kmv_distinct").executedStr
    val mpIdx = p.indexOf("MapPartitions")
    assert(mpIdx >= 0, "expected a MapPartitions sketch stage")
    assert(!p.substring(mpIdx).contains("Exchange"),
      "raw hashes shuffled before the k-bounding stage")
  }

  test("q64_kmv_by_group: per-group k-bounding before any exchange, " +
      "rank pruned map-side") {
    val p = RegistrySweep.audit("q64_kmv_by_group").executedStr
    val mpIdx = p.indexOf("MapPartitions")
    assert(mpIdx >= 0, "expected a MapPartitions sketch stage")
    assert(!p.substring(mpIdx).contains("Exchange"),
      "raw (group, hash) pairs shuffled before the k-bounding stage")
    assert(p.contains("WindowGroupLimit"),
      "per-group k-min rank lost map-side pruning")
  }

  test("q70_countmin: both corpus scans prune to the text column; the " +
      "counter aggregate map-combines") {
    val p = plan("q70_countmin")
    assert(!p.contains("ReadSchema: struct<doc_id"),
      "documents scan must not read doc_id for the token sketch")
    assert(p.contains("ReadSchema: struct<text:string>"),
      "text-only pruning lost")
    assert(p.contains("partial_count"), "map-side combine missing")
  }

  test("q73_mix_sample: rate table broadcasts; the kept-row filter is " +
      "map-side (corpus never shuffles)") {
    val p = plan("q73_mix_sample")
    assert(p.contains("BroadcastHashJoin"), "rate join must broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle to join")
  }

  test("q77_linear_score: model rides the plan — no join at all, one " +
      "map-combined per-doc aggregate") {
    val p = plan("q77_linear_score")
    assert(!p.contains("Join"), "weights must be plan literals, not a join")
    assert(p.contains("partial_count"), "map-side combine missing")
    assert(p.contains("poly_hash"),
      "bucketing must run through the codegen'd kernel")
  }

  test("q216_source_affinity: ONE reused shuffle exchange, no vector " +
      "column crosses it, scan pruned to (embedding, label)") {
    val p = plan("q216_source_affinity")
    // every shuffle keys on src (the static plan repeats the identical
    // wide-agg exchange 4x; AQE reuses one at runtime — the
    // executed-plan audit in SCALE.md records 1 exchange reused 3x)
    val exchangeBlocks = p.split("(?m)^\\(\\d+\\) ")
      .filter(b => b.startsWith("Exchange"))
    assert(exchangeBlocks.nonEmpty &&
      exchangeBlocks.forall(_.contains("hashpartitioning(src")),
      "every shuffle must key on the source")
    // the wide aggregate's exchange carries long sums, never the array:
    // no Exchange detail block may reference an array-typed column
    assert(exchangeBlocks.forall(!_.contains("array<")),
      "a vector column crossed an exchange")
    assert(p.contains("ReadSchema: struct<embedding:array<float>,label:int>"),
      "scan must prune to (embedding, label)")
  }

  test("q226_rebalance: rate table broadcasts, the keep filter is " +
      "map-side (corpus never shuffles to join)") {
    val p = plan("q226_rebalance")
    assert(p.contains("BroadcastHashJoin"), "rate join must broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle to join")
  }

  test("q236_ab_test: one key-grain exchange, metadata finish") {
    val p = plan("q236_ab_test")
    assert(p.contains("partial_max"), "per-key conversion must map-combine")
    assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian"),
      "abTest must not join at all")
  }

  test("q21_cosine_topk: scoring runs on the codegen'd vector kernel " +
      "inside a broadcast join, top-k prunes map-side") {
    val p = plan("q21_cosine_topk")
    assert(p.contains("vec_dot"), "cosine must use the native kernel")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side must broadcast")
    assert(p.contains("WindowGroupLimit"), "top-k rank lost map-side pruning")
  }

  test("q44/q55 cluster labeling: labels broadcast onto the corpus scan, " +
      "no cartesian anywhere") {
    // the CC local-finish contract: the corpus-sized vertex relation is
    // labeled by ONE broadcast hash join against a driver-built local
    // relation — never shuffled, never nested-loop-joined. q55's
    // REGISTERED query spills and returns a read-back scan (cache
    // hygiene), so its assertions run against the pre-spill pipeline
    // (q55CurationInner) under the same scoped guard the query uses —
    // explaining it executes the CC loop, whose caches must not outlive
    // the test.
    val plans = Seq(
      "q44_dup_clusters" -> plan("q44_dup_clusters"),
      "q55_corpus_curation" ->
        graft.operators.CacheHygiene.withRddCleanup(spark) {
          graft.queries.TestdataQueries.q55CurationInner(spark, sf)
            .queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode)
        })
    plans.foreach { case (q, p) =>
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q grew a nested-loop join")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: cluster labels must broadcast onto the corpus")
      assert(p.contains("LocalTableScan"),
        s"$q: the labeled set should enter as a driver-built local relation")
    }
  }

  test("q242 full curation composition: CC labels broadcast, the only " +
      "nested-loop join is the rebalance T-scalar, no cartesian") {
    // pre-shard stage: the registered query's own plan ends at the
    // shard pass's RDD scan, which would pass these checks vacuously.
    // Unlike q44/q55, one BroadcastNestedLoopJoin is LEGITIMATE here:
    // Mix.rebalanceRates crossJoins the one-row water-level scalar (T)
    // onto the cats-cardinality count table — a bounded broadcast of
    // metadata, the registry-wide documented pattern. Anything beyond
    // that single scalar join is a regression.
    val p = graft.operators.CacheHygiene.withRddCleanup(spark) {
      graft.queries.TestdataQueries.q242CurationKept(spark, sf)
        .queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
    }
    assert(!p.contains("CartesianProduct"), "grew a cartesian product")
    // formatted explain names each node twice (tree + detail header);
    // count the numbered detail headers — one per physical node
    val nNlj = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size
    assert(nNlj <= 1, s"expected at most the T-scalar nested-loop join, got $nNlj")
    assert(p.contains("BroadcastHashJoin"),
      "cluster labels / rate table must broadcast onto the corpus")
    assert(p.contains("LocalTableScan"),
      "the CC label set should enter as a driver-built local relation")
  }

  test("q248 OPQ×IVF serving: the codes scan is DYNAMICALLY partition-" +
      "pruned (DPP) — unprobed lists are never read, probe side broadcast") {
    // the registered query serves from a list_id-hive-partitioned codes
    // index (ingest layout == serving layout); the broadcast probe join
    // on the partition column must put a dynamicpruning expression in
    // the scan's PartitionFilters, so at 100 TB the nProbe/nLists scan
    // cut is I/O pruning, not post-scan filtering (the ops10 witness,
    // now pinned)
    val p = plan("q248_opq_ivf_recall")
    assert(p.contains("dynamicpruning"),
      "codes scan lost dynamic partition pruning")
    assert(p.contains("PartitionFilters"),
      "codes must be read through a partitioned scan")
    assert(p.contains("BroadcastHashJoin"),
      "probe tables must broadcast into the codes scan")
    assert(!p.contains("CartesianProduct"), "grew a cartesian product")
  }

  /** Registry-wide structural sweep. Two permanent invariants over EVERY
    * registered query's physical plan (the returned DataFrame; internal
    * jobs of imperative sims are covered by their own specs, e.g. the q57
    * listener test below):
    *
    *  1. no CartesianProduct — an all-pairs join is never acceptable in a
    *     100 TB engine;
    *  2. no WindowExec/WindowGroupLimitExec with an EMPTY partition spec,
    *     unless the query is whitelisted with a proof that the window's
    *     input is bounded by construction (≤ k rows regardless of corpus
    *     size). An unpartitioned window demands AllTuples — every row
    *     through ONE task — which is exactly how the round-7
    *     quantile-sketch merge (partitions × k rows through a global
    *     row_number) became a scale-killer in an otherwise k-bounded
    *     operator. This sweep makes that class of regression impossible
    *     to reintroduce silently.
    */
  // EMPTY by design: every input-bounded global rank in the repo now
  // carries a NON-FOLDABLE constant partition key —
  // Window.partitionBy(pmod(<non-null col>, lit(1))), the form
  // Sketch.quantilesFromSample uses — which is physically identical for
  // its ≤ k-row input but makes the partition spec explicit. A foldable
  // literal key (lit(0)) would NOT work: Catalyst's
  // EliminateWindowPartitions strips foldable keys back to the empty spec
  // this sweep bans. The whitelist mechanism stays: a future operator with
  // a PROVEN input-bounded window that cannot take the constant-key form
  // must be listed here with the proof, not silently exempted.
  private val boundedGlobalWindowOk: Map[String, String] = Map.empty

  test("registry sweep: no cartesian product, no unbounded " +
      "single-partition window, in ANY query's plan") {
    // node walk + offender classification live in RegistrySweep (the one
    // shared pass); the whitelist stays here, applied at assertion time
    val offenders = RegistrySweep.result.audits.toSeq.sortBy(_._1).flatMap {
      case (name, a) =>
        a.error.map(e => s"$name: FAILED ($e)").toSeq ++
          (if (boundedGlobalWindowOk.contains(name)) Nil
           else a.structuralOffenders.map(o => s"$name: $o"))
    }
    assert(offenders.isEmpty, offenders.distinct.mkString("; "))
  }

  test("registry sweep: no query leaves new persistent RDDs behind") {
    // Session cache hygiene, registry-wide: EXECUTE every registered query
    // (write to scratch parquet — the same consumption Verify performs)
    // and assert the persistent-RDD set is unchanged. A query may cache
    // internally (q55's corpus persist, the BPE/CC loops) but must scope
    // and release — or decouple its result — before returning; otherwise a
    // long-lived session accumulates pinned blocks per call. The round-8
    // DupClusters leak was caught two suites away by an unrelated Vocab
    // assertion; this sweep names the offender at the offending query
    // (RegistrySweep attributes serially when its global diff is dirty).
    val failed = RegistrySweep.result.audits.toSeq.sortBy(_._1)
      .collect { case (n, a) if a.error.nonEmpty => s"$n: ${a.error.get}" }
    assert(failed.isEmpty, s"queries failed to execute: ${failed.mkString("; ")}")
    assert(RegistrySweep.result.leakOffenders.isEmpty,
      "queries left persistent RDDs behind: " +
        RegistrySweep.result.leakOffenders.mkString("; "))
  }

  test("q57 streaming ingest: equi-join index probe, broadcast candidate " +
      "restriction, no cartesian in any batch plan") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      import spark.implicits._
      val base = CacheHygiene.tempDir("ndplan")
      val fam = Seq(
        1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        2L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa x",
        3L -> "unrelated words entirely different content for this one doc")
      graft.streaming.NearDupStream.ingestBatch(spark,
        fam.take(1).toDF("id", "text"), s"$base/state", s"$base/sink",
        3, 8, 2, 0.6)
      // second batch probes the accumulated index with the candidate
      // restriction forced ON (the corpus ≫ batch shape)
      graft.streaming.NearDupStream.ingestBatch(spark,
        fam.drop(1).toDF("id", "text"), s"$base/state", s"$base/sink",
        3, 8, 2, 0.6, semiJoinCorpusRatio = 0L)
      // QueryExecutionListener delivery is async — poll briefly
      val deadline = System.nanoTime() + 10_000_000_000L
      def snap() = { import scala.jdk.CollectionConverters._; plans.asScala.toVector }
      while (System.nanoTime() < deadline &&
        !snap().exists(p => p.contains("BroadcastHashJoin") &&
          p.contains("LeftSemi"))) Thread.sleep(100)
      val all = snap()
      assert(all.nonEmpty, "no batch plans captured")
      assert(!all.exists(_.contains("CartesianProduct")),
        "a streaming batch plan grew a cartesian product")
      assert(all.exists(p => p.contains("BroadcastHashJoin") &&
        p.contains("LeftSemi")),
        "candidate restriction must be a broadcast semi-join")
    } finally spark.listenerManager.unregister(listener)
  }

  test("q134 margin align (sharded): NEITHER embedding side is broadcast " +
      "— not even by AQE at runtime") {
    // The sharded block-nested-loop plan exists precisely because at
    // mining scale neither embedding set fits a broadcast. The static
    // plan avoids broadcast by construction, but AQE re-plans shuffled
    // joins at runtime and would happily broadcast a "small" replicated
    // embedding side at fixture scale — masking a regression the 100 TB
    // run would hit. So: EXECUTE the query, then sweep the FINAL
    // adaptive plan (materialized query stages included) for any
    // broadcast whose output carries a vector column.
    OmmFixtures.ensure(spark)
    val df = SparkEntry.queries("q134_margin_align")(spark, sf)
    df.collect() // settle AQE to its final physical plan
    def finalNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val inner = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          finalNodes(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          finalNodes(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          finalNodes(r.child)
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          finalNodes(im.relation.cachedPlan)
        case _ => Seq.empty
      }
      (p +: inner) ++ p.children.flatMap(finalNodes) ++
        p.subqueries.flatMap(finalNodes)
    }
    val offenders = finalNodes(df.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
          if b.output.exists(_.dataType
            .isInstanceOf[org.apache.spark.sql.types.ArrayType]) =>
        s"BroadcastExchange of [${b.output.map(_.name).mkString(",")}]"
    }
    assert(offenders.isEmpty,
      s"an embedding side was broadcast: ${offenders.distinct.mkString("; ")}")
  }
}
