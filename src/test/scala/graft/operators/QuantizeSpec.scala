package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** Hand-computable PQ golden case: 4-dim vectors, 2 subspaces of 2 dims,
  * 2 seed centroids — codes and distortions verifiable on paper. */
class QuantizeSpec extends SparkSpec {
  import spark.implicits._

  // seed rows 0 and 1 are the codebook (code 0 → row 0, code 1 → row 1)
  private lazy val vecs = Seq(
    (0L, Seq(0.0, 0.0, 10.0, 10.0)),
    (1L, Seq(4.0, 4.0, 20.0, 20.0)),
    // sub1=(1,1): closer to (0,0) → code 0, dist 2; sub2=(19,19): closer
    // to (20,20) → code 1, dist 2 → distortion 4
    (2L, Seq(1.0, 1.0, 19.0, 19.0)),
    // equidistant in sub1 ((2,2): both dist 8) → tie broken to code 0;
    // sub2=(15,15): dist 50 both → tie → code 0
    (3L, Seq(2.0, 2.0, 15.0, 15.0))
  ).toDF("vec_id", "embedding")

  private lazy val cb = Quantize.seedCodebook(vecs, col("vec_id"),
    col("embedding"), Seq(0L, 1L))

  test("codes and distortion match the hand computation") {
    val out = Quantize.pqEncode(vecs, col("vec_id"), col("embedding"),
        cb, m = 2, dim = 4)
      .select($"id", $"c0", $"c1", $"distortion")
      .as[(Long, Int, Int, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(0L) === ((0L, 0, 0, 0.0)), "seed row encodes to itself")
    assert(out(1L) === ((1L, 1, 1, 0.0)), "seed row encodes to itself")
    assert(out(2L) === ((2L, 0, 1, 4.0)))
    assert(out(3L) === ((3L, 0, 0, 58.0)), "ties resolve to the lower code")
  }

  test("ADC distance equals the sum of per-subspace exact distances to " +
    "the assigned centroids") {
    val codes = Quantize.pqEncode(vecs, col("vec_id"), col("embedding"),
      cb, m = 2, dim = 4).drop("distortion")
    val adc = Quantize.pqAdcTopK(codes, vecs.filter($"vec_id" === 2L),
        "vec_id", "embedding", cb, m = 2, dim = 4, k = 3)
      .select($"neighbor_id", $"adc_dist").as[(Long, Double)].collect().toMap
    // query (1,1,19,19) vs row 3's codes (0,0) → centroids ((0,0),(10,10)):
    // (1+1) + (81+81) = 164
    assert(adc(3L) === 164.0)
    // vs row 1's codes (1,1) → centroids ((4,4),(20,20)): (9+9)+(1+1) = 20
    assert(adc(1L) === 20.0)
  }

  test("misconfigured subspaces fail loudly") {
    intercept[IllegalArgumentException] {
      Quantize.pqEncode(vecs, col("vec_id"), col("embedding"), cb,
        m = 3, dim = 4)
    }
    intercept[IllegalArgumentException] {
      Quantize.seedCodebook(vecs, col("vec_id"), col("embedding"),
        Seq(0L, 999L))
    }
  }

  // ------------------------------------------------- IVF-PQ (IVFADC)

  private def codesWithList(
      embs: org.apache.spark.sql.DataFrame,
      pq: Seq[(Int, Seq[Double])], coarse: Seq[(Int, Seq[Double])],
      m: Int, dim: Int): org.apache.spark.sql.DataFrame =
    Quantize.pqEncode(embs, col("vec_id"), col("embedding"), pq, m, dim,
        keep = Seq(Quantize.ivfListCol(col("embedding"), coarse)
          .as("list_id")))
      .drop("distortion")

  test("ivfPqTopK golden: nProbe=1 scans only the query's nearest list") {
    // coarse = rows 0/1 full-dim. Query row 2 → list 1 (dist 20 vs 164);
    // corpus assignment: 0→l0, 1→l1, 2→l1, 3→tie(58,58)→l0. So the only
    // candidate is row 1, at ADC 20 (verified in the pqAdcTopK test).
    val out = Quantize.ivfPqTopK(codesWithList(vecs, cb, cb, 2, 4),
        vecs.filter($"vec_id" === 2L), "vec_id", "embedding",
        cb, cb, m = 2, dim = 4, nProbe = 1, k = 3)
      .select($"query_id", $"rank", $"neighbor_id", $"adc_dist")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(out === Seq((2L, 1, 1L, 20.0)))
  }

  test("ivfPqTopK at nProbe = nLists is row-identical to the full ADC scan") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pq = Quantize.seedCodebook(embs, col("vec_id"), col("embedding"),
      10L to 25L)
    val coarse = Quantize.seedCodebook(embs, col("vec_id"), col("embedding"),
      30L to 37L)
    val queries = embs.filter($"vec_id" < 5)
    val ivf = Quantize.ivfPqTopK(codesWithList(embs, pq, coarse, 8, 64),
        queries, "vec_id", "embedding", coarse, pq, m = 8, dim = 64,
        nProbe = coarse.size, k = 3)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val full = Quantize.pqAdcTopK(
        Quantize.pqEncode(embs, col("vec_id"), col("embedding"), pq, 8, 64)
          .drop("distortion"),
        queries, "vec_id", "embedding", pq, m = 8, dim = 64, k = 3)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(ivf.nonEmpty && ivf === full)
  }

  test("residual codebook: seed rows encode to their own code, distortion 0") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val coarse = Quantize.seedCodebook(embs, col("vec_id"), col("embedding"),
      30L to 37L)
    val rb = Quantize.residualSeedCodebook(embs, col("vec_id"),
      col("embedding"), 10L to 25L, coarse)
    val out = Quantize.pqEncode(
        embs.filter($"vec_id".between(10, 25)), col("vec_id"),
        Quantize.ivfResidualCol(col("embedding"), coarse),
        rb, 8, 64)
      .select($"id", $"c0", $"distortion")
      .as[(Long, Int, Double)].collect()
    assert(out.length === 16)
    // seed row 10+c has residual == rb entry c → every subspace picks
    // code c at distance 0 (any other entry at 0 would tie-break lower,
    // so equality also proves the residuals are pairwise distinct)
    out.foreach { case (id, c0, distortion) =>
      assert(c0 === (id - 10).toInt, s"seed row $id code")
      assert(distortion === 0.0, s"seed row $id distortion")
    }
  }

  test("ivfPqResidualTopK ranks by exact residual-reconstruction ADC " +
    "and scans only probed lists") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val coarse = Quantize.seedCodebook(embs, col("vec_id"), col("embedding"),
      30L to 37L)
    val rb = Quantize.residualSeedCodebook(embs, col("vec_id"),
      col("embedding"), 10L to 25L, coarse)
    val listC = Quantize.ivfListCol(col("embedding"), coarse)
    val codes = Quantize.pqEncode(embs, col("vec_id"),
        Quantize.ivfResidualCol(col("embedding"), coarse),
        rb, 8, 64, keep = Seq(listC.as("list_id")))
      .drop("distortion")
    val out = Quantize.ivfPqResidualTopK(codes, embs.filter($"vec_id" < 5),
      "vec_id", "embedding", coarse, rb, 8, 64, nProbe = 2, k = 3)
    val rows = out.collect()
    assert(rows.length === 15, "5 queries × k=3")
    // every neighbor must come from one of its query's 2 probed lists
    val assign = Quantize.ivfAssign(embs, col("vec_id"), col("embedding"),
      coarse).as[(Long, Int)].collect().toMap
    val qv = embs.filter($"vec_id" < 5)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    val byList = coarse.toMap
    def probes(v: Seq[Double]): Set[Int] =
      coarse.map { case (l, cv) =>
        (l, v.lazyZip(cv).map { (a, b) => val d = a - b; d * d }.sum)
      }.sortBy { case (l, d) => (d, l) }.take(2).map(_._1).toSet
    rows.foreach { r =>
      val q = r.getLong(0); val n = r.getLong(2)
      assert(probes(qv(q)).contains(assign(n)),
        s"neighbor $n of query $q is outside the probed lists")
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      plan.contains("BroadcastHashJoin"), s"plan shape:\n$plan")
  }

  // ------------------------- literal ≡ kernel (PqKernels) equivalence
  // The same codebook drives both formulations; results must be
  // bit-identical (same fold order, same tiebreaks). q95's oracle
  // certifies the composed kernel path; these pin each kernel alone.

  test("kernel encode is bit-identical to the literal pqEncode") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pq = Quantize.seedCodebook(embs, col("vec_id"), col("embedding"),
      10L to 25L)
    // r18: pqEncode always takes the kernel, so the literal reference
    // formulation (staged slices + per-subspace argmin over literal
    // centroid structs — the pre-r18 production path) is built here
    // explicitly, keeping this a genuine two-formulation parity test.
    val lit16 = {
      val m = 8; val sub = 8
      val v = col("embedding").cast("array<double>")
      val staged = embs.select((col("vec_id").as("id") +:
        (0 until m).map(j => slice(v, j * sub + 1, sub).as(s"__s$j"))): _*)
      val perSubspace = (0 until m).map { j =>
        val cands = pq.map { case (code, cv) =>
          struct(graft.functions.VectorExprs.l2sq(col(s"__s$j"),
              array(cv.slice(j * sub, (j + 1) * sub).map(lit): _*))
              .as("dist"),
            lit(code).as("code"))
        }
        array_min(array(cands: _*)).as(s"__m$j")
      }
      val encoded = staged.select((col("id") +: perSubspace): _*)
      val codeCols = (0 until m).map(j => col(s"__m$j.code").as(s"c$j"))
      val mse = (0 until m).map(j => col(s"__m$j.dist")).reduce(_ + _)
      encoded.select((col("id") +: codeCols :+
          round(mse, 6).as("distortion")): _*)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    }
    val kern = embs.select(col("vec_id").as("id"),
        graft.functions.PqKernels.encodeCol(col("embedding"), pq, 8, 8)
          .as("__e"))
      .select((col("id") +:
        (0 until 8).map(j => element_at(col("__e.codes"), j + 1)
          .as(s"c$j")) :+
        round(col("__e.distortion"), 6).as("distortion")): _*)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(kern.nonEmpty && kern === lit16)
  }

  test("kernel probe ranking and residual match the literal forms") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val coarse = Quantize.seedCodebook(embs, col("vec_id"), col("embedding"),
      30L to 37L)
    // nearestLists(nProbe=8) == full literal (dist, list) sort order
    val litOrder = {
      val cands = coarse.map { case (l, cv) =>
        struct(graft.functions.VectorExprs
          .l2sq(col("embedding").cast("array<double>"),
            array(cv.map(lit): _*)).as("dist"),
          lit(l).as("list"))
      }
      embs.select(col("vec_id"),
        transform(array_sort(array(cands: _*)), s => s.getField("list"))
          .as("order"))
    }.as[(Long, Seq[Int])].collect().toMap
    val kernOrder = embs.select(col("vec_id"),
        graft.functions.PqKernels.nearestListsCol(col("embedding"), coarse,
          64, 8).as("order"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(kernOrder.nonEmpty && kernOrder === litOrder)
    // kernel residual == literal matrix-lookup residual
    val litRes = embs.select(col("vec_id"),
        Quantize.ivfResidualCol(col("embedding"), coarse).as("r"))
      .as[(Long, Seq[Double])].collect().toMap
    val kernRes = embs.select(col("vec_id"),
        graft.functions.PqKernels.residualCol(col("embedding"), coarse, 64)
          .as("r"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(kernRes.nonEmpty && kernRes === litRes)
  }

  test("kernel ADC tables reproduce the literal per-code distances") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pq = Quantize.seedCodebook(embs, col("vec_id"), col("embedding"),
      10L to 25L)
    val sub = 8
    val litTables = {
      val v = col("embedding").cast("array<double>")
      val ts = (0 until 8).map { j =>
        array(pq.sortBy(_._1).map { case (_, cv) =>
          graft.functions.VectorExprs.l2sq(
            slice(v, j * sub + 1, sub),
            array(cv.slice(j * sub, (j + 1) * sub).map(lit): _*))
        }: _*)
      }
      embs.select(col("vec_id"), array(ts: _*).as("t"))
    }.as[(Long, Seq[Seq[Double]])].collect().toMap
    val kernTables = embs.select(col("vec_id"),
        graft.functions.PqKernels.adcTablesCol(col("embedding"), pq, 8, sub)
          .as("t"))
      .as[(Long, Seq[Seq[Double]])].collect().toMap
    assert(kernTables.nonEmpty && kernTables === litTables)
  }

  test("ivfPqTopK plan: broadcast equi-join on list_id, no cartesian") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pq = Quantize.seedCodebook(embs, col("vec_id"), col("embedding"),
      10L to 25L)
    val coarse = Quantize.seedCodebook(embs, col("vec_id"), col("embedding"),
      30L to 37L)
    val plan = Quantize.ivfPqTopK(codesWithList(embs, pq, coarse, 8, 64),
        embs.filter($"vec_id" < 5), "vec_id", "embedding",
        coarse, pq, m = 8, dim = 64, nProbe = 2, k = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"IVF probe must be an equi-join, not a cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("list_id"),
      s"expected a broadcast hash join keyed on list_id:\n$plan")
  }

  // ------------------------------------------------------- SQ8

  test("sq8Encode: max-abs scale and half-away-from-zero codes") {
    val rows = Quantize.sq8Encode(
        Seq((1L, Seq(1.0f, -0.5f, 0.25f)), (2L, Seq(0.0f, 0.0f, 0.0f)))
          .toDF("vec_id", "embedding"),
        col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getSeq[Int](2))).toMap
    // s = 1/127; codes = round(x·127): -0.5·127 = -63.5 → -64 (away from
    // zero), 0.25·127 = 31.75 → 32
    assert(rows(1L)._1 === 1.0 / 127)
    assert(rows(1L)._2 === Seq(127, -64, 32))
    // all-zero vector: scale floors at 1.0, encode stays total
    assert(rows(2L) === ((1.0, Seq(0, 0, 0))))
  }

  test("sq8 scale expression is staged once, not inlined per element") {
    // a non-literal source: a local Seq constant-folds to a LocalRelation
    // and the projection under test disappears from the optimized plan
    val plan = Quantize.sq8Encode(
        spark.range(2).select(col("id").as("vec_id"),
          array(col("id").cast("float"), lit(2.0f)).as("embedding")),
        col("vec_id"), col("embedding"))
      .queryExecution.optimizedPlan.toString
    // if CollapseProject inlined the scale into the codes lambda, the
    // array_max would re-evaluate per element — O(dim²) per row
    assert("array_max".r.findAllIn(plan).size === 1,
      s"scale must be computed once per row:\n$plan")
  }

  test("sq8TopK ranks by the dequantized dot product, excluding self") {
    // corpus values are exact multiples of their scale → quantization is
    // lossless and the approximate score equals the true dot product
    val embs = Seq(
      (0L, Seq(127.0f, 0.0f)),   // query
      (1L, Seq(127.0f, 127.0f)), // dot 16129
      (2L, Seq(254.0f, 0.0f)),   // dot 32258
      (3L, Seq(0.0f, 127.0f)),   // dot 0
      (4L, Seq(-127.0f, 0.0f))   // dot -16129
    ).toDF("vec_id", "embedding")
    val out = Quantize.sq8TopK(embs, embs.filter($"vec_id" === 0),
        "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.toSeq === Seq((1, 2L, 32258.0), (2, 1L, 16129.0),
      (3, 3L, 0.0)))
  }

  test("sq8IvfTopK at nProbe = nLists is row-identical to the full scan") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val coarse = Quantize.seedCodebook(embs, col("vec_id"), col("embedding"),
      30L to 37L)
    val full = Quantize.sq8TopK(embs, embs.filter($"vec_id" < 5),
      "vec_id", "embedding", k = 3).collect().toSet
    val ivf = Quantize.sq8IvfTopK(embs, embs.filter($"vec_id" < 5),
      "vec_id", "embedding", coarse, nProbe = coarse.size, k = 3)
      .collect().toSet
    assert(ivf === full) // probing every list loses nothing
  }

  test("sq8IvfTopK plans a broadcast equi-join on list_id, no cartesian") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val coarse = Quantize.seedCodebook(embs, col("vec_id"), col("embedding"),
      30L to 37L)
    val plan = Quantize.sq8IvfTopK(embs, embs.filter($"vec_id" < 5),
        "vec_id", "embedding", coarse, nProbe = 2, k = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"IVF probe must be an equi-join, not a cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("list_id"),
      s"expected a broadcast hash join keyed on list_id:\n$plan")
  }

  test("sq8TopK plans a broadcast probe with map-side rank pruning") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val plan = Quantize.sq8TopK(embs, embs.filter($"vec_id" < 5),
        "vec_id", "embedding", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"top-k rank must prune map-side:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"query probe must broadcast, not cartesian:\n$plan")
  }

  // ------------------------------------------------- binary quantization

  test("bqEncode packs sign bits low-to-high, 32 per word, zeros excluded") {
    // dim 34 → 2 words; positives at dims 1, 3 (word 0, bits 0 and 2)
    // and dim 33 (word 1, bit 0); zero and negatives contribute nothing
    val v = Seq.tabulate(34) {
      case 0 => 1.0; case 2 => 0.5; case 32 => 2.0
      case 1 => 0.0; case i => -1.0 * i
    }
    val out = Seq(Tuple1(v)).toDF("v")
      .select(Quantize.bqEncode(col("v"), 34).as("sig"))
      .as[Seq[Long]].head()
    assert(out === Seq(5L, 1L)) // bits {0,2} = 5, bit {0} = 1
  }

  test("bqHamming equals the count of sign-disagreeing dimensions") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(20)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val pairs = embs.select($"vec_id".as("a"), $"v".as("va"))
      .crossJoin(embs.select($"vec_id".as("b"), $"v".as("vb")))
      .withColumn("h", Quantize.bqHamming(
        Quantize.bqEncode($"va", 64), Quantize.bqEncode($"vb", 64), 2))
      .select($"a", $"b", $"h", $"va", $"vb")
      .as[(Long, Long, Long, Seq[Double], Seq[Double])].collect()
    pairs.foreach { case (a, b, h, va, vb) =>
      val naive = va.zip(vb).count { case (x, y) => (x > 0) != (y > 0) }
      assert(h === naive, s"pair ($a,$b)")
    }
  }

  test("bqTopK with a full-corpus rerank window equals exact brute force") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = embs.count().toInt
    val exact = Similarity.bruteForceTopK(embs,
        embs.filter($"vec_id" < 5), "vec_id", "embedding", k = 3)
      .collect().toSet
    val bq = Quantize.bqTopK(embs, embs.filter($"vec_id" < 5),
        "vec_id", "embedding", dim = 64, k = 3, rerank = n)
      .drop("hamming").collect().toSet
    assert(bq === exact) // a rerank window covering everything loses nothing
  }

  test("bqTopK plan: both passes broadcast, rank prunes map-side, " +
    "no cartesian") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val plan = Quantize.bqTopK(embs, embs.filter($"vec_id" < 5),
        "vec_id", "embedding", dim = 64, k = 3, rerank = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"both corpus passes must broadcast the small side:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"hamming candidate rank must prune map-side:\n$plan")
  }

  test("rerankL2 over an everything-shortlist equals bruteForceTopKL2") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qset = embs.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopKL2(embs, qset,
      "vec_id", "embedding", k = 3)
    // shortlist = ALL (query, candidate) pairs → the rerank IS the
    // exact scan; any divergence is a rerank bug, not shortlist loss
    val all = embs.select($"vec_id".as("neighbor_id"))
      .crossJoin(qset.select($"vec_id".as("query_id")))
      .filter($"query_id" =!= $"neighbor_id")
    val rer = Quantize.rerankL2(all, embs, qset, "vec_id", "embedding", k = 3)
    assert(rer.collect().toSet === exact.collect().toSet)
  }

  test("rerankL2 plan: shortlist and queries broadcast into the corpus " +
      "scan — no corpus shuffle, no cartesian") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qset = embs.filter($"vec_id" < 5)
    val shortlist = Quantize.sq8TopK(embs, qset, "vec_id", "embedding", k = 10)
    val plan = Quantize.rerankL2(shortlist, embs, qset,
        "vec_id", "embedding", k = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate fetch must broadcast the metadata side:\n$plan")
  }

  test("learnedCoarse: nLists centroids in seedCodebook's literal form, " +
      "drop-in at every coarse parameter") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val coarse = Quantize.learnedCoarse(embs, col("embedding"),
      nLists = 4, seed = 7L)
    assert(coarse.map(_._1) === (0 until 4))
    assert(coarse.forall(_._2.size === 64), "centroid dim must match data")
    // drop-in: assignment covers the corpus, every list id in range, and
    // k-means list populations avoid total collapse (no empty corpus side)
    val assigned = Quantize.ivfAssign(embs, col("vec_id"),
      col("embedding"), coarse)
    val byList = assigned.groupBy("list_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byList.keySet.subsetOf((0 until 4).toSet))
    assert(byList.values.sum === embs.count())
    // determinism: the fixed seed pins the centroids
    val again = Quantize.learnedCoarse(embs, col("embedding"),
      nLists = 4, seed = 7L)
    assert(again === coarse)
  }

  test("learnedSubCodebooks: k-means subspace codebook recovers planted " +
    "clusters, beats the seed codebook's distortion, deterministic") {
    // two tight planted clusters PER SUBSPACE: sub1 around (0,0)/(100,100),
    // sub2 around (50,50)/(-50,-50) — k-means with k=2 must land one
    // centroid in each ball, so every row encodes within its ball's
    // radius and total distortion is far below the seed codebook built
    // from rows 0 and 1 (both from the SAME balls — the other balls
    // quantize to a distant centroid under it)
    val pts = (0 until 40).map { i =>
      val b1 = if (i % 2 == 0) 0.0 else 100.0
      val b2 = if (i % 4 < 2) 50.0 else -50.0
      (i.toLong, Seq(b1 + (i % 5) * 0.1, b1 + (i % 7) * 0.1,
        b2 + (i % 3) * 0.1, b2 + (i % 11) * 0.1))
    }
    val df = pts.toDF("vec_id", "embedding")
    val learned = Quantize.learnedSubCodebooks(df, col("embedding"),
      m = 2, dim = 4, k = 2, seed = 3L, maxTrainRows = 1000)
    assert(learned.size === 2)
    assert(learned.forall(_._2.size === 4))
    def totalDistortion(cb: Seq[(Int, Seq[Double])]): Double =
      Quantize.pqEncode(df, col("vec_id"), col("embedding"), cb,
          m = 2, dim = 4)
        .agg(sum(col("distortion"))).head().getDouble(0)
    val dl = totalDistortion(learned)
    val ds = totalDistortion(Quantize.seedCodebook(df, col("vec_id"),
      col("embedding"), Seq(0L, 1L)))
    // every planted ball has radius < 1.2; a recovered codebook keeps
    // per-row distortion < 4, while the seed codebook strands half of
    // sub2's rows ~100 units from both centroids
    assert(dl < 40 * 4.0, s"learned distortion $dl not within ball radii")
    assert(dl < ds / 100,
      s"learned $dl should be orders below seed $ds on planted clusters")
    val again = Quantize.learnedSubCodebooks(df, col("embedding"),
      m = 2, dim = 4, k = 2, seed = 3L, maxTrainRows = 1000)
    assert(again === learned, "fixed seed must pin the codebook")
  }

  test("learnedSubCodebooks: bit-identical across partitionings and " +
    "row orders (hash-ordered one-pass sample), bounded by maxTrainRows") {
    val pts = (0 until 60).map { i =>
      val b1 = if (i % 2 == 0) 0.0 else 100.0
      val b2 = if (i % 4 < 2) 50.0 else -50.0
      (i.toLong, Seq(b1 + (i % 5) * 0.1, b1 + (i % 7) * 0.1,
        b2 + (i % 3) * 0.1, b2 + (i % 11) * 0.1))
    }
    val df = pts.toDF("vec_id", "embedding")
    val base = Quantize.learnedSubCodebooks(df, col("embedding"),
      m = 2, dim = 4, k = 2, seed = 3L)
    // any repartitioning — including a skewed single partition and a
    // reversed row order — must return the SAME sample in the SAME
    // order, hence the same codebook bit-for-bit
    val layouts = Seq(
      df.repartition(7),
      df.repartition(1),
      df.orderBy(col("vec_id").desc),
      df.repartition(13, col("vec_id")))
    layouts.zipWithIndex.foreach { case (alt, i) =>
      val cb = Quantize.learnedSubCodebooks(alt, col("embedding"),
        m = 2, dim = 4, k = 2, seed = 3L)
      assert(cb === base, s"layout $i changed the learned codebook")
    }
    // maxTrainRows bounds the sample: a cap below n still trains (on
    // the hash-lowest rows) and stays deterministic
    val capped = Quantize.learnedSubCodebooks(df, col("embedding"),
      m = 2, dim = 4, k = 2, seed = 3L, maxTrainRows = 16)
    val capped2 = Quantize.learnedSubCodebooks(df.repartition(5),
      col("embedding"), m = 2, dim = 4, k = 2, seed = 3L,
      maxTrainRows = 16)
    assert(capped === capped2, "capped sample must be partition-invariant")
    assert(capped.size === 2 && capped.forall(_._2.size === 4))
  }

  test("learnedOpq: orthogonal rotation, deterministic, redistributes " +
    "factors that crowd one subspace under axis-aligned PQ") {
    // the textbook OPQ win (eigenvalue allocation): BOTH independent
    // 4-level factors live in subspace 1's dims (0, 1) while subspace 2
    // carries only jitter — axis-aligned k=4 must cover 16 (f0, f1)
    // combos with 4 codes (it clusters by the 30-spaced f0 and eats
    // f1's variance as error), while OPQ's allocation moves one factor
    // axis into the idle subspace, giving each subspace exactly 4
    // levels and near-jitter distortion
    val pts = (0 until 64).map { i =>
      val f0 = (i % 4) * 30.0 + (i % 3) * 0.01
      val f1 = ((i / 4) % 4) * 10.0 + (i % 5) * 0.01
      (i.toLong, Seq(f0, f1, (i % 7) * 0.01, (i % 11) * 0.01))
    }
    val df = pts.toDF("vec_id", "embedding")
    val (rot, cb) = Quantize.learnedOpq(df, col("embedding"),
      m = 2, dim = 4, k = 4, seed = 5L, iters = 6, maxTrainRows = 1000)
    // orthogonality: R·Rᵀ = I to numerical precision
    for (i <- 0 until 4; j <- 0 until 4) {
      val dotij = (0 until 4).map(t => rot(i)(t) * rot(j)(t)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dotij - want) < 1e-9, s"R·Rᵀ[$i][$j] = $dotij")
    }
    def distortion(rotM: Seq[Seq[Double]],
                   book: Seq[(Int, Seq[Double])]): Double = {
      val r = df.select(col("vec_id"), graft.operators.Similarity
        .rpProject(col("embedding").cast("array<double>"), rotM)
        .as("rv"))
      Quantize.pqEncode(r, col("vec_id"), col("rv"), book, m = 2, dim = 4)
        .agg(sum(col("distortion"))).head().getDouble(0)
    }
    val idRot = (0 until 4).map(i => (0 until 4).map(j =>
      if (i == j) 1.0 else 0.0))
    val axisCb = Quantize.learnedSubCodebooks(df, col("embedding"),
      m = 2, dim = 4, k = 4, seed = 5L, maxTrainRows = 1000)
    val dOpq = distortion(rot, cb)
    val dAxis = distortion(idRot, axisCb)
    // jitter is < 0.11 per dim; the crowded layout forces axis-aligned
    // error on f1's 10-unit level spacing (~125/row over 64 rows)
    assert(dOpq < dAxis / 10,
      s"OPQ distortion $dOpq should be far below axis-aligned $dAxis")
    val (rot2, cb2) = Quantize.learnedOpq(df, col("embedding"),
      m = 2, dim = 4, k = 4, seed = 5L, iters = 6, maxTrainRows = 1000)
    assert(rot2 === rot && cb2 === cb, "fixed seed must pin the pair")
  }

  test("ivfProbesCol ranks the nProbe nearest lists (ties on list id) " +
    "and the literal and kernel formulations agree") {
    // r18: ivfProbesCol always takes the kernel (maxLiteralCodes = 0),
    // so the literal side of the parity check is constructed explicitly
    // here — the same array_sort-over-literal-structs formulation the
    // production path used before r18.
    def literalProbes(coarse: Seq[(Int, Seq[Double])], nProbe: Int) = {
      val v = col("embedding").cast("array<double>")
      val cands = coarse.map { case (listId, cv) =>
        struct(graft.functions.VectorExprs
            .l2sq(v, array(cv.map(lit): _*)).as("dist"),
          lit(listId).as("list"))
      }
      transform(slice(array_sort(array(cands: _*)), 1, nProbe),
        s => s.getField("list"))
    }
    // 40 centroids on a line: centroid k = (3k, 3k, 3k, 3k). A query at
    // (10,10,10,10)/3-ish has a known nearest-list ranking.
    val coarse40 = (0 until 40).map(k =>
      k -> Seq.fill(4)(3.0 * k)).toSeq
    val q = Seq((0L, Seq(9.4, 9.4, 9.4, 9.4))).toDF("vec_id", "embedding")
    // nearest: centroid 3 (9.0, d=.4^2*4), then 4 (12, d=2.6^2*4), then 2
    val kernelProbes = q.select(Quantize.ivfProbesCol(col("embedding"),
        coarse40, nProbe = 3).as("p"))
      .head().getSeq[Int](0).toSeq
    assert(kernelProbes === Seq(3, 4, 2))
    val litProbes8 = q.select(literalProbes(coarse40.take(8), 3).as("p"))
      .head().getSeq[Int](0).toSeq
    assert(litProbes8 === Seq(3, 4, 2))
    // parity on the SAME geometry: every corpus row's full ranking must
    // agree between the explicit literal form and the kernel
    val corpus = (0 until 25).map(i =>
      (i.toLong, Seq.fill(4)(i * 2.9 % 80))).toSeq
      .toDF("vec_id", "embedding")
    val lit32 = corpus.select(col("vec_id"),
      literalProbes(coarse40.take(32), 5).as("p"))
    val ker = corpus.select(col("vec_id"),
      Quantize.ivfProbesCol(col("embedding"), coarse40.take(32), 5).as("p"))
    val litM = lit32.collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val kerM = ker.collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(litM === kerM, "literal and kernel probe rankings diverged")
    // ties break toward the smaller list id (the repo-wide argmin rule)
    val tie = Seq((0L, Seq(1.5, 1.5, 1.5, 1.5))).toDF("vec_id", "embedding")
    val tp = tie.select(Quantize.ivfProbesCol(col("embedding"),
        coarse40.take(8), 2).as("p")).head().getSeq[Int](0).toSeq
    assert(tp === Seq(0, 1), "equidistant lists must order by list id")
  }

  test("scored-shortlist prefix top-k equals rerankL2 over the prefix " +
    "(the r18 q253 arm fold)") {
    // q253's R arms were folded: exact distances are computed ONCE over
    // the Rmax shortlist and each arm top-5s the rank<=R prefix of that
    // scored table. The fold is exact because a pair's exact distance is
    // R-independent and rerankL2 ranks by (dist asc, neighbor_id asc) —
    // pinned here against rerankL2 itself at several R cuts.
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val origQ = embs.filter(col("vec_id") < 3)
    val shortMax = Similarity.bruteForceTopKL2(embs, origQ, "vec_id",
      "embedding", k = 20) // any total-ordered Rmax shortlist works
    val scored = embs.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("__cv"))
      .join(broadcast(shortMax.select(col("query_id"), col("neighbor_id"),
        col("rank"))), Seq("neighbor_id"))
      .join(broadcast(origQ.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("__qv"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        graft.functions.VectorExprs.l2sq(col("__qv"), col("__cv"))
          .as("dist"))
    Seq(5, 12, 20).foreach { r =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("dist").asc, col("neighbor_id").asc)
      val folded = scored.filter(col("rank") <= r)
        .withColumn("__rk", org.apache.spark.sql.functions.row_number()
          .over(w))
        .filter(col("__rk") <= 5)
        .select(col("query_id"), col("__rk").as("rank"), col("neighbor_id"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val ref = Quantize.rerankL2(shortMax.filter(col("rank") <= r), embs,
          origQ, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(folded.nonEmpty && folded === ref, s"diverged at R=$r")
    }
  }
}
