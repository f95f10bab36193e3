package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextExprs, TimeExprs, VectorExprs}
import graft.operators.{CacheHygiene, Dedup, NearDup, Similarity}
import graft.sources.Tables

/** Embedding similarity and ANN: PQ/IVF/SQ8/BQ/OPQ quantization, kNN serving, semantic dedup, MMR, silhouette, embedding health.
  *
  * One domain slice of the query registry (split from the single-file
  * registry in round 15 — same members, same semantics). Members are
  * `private[queries]` so cross-domain references keep working; `val`s
  * became `lazy val`s so initialization is order-independent across the
  * trait mix-in. Mixed into [[TestdataQueries]], which owns the maps.
  */
private[queries] trait TdqEmbeddings { this: TestdataQueries.type =>

  // --------------------------------------------------------- similarity §2.10
  // Brute-force exact cosine top-k: queries = vec_id < 10, broadcast side.
  private[queries] def q21CosineTopK(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5)
  }

  // The oracle mirrors the exact IEEE op sequence: sequential double dot
  // products, sqrt norms, one division — then round(4).
  private[queries] lazy val q21Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |s AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |    list_inner_product(q.qv, e.v) /
      |      (sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(e.v, e.v))) AS c
      |  FROM e CROSS JOIN q WHERE q.query_id <> e.vec_id)
      |SELECT query_id, rank, neighbor_id, round(c, 4) AS cos
      |FROM (SELECT *, CAST(row_number() OVER (
      |        PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INTEGER) AS rank
      |      FROM s) WHERE rank <= 5""".stripMargin

  /** The LSH planes are driver-side constants, so the exact bucketing is
    * reproducible by the oracle: render each plane as a literal DOUBLE[]
    * (Double.toString round-trips) and rebuild the bucket id with the same
    * sign tests. The approximate operator is thereby *fully* specified —
    * the oracle checks the real semantics, not a recall proxy. */
  private[queries] def sqlBucket(v: String, planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      val lst = p.map(_.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product($v, $lst) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  // Multi-probe LSH ANN: 6-bit buckets, probe ring = Hamming ≤ 2 (22 of 64
  // buckets ≈ 1/3 of the corpus per query; measured recall@5 in
  // SimilarityRecallSpec — single-probe was a near-useless 0.10).
  private[queries] lazy val q22Bits = 6
  private[queries] lazy val q22Probe = 2

  private[queries] def q22CosineIvf(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    Similarity.ivfTopK(embs, embs.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, dim = 64, bits = q22Bits, seed = 42L,
      probeHamming = q22Probe)
  }

  private[queries] lazy val q22Sql = {
    val bucket = sqlBucket("v", VectorExprs.lshPlanes(64, q22Bits, 42L))
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT vec_id, v, $bucket AS bucket,
       |             list_inner_product(v, v) AS n2 FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb, n2 AS qn2
       |      FROM b WHERE vec_id < 10),
       |s AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    list_inner_product(q.qv, c.v) / (sqrt(q.qn2) * sqrt(c.n2)) AS c2
       |  FROM b c JOIN q
       |    ON bit_count(xor(CAST(c.bucket AS BIGINT), CAST(q.qb AS BIGINT))) <= $q22Probe
       |  WHERE q.query_id <> c.vec_id)
       |SELECT query_id, rank, neighbor_id, round(c2, 4) AS cos
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY c2 DESC, neighbor_id) AS INTEGER) AS rank
       |      FROM s) WHERE rank <= 5""".stripMargin
  }

  // The synthetic embeddings top out at pairwise cosine ≈0.51, so 0.4 is the
  // "near-dup" bar that actually yields pairs; 4 bits keeps bucket recall
  // meaningful at that low a similarity.
  private[queries] def q23EmbNearDup(s: SparkSession, d: String): DataFrame =
    NearDup.embeddingNearDupPairs(Tables.embeddings(s, d),
      col("vec_id"), col("embedding"), dim = 64, bits = 4, seed = 7L,
      threshold = 0.4)

  private[queries] lazy val q23Sql = {
    val bucket = sqlBucket("v", VectorExprs.lshPlanes(64, 4, 7L))
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT vec_id, v, $bucket AS bucket,
       |             list_inner_product(v, v) AS n2 FROM e)
       |SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       |  round(list_inner_product(a.v, c.v) / (sqrt(a.n2) * sqrt(c.n2)), 6) AS cos
       |FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       |WHERE list_inner_product(a.v, c.v) / (sqrt(a.n2) * sqrt(c.n2)) >= 0.4""".stripMargin
  }

  // Learned-quantizer IVF (k-means + multi-probe). The trained centroids
  // are not SQL-expressible, so the registered output is the per-query
  // overlap between the IVF top-k and the exact brute-force top-k,
  // asserted as a RECALL FLOOR rather than exact pinned hit counts: each
  // query must find at least one true neighbor AND the 10 queries together
  // must land >= 15 of 50 (recall >= 0.3 with generous margin — measured
  // recall is 0.52–0.62 at every SF, table below). Floors survive an
  // MLlib/Spark upgrade that perturbs KMeans internals; exact pins did
  // not (they silently re-measured, losing their regression value —
  // round-5 ADVICE). The floor is scale-independent, so every SF runs the
  // same oracle with no scale-key plumbing.
  //
  // Measured hits@5 per query for drift diagnosis (seed 42, local[32]):
  //   sf0.001: 0→3 1→3 2→5 3→2 4→4 5→3 6→4 7→2 8→1 9→4  (Σ31, recall .62)
  //   sf0.01:  0→2 1→2 2→2 3→1 4→3 5→3 6→2 7→4 8→3 9→4  (Σ26, recall .52)
  //   sf0.1:   0→2 1→3 2→1 3→2 4→4 5→2 6→4 7→4 8→3 9→5  (Σ30, recall .60)
  private[queries] lazy val q31PerQueryFloor = 1L
  private[queries] lazy val q31TotalFloor = 15L

  private[queries] def q31IvfKmeans(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val qset = embs.filter(col("vec_id") < 10)
    val ann = Similarity.ivfKmeansTopK(embs, qset, "vec_id", "embedding",
      k = 5, nCentroids = 8, nProbe = 2, seed = 42L)
    val exact = Similarity.bruteForceTopK(embs, qset, "vec_id", "embedding",
      k = 5)
    recallFloor(recallHits(qset, ann, exact), q31PerQueryFloor, q31TotalFloor)
  }

  private[queries] lazy val q31Sql =
    s"""SELECT CAST(range AS BIGINT) AS query_id, true AS recall_ok
       |FROM range(10)""".stripMargin

  // SimHash banded near-dup pairs (hamming ≤ 3): the 4×16-bit pigeonhole
  // bands guarantee recall EXACTLY 1.0, so the banded result equals the
  // all-pairs computation — which is what the oracle runs (fine at oracle
  // scale; the banded O(n·4) shuffle is the engine's scale path).
  private[queries] def q32SimhashPairs(s: SparkSession, d: String): DataFrame =
    NearDup.simhashPolyNearDupPairs(Tables.documents(s, d),
      col("doc_id"), col("text"), maxHamming = 3)

  private[queries] lazy val q32Sql =
    s"""WITH ${simhashSigSql("sig")}
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin

  // ------------------------- product quantization (§2.10 embeddings)
  // 64-dim floats → 8 one-byte codes (32× storage compression) via
  // seed-row codebooks (subvectors of designated corpus rows — reachable
  // by the oracle through plain joins), plus ADC top-k that reads only
  // the codes at query time. Exact same slice/fold arithmetic mirrored
  // in SQL; argmin tiebreak = lexicographic (dist, code) on both sides.
  private[queries] lazy val pqSeedIds: Seq[Long] = (10L to 25L)
  private[queries] lazy val pqM = 8
  private[queries] lazy val pqDim = 64
  private[queries] lazy val pqSub = pqDim / pqM

  private[queries] def q50PqEncode(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val cb = graft.operators.Quantize.seedCodebook(embs, col("vec_id"),
      col("embedding"), pqSeedIds)
    graft.operators.Quantize.pqEncode(embs, col("vec_id"), col("embedding"),
        cb, pqM, pqDim)
      .withColumnRenamed("id", "vec_id")
  }

  private[queries] def pqDistSql(j: Int, cbAlias: String): String = {
    val lo = j * pqSub + 1
    val hi = lo + pqSub
    val diff = s"[e.v[i] - $cbAlias.cv[i] for i in range($lo, $hi)]"
    s"list_inner_product($diff, $diff)"
  }

  private[queries] def pqCbCtes: String =
    pqSeedIds.zipWithIndex.map { case (cid, c) =>
      s"cb$c AS (SELECT v AS cv FROM e WHERE vec_id = $cid)"
    }.mkString(",\n")

  private[queries] lazy val q50Sql = {
    val mins = (0 until pqM).map { j =>
      "list_min([" + pqSeedIds.indices.map(c =>
        s"[${pqDistSql(j, s"cb$c")}, $c.0]").mkString(", ") + s"]) AS m$j"
    }.mkString(",\n    ")
    val codes = (0 until pqM).map(j => s"CAST(m$j[2] AS INTEGER) AS c$j")
      .mkString(", ")
    val mse = (0 until pqM).map(j => s"m$j[1]").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$pqCbCtes,
       |p AS (
       |  SELECT e.vec_id,
       |    $mins
       |  FROM e${pqSeedIds.indices.map(c => s" CROSS JOIN cb$c").mkString})
       |SELECT vec_id, $codes, round($mse, 6) AS distortion FROM p""".stripMargin
  }

  private[queries] def q51PqAdc(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val cb = graft.operators.Quantize.seedCodebook(embs, col("vec_id"),
      col("embedding"), pqSeedIds)
    val codes = graft.operators.Quantize.pqEncode(embs, col("vec_id"),
      col("embedding"), cb, pqM, pqDim).drop("distortion")
    graft.operators.Quantize.pqAdcTopK(codes,
      embs.filter(col("vec_id") < 5), "vec_id", "embedding", cb,
      pqM, pqDim, k = 3)
  }

  private[queries] lazy val q51Sql = {
    // rebuild the codes (q50 logic), then ADC = Σ_j dist(query_sub_j,
    // centroid[c_j]) via one cb join per subspace
    val mins = (0 until pqM).map { j =>
      "list_min([" + pqSeedIds.indices.map(c =>
        s"[${pqDistSql(j, s"cb$c")}, $c.0]").mkString(", ") + s"]) AS m$j"
    }.mkString(",\n    ")
    val codeSel = (0 until pqM).map(j => s"CAST(m$j[2] AS INTEGER) AS c$j")
      .mkString(", ")
    def qDist(j: Int, alias: String): String = {
      val lo = j * pqSub + 1
      val hi = lo + pqSub
      val diff = s"[q.qv[i] - $alias.cv[i] for i in range($lo, $hi)]"
      s"list_inner_product($diff, $diff)"
    }
    val adc = (0 until pqM).map(j => qDist(j, s"b$j")).mkString(" + ")
    val cbJoins = (0 until pqM).map(j => s"JOIN cb b$j ON b$j.code = k.c$j")
      .mkString("\n  ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$pqCbCtes,
       |cb AS (${pqSeedIds.indices.map(c => s"SELECT $c AS code, cv FROM cb$c").mkString(" UNION ALL ")}),
       |p AS (
       |  SELECT e.vec_id,
       |    $mins
       |  FROM e${pqSeedIds.indices.map(c => s" CROSS JOIN cb$c").mkString}),
       |codes AS (SELECT vec_id AS id, $codeSel FROM p),
       |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |s AS (
       |  SELECT q.query_id, k.id AS neighbor_id, $adc AS adc
       |  FROM codes k
       |  CROSS JOIN qs q
       |  $cbJoins
       |  WHERE q.query_id <> k.id)
       |SELECT query_id, rank, neighbor_id, round(adc, 6) AS adc_dist
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY adc, neighbor_id) AS INTEGER) AS rank
       |      FROM s) WHERE rank <= 3""".stripMargin
  }

  // ----------------------- IVF-PQ / IVFADC top-k (§2.10 embeddings)
  // The billion-vector serving layout (Jégou et al. 2011): a coarse
  // quantizer (8 seed-row lists, ids 30..37) routes each corpus row to one
  // inverted list; queries rank the coarse centroids, probe their nProbe=2
  // nearest lists, and ADC-scan only the PQ codes in those lists — the
  // q51 full scan cut to nProbe/nLists, and at scale a partition-pruned
  // read when codes are laid out by list_id. Same codes as q50, same ADC
  // arithmetic as q51, same (dist, id) lexicographic tiebreaks everywhere.
  private[queries] lazy val ivfCoarseIds: Seq[Long] = (30L to 37L)
  private[queries] lazy val ivfNProbe = 2

  private[queries] def q93IvfPq(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val cb = graft.operators.Quantize.seedCodebook(embs, col("vec_id"),
      col("embedding"), pqSeedIds)
    val coarse = graft.operators.Quantize.seedCodebook(embs, col("vec_id"),
      col("embedding"), ivfCoarseIds)
    // codes + list_id in ONE map-side projection (keep= threads the
    // coarse assignment through the encode staging — no self-join)
    val codes = graft.operators.Quantize.pqEncode(embs, col("vec_id"),
        col("embedding"), cb, pqM, pqDim,
        keep = Seq(graft.operators.Quantize.ivfListCol(col("embedding"),
          coarse).as("list_id")))
      .drop("distortion")
    graft.operators.Quantize.ivfPqTopK(codes,
      embs.filter(col("vec_id") < 5), "vec_id", "embedding",
      coarse, cb, pqM, pqDim, ivfNProbe, k = 3)
  }

  private[queries] lazy val q93Sql = {
    val mins = (0 until pqM).map { j =>
      "list_min([" + pqSeedIds.indices.map(c =>
        s"[${pqDistSql(j, s"cb$c")}, $c.0]").mkString(", ") + s"]) AS m$j"
    }.mkString(",\n    ")
    val codeSel = (0 until pqM).map(j => s"CAST(m$j[2] AS INTEGER) AS c$j")
      .mkString(", ")
    def qDist(j: Int, alias: String): String = {
      val lo = j * pqSub + 1
      val hi = lo + pqSub
      val diff = s"[q.qv[i] - $alias.cv[i] for i in range($lo, $hi)]"
      s"list_inner_product($diff, $diff)"
    }
    val adc = (0 until pqM).map(j => qDist(j, s"b$j")).mkString(" + ")
    val cbJoins = (0 until pqM).map(j => s"JOIN cb b$j ON b$j.code = k.c$j")
      .mkString("\n  ")
    val ccCtes = ivfCoarseIds.zipWithIndex.map { case (cid, l) =>
      s"cc$l AS (SELECT v AS cv FROM e WHERE vec_id = $cid)"
    }.mkString(",\n")
    def fullDist(lhs: String, alias: String): String = {
      val diff = s"[$lhs[i] - $alias.cv[i] for i in range(1, $pqDim + 1)]"
      s"list_inner_product($diff, $diff)"
    }
    val assignMin = "list_min([" + ivfCoarseIds.indices.map(l =>
      s"[${fullDist("e.v", s"cc$l")}, $l.0]").mkString(", ") + "])"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$pqCbCtes,
       |$ccCtes,
       |cb AS (${pqSeedIds.indices.map(c => s"SELECT $c AS code, cv FROM cb$c").mkString(" UNION ALL ")}),
       |ccu AS (${ivfCoarseIds.indices.map(l => s"SELECT $l AS list, cv FROM cc$l").mkString(" UNION ALL ")}),
       |p AS (
       |  SELECT e.vec_id,
       |    $mins
       |  FROM e${pqSeedIds.indices.map(c => s" CROSS JOIN cb$c").mkString}),
       |codes AS (SELECT vec_id AS id, $codeSel FROM p),
       |assign AS (
       |  SELECT e.vec_id, CAST($assignMin[2] AS INTEGER) AS list_id
       |  FROM e${ivfCoarseIds.indices.map(l => s" CROSS JOIN cc$l").mkString}),
       |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |pr AS (
       |  SELECT query_id, list FROM (
       |    SELECT q.query_id, c.list, row_number() OVER (
       |      PARTITION BY q.query_id
       |      ORDER BY ${fullDist("q.qv", "c")}, c.list) AS rn
       |    FROM qs q CROSS JOIN ccu c)
       |  WHERE rn <= $ivfNProbe),
       |s AS (
       |  SELECT q.query_id, k.id AS neighbor_id, $adc AS adc
       |  FROM codes k
       |  JOIN assign a ON a.vec_id = k.id
       |  JOIN pr ON pr.list = a.list_id
       |  JOIN qs q ON q.query_id = pr.query_id
       |  $cbJoins
       |  WHERE q.query_id <> k.id)
       |SELECT query_id, rank, neighbor_id, round(adc, 6) AS adc_dist
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY adc, neighbor_id) AS INTEGER) AS rank
       |      FROM s) WHERE rank <= 3""".stripMargin
  }

  // ------------- IVF-PQ with residual encoding (§2.10 embeddings, q94)
  // Full IVFADC: PQ codes quantize each row's RESIDUAL against its
  // assigned coarse centroid, and the residual codebook is the seed
  // rows' own residuals; queries rebuild their ADC tables per probed
  // list from their residual vs that list's centroid. Same probe/scan
  // shape as q93 — the residual flavor is what the published system
  // runs, trading a per-list table rebuild (nProbe × m tiny tables,
  // broadcast side) for materially lower quantization distortion.

  /** The residual IVF-PQ index of `embs`: each vector's coarse list and
    * the PQ codes of its residual against that list's centroid. */
  private[queries] def ivfResidualCodes(embs: DataFrame,
      coarse: Seq[(Int, Seq[Double])], rb: Seq[(Int, Seq[Double])])
      : DataFrame = {
    val listC = graft.operators.Quantize.ivfListCol(col("embedding"), coarse)
    graft.operators.Quantize.pqEncode(embs, col("vec_id"),
        graft.operators.Quantize.ivfResidualCol(col("embedding"), coarse,
          listC),
        rb, pqM, pqDim, keep = Seq(listC.as("list_id")))
      .drop("distortion")
  }

  private[queries] def q94IvfPqResidual(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val coarse = graft.operators.Quantize.seedCodebook(embs, col("vec_id"),
      col("embedding"), ivfCoarseIds)
    val rb = graft.operators.Quantize.residualSeedCodebook(embs,
      col("vec_id"), col("embedding"), pqSeedIds, coarse)
    val codes = ivfResidualCodes(embs, coarse, rb)
    graft.operators.Quantize.ivfPqResidualTopK(codes,
      embs.filter(col("vec_id") < 5), "vec_id", "embedding",
      coarse, rb, pqM, pqDim, ivfNProbe, k = 3)
  }

  /** Oracle SQL for the residual IVFADC shape, parameterized by coarse
    * seed rows, PQ seed rows, and probe count — q94 (literal-path
    * config) and q95 (kernel-path config: both codebooks above the
    * plan-literal ceiling) replay the SAME semantics at different
    * sizes, which is exactly the literal≡kernel claim the oracle
    * certifies. */
  private[queries] def mkIvfResidualSql(coarseIds: Seq[Long], seedIds: Seq[Long],
                               nProbe: Int): String = {
    // codebooks as RELATIONS (code = vec_id − first, ids are contiguous
    // ranges), argmins via arg_min over a cross join — one CTE per
    // codebook instead of one per CODE, so the oracle stays a bounded
    // handful of parquet scans at any codebook size (the per-code-CTE
    // form exhausted DuckDB's file handles at 64×64)
    require(coarseIds == (coarseIds.head to coarseIds.last) &&
      seedIds == (seedIds.head to seedIds.last),
      "oracle codebook ids must be contiguous ranges")
    def fullDist(lhs: String, alias: String): String = {
      val diff = s"[$lhs[i] - $alias.cv[i] for i in range(1, $pqDim + 1)]"
      s"list_inner_product($diff, $diff)"
    }
    // per-subspace distance of a residual column vs a residual centroid
    def resDist(lhs: String, j: Int, alias: String): String = {
      val lo = j * pqSub + 1
      val hi = lo + pqSub
      val diff = s"[$lhs[i] - $alias.cv[i] for i in range($lo, $hi)]"
      s"list_inner_product($diff, $diff)"
    }
    val codeMins = (0 until pqM).map(j =>
      s"CAST(list_min(list([${resDist("er.rv", j, "r")}, r.code * 1.0]))[2] " +
        s"AS INTEGER) AS c$j").mkString(",\n    ")
    val adc = (0 until pqM).map(j => resDist("qr.rv", j, s"b$j"))
      .mkString(" + ")
    val rbJoins = (0 until pqM).map(j => s"JOIN rbu b$j ON b$j.code = k.c$j")
      .mkString("\n  ")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cbu AS (SELECT vec_id - ${seedIds.head} AS code, v AS cv FROM e
       |        WHERE vec_id BETWEEN ${seedIds.head} AND ${seedIds.last}),
       |ccu AS (SELECT CAST(vec_id - ${coarseIds.head} AS INTEGER) AS list, v AS cv FROM e
       |        WHERE vec_id BETWEEN ${coarseIds.head} AND ${coarseIds.last}),
       |assign AS (
       |  SELECT e.vec_id,
       |    CAST(list_min(list([${fullDist("e.v", "c")}, c.list * 1.0]))[2]
       |      AS INTEGER) AS list_id
       |  FROM e CROSS JOIN ccu c GROUP BY e.vec_id),
       |rbu AS (
       |  SELECT b.code, [b.cv[i] - c.cv[i] for i in range(1, $pqDim + 1)] AS cv
       |  FROM cbu b JOIN assign a ON a.vec_id = b.code + ${seedIds.head}
       |  JOIN ccu c ON c.list = a.list_id),
       |er AS (
       |  SELECT e.vec_id, a.list_id,
       |    [e.v[i] - c.cv[i] for i in range(1, $pqDim + 1)] AS rv
       |  FROM e JOIN assign a ON a.vec_id = e.vec_id
       |  JOIN ccu c ON c.list = a.list_id),
       |codes AS (
       |  SELECT er.vec_id AS id, er.list_id,
       |    $codeMins
       |  FROM er CROSS JOIN rbu r GROUP BY er.vec_id, er.list_id),
       |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |pr AS (
       |  SELECT query_id, list FROM (
       |    SELECT q.query_id, c.list, row_number() OVER (
       |      PARTITION BY q.query_id
       |      ORDER BY ${fullDist("q.qv", "c")}, c.list) AS rn
       |    FROM qs q CROSS JOIN ccu c)
       |  WHERE rn <= $nProbe),
       |qr AS (
       |  SELECT pr.query_id, pr.list,
       |    [q.qv[i] - c.cv[i] for i in range(1, $pqDim + 1)] AS rv
       |  FROM pr JOIN qs q ON q.query_id = pr.query_id
       |  JOIN ccu c ON c.list = pr.list),
       |s AS (
       |  SELECT qr.query_id, k.id AS neighbor_id, $adc AS adc
       |  FROM codes k
       |  JOIN qr ON qr.list = k.list_id
       |  $rbJoins
       |  WHERE qr.query_id <> k.id)
       |SELECT query_id, rank, neighbor_id, round(adc, 6) AS adc_dist
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY adc, neighbor_id) AS INTEGER) AS rank
       |      FROM s) WHERE rank <= 3""".stripMargin
  }

  private[queries] lazy val q94Sql = mkIvfResidualSql(ivfCoarseIds, pqSeedIds, ivfNProbe)

  // ---------- IVF-PQ above the plan-literal ceiling (§2.10, q95)
  // 64 coarse lists × 64 residual codes: assignment, probe ranking,
  // residuals, encode, and ADC tables all run through the PqKernels
  // codegen'd expressions (reference-object codebooks, fixed-size
  // generated code) — and the oracle replays the identical semantics
  // relationally, certifying the kernel path end-to-end, not just
  // against the literal path's spec.
  private[queries] lazy val q95CoarseIds: Seq[Long] = (100L to 163L)
  private[queries] lazy val q95SeedIds: Seq[Long] = (10L to 73L)

  private[queries] def q95IvfPqKernel(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val coarse = graft.operators.Quantize.seedCodebook(embs, col("vec_id"),
      col("embedding"), q95CoarseIds)
    val rb = graft.operators.Quantize.residualSeedCodebook(embs,
      col("vec_id"), col("embedding"), q95SeedIds, coarse)
    val codes = ivfResidualCodes(embs, coarse, rb)
    graft.operators.Quantize.ivfPqResidualTopK(codes,
      embs.filter(col("vec_id") < 5), "vec_id", "embedding",
      coarse, rb, pqM, pqDim, nProbe = 4, k = 3)
  }

  private[queries] lazy val q95Sql = mkIvfResidualSql(q95CoarseIds, q95SeedIds, 4)

  // ----------------------------- kNN classification (§2.10 ext)
  // Majority vote of the 5 nearest labeled embeddings — the semantic
  // seed-set filtering primitive. Shares q21's exact-cosine/rank replay;
  // the vote and its smallest-label tie-break are total orders.
  private[queries] def q85KnnClassify(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    graft.operators.Similarity.knnClassify(emb,
      emb.filter(col("vec_id") < 10), "vec_id", "embedding", "label", k = 5)
  }

  private[queries] lazy val q85Sql =
    """WITH e AS (SELECT vec_id, label,
      |            CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |s AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS lab,
      |    list_inner_product(q.qv, e.v) /
      |      (sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(e.v, e.v))) AS c
      |  FROM e CROSS JOIN q WHERE q.query_id <> e.vec_id),
      |r AS (SELECT query_id, lab, row_number() OVER (
      |        PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
      |      FROM s),
      |v AS (SELECT query_id, lab, count(*) AS votes
      |      FROM r WHERE rank <= 5 GROUP BY 1, 2)
      |SELECT query_id, pred_label, votes FROM (
      |  SELECT query_id, lab AS pred_label, votes, row_number() OVER (
      |    PARTITION BY query_id ORDER BY votes DESC, lab) AS rr FROM v)
      |WHERE rr = 1""".stripMargin

  // ----------------------------- semantic dedup (§2.10 ext)
  // SemDeDup decision with LSH buckets as the clustering: drop a vector
  // when a smaller-id bucket-mate has cosine >= threshold. Same planes/
  // threshold as q23, so the oracle replays the exact bucketing and the
  // NOT EXISTS mirrors the drop rule — full semantics, no recall proxy.
  private[queries] def q89SemanticDedup(s: SparkSession, d: String): DataFrame =
    Similarity.semanticDedup(Tables.embeddings(s, d), col("vec_id"),
      col("embedding"), dim = 64, bits = 4, seed = 7L, threshold = 0.4)

  private[queries] lazy val q89Sql = {
    val bucket = sqlBucket("v", VectorExprs.lshPlanes(64, 4, 7L))
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT vec_id, v, $bucket AS bucket,
       |             list_inner_product(v, v) AS n2 FROM e)
       |SELECT x.vec_id, NOT EXISTS (
       |    SELECT 1 FROM b y
       |    WHERE y.bucket = x.bucket AND y.vec_id < x.vec_id
       |      AND list_inner_product(x.v, y.v) / (sqrt(x.n2) * sqrt(y.n2))
       |            >= 0.4) AS kept
       |FROM b x""".stripMargin
  }

  // ----------------------------- SQ8 scalar quantization (§2.10 embeddings)
  // Int8 scalar quantization: per-row max-abs scale, one signed byte per
  // dimension, reconstruction-free approximate dot product. Both engines
  // round half-away-from-zero and run the same IEEE op sequence, so the
  // codes and scores are bit-identical — the oracle replays the whole
  // encode + rank, no recall proxy.
  private[queries] def q99Sq8TopK(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    graft.operators.Quantize.sq8TopK(embs,
      embs.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3)
  }

  private[queries] lazy val q99Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx
       |      FROM e),
       |c AS (SELECT vec_id, v,
       |        CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS s FROM m),
       |codes AS (SELECT vec_id, s,
       |        CAST(list_transform(v, x -> CAST(round(x / s) AS INTEGER))
       |             AS DOUBLE[]) AS cd
       |      FROM c),
       |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |sc AS (SELECT q.query_id, k.vec_id AS neighbor_id,
       |         k.s * list_inner_product(k.cd, q.qv) AS score
       |       FROM codes k CROSS JOIN qs q WHERE q.query_id <> k.vec_id)
       |SELECT query_id, rank, neighbor_id, round(score, 4) AS score
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY score DESC, neighbor_id)
       |      AS INTEGER) AS rank FROM sc) WHERE rank <= 3""".stripMargin

  // ----------------------------- SQ8 × IVF (§2.10 embeddings)
  // q99's int8 scoring over q93's scan shape: codes carry a coarse
  // list_id, queries probe only their nProbe nearest lists. The oracle
  // replays the coarse assignment, the probe ranking, and the int8
  // scoring — all literal-plane, no recall proxy.
  private[queries] def q100Sq8Ivf(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val coarse = graft.operators.Quantize.seedCodebook(embs, col("vec_id"),
      col("embedding"), ivfCoarseIds)
    graft.operators.Quantize.sq8IvfTopK(embs,
      embs.filter(col("vec_id") < 5), "vec_id", "embedding",
      coarse, ivfNProbe, k = 3)
  }

  private[queries] lazy val q100Sql = {
    def fullDist(lhs: String, alias: String): String = {
      val diff = s"[$lhs[i] - $alias.cv[i] for i in range(1, $pqDim + 1)]"
      s"list_inner_product($diff, $diff)"
    }
    val ccCtes = ivfCoarseIds.zipWithIndex.map { case (cid, l) =>
      s"cc$l AS (SELECT v AS cv FROM e WHERE vec_id = $cid)"
    }.mkString(",\n")
    val assignMin = "list_min([" + ivfCoarseIds.indices.map(l =>
      s"[${fullDist("e.v", s"cc$l")}, $l.0]").mkString(", ") + "])"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$ccCtes,
       |ccu AS (${ivfCoarseIds.indices.map(l => s"SELECT $l AS list, cv FROM cc$l").mkString(" UNION ALL ")}),
       |mm AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx
       |       FROM e),
       |sc8 AS (SELECT vec_id, v,
       |         CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS s FROM mm),
       |codes AS (SELECT vec_id, s,
       |        CAST(list_transform(v, x -> CAST(round(x / s) AS INTEGER))
       |             AS DOUBLE[]) AS cd
       |      FROM sc8),
       |assign AS (
       |  SELECT e.vec_id, CAST($assignMin[2] AS INTEGER) AS list_id
       |  FROM e${ivfCoarseIds.indices.map(l => s" CROSS JOIN cc$l").mkString}),
       |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |pr AS (
       |  SELECT query_id, list FROM (
       |    SELECT q.query_id, c.list, row_number() OVER (
       |      PARTITION BY q.query_id
       |      ORDER BY ${fullDist("q.qv", "c")}, c.list) AS rn
       |    FROM qs q CROSS JOIN ccu c)
       |  WHERE rn <= $ivfNProbe),
       |sc AS (
       |  SELECT q.query_id, k.vec_id AS neighbor_id,
       |    k.s * list_inner_product(k.cd, q.qv) AS score
       |  FROM codes k
       |  JOIN assign a ON a.vec_id = k.vec_id
       |  JOIN pr ON pr.list = a.list_id
       |  JOIN qs q ON q.query_id = pr.query_id
       |  WHERE q.query_id <> k.vec_id)
       |SELECT query_id, rank, neighbor_id, round(score, 4) AS score
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY score DESC, neighbor_id)
       |      AS INTEGER) AS rank FROM sc) WHERE rank <= 3""".stripMargin
  }

  // ----------------------------- binary quantization ANN (§2.10 embeddings)
  // 1-bit/dim sign quantization — the coarsest point of the PQ→SQ8→BQ
  // ladder: Hamming scan over packed sign words picks `rerank` candidates
  // per query, exact float cosine re-scores only those. Sign tests and
  // popcounts are integer-exact and the rerank is q21's IEEE sequence, so
  // the oracle replays the REAL two-pass semantics (the candidate cut
  // included), not a recall proxy; the oracle computes Hamming as the
  // count of sign-disagreeing dimensions — mathematically identical to
  // the packed-word popcount without bit arithmetic.
  private[queries] lazy val q104Rerank = 10

  private[queries] def q104BqTopK(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    graft.operators.Quantize.bqTopK(embs, embs.filter(col("vec_id") < 5),
      "vec_id", "embedding", dim = pqDim, k = 3, rerank = q104Rerank)
  }

  private[queries] lazy val q104Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |ham AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id, c.v AS cv, q.qv,
       |    len(list_filter(range(1, ${pqDim + 1}),
       |        i -> (c.v[i] > 0) <> (q.qv[i] > 0))) AS hamming
       |  FROM e c CROSS JOIN qs q WHERE c.vec_id <> q.query_id),
       |cand AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY query_id ORDER BY hamming, neighbor_id) AS hrank
       |    FROM ham) WHERE hrank <= $q104Rerank),
       |sc AS (
       |  SELECT query_id, neighbor_id, hamming,
       |    list_inner_product(qv, cv) /
       |      (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))) AS c
       |  FROM cand)
       |SELECT query_id, rank, neighbor_id, CAST(hamming AS BIGINT) AS hamming,
       |  round(c, 4) AS cos
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INTEGER) AS rank
       |      FROM sc) WHERE rank <= 3""".stripMargin

  // ----------------------------- random-projection ANN (§2.10 embeddings)
  // Johnson–Lindenstrauss dimensionality reduction as the candidate
  // stage of a two-pass top-k: approximate cosine in the 16-dim
  // projected space picks `rerank` candidates, exact 64-dim cosine
  // re-scores only those. The matrix is a driver-side literal (q22's
  // plane discipline), so the oracle replays projection, candidate cut,
  // and rerank end-to-end.
  private[queries] lazy val q107DimOut = 16
  private[queries] lazy val q107Matrix =
    Similarity.rpMatrix(pqDim, q107DimOut, seed = 107L)

  private[queries] def q107RpTopK(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    Similarity.rpTopK(embs, embs.filter(col("vec_id") < 5),
      "vec_id", "embedding", q107Matrix, k = 3, rerank = q104Rerank)
  }

  private[queries] lazy val q107Sql = {
    val proj = q107Matrix.map(row =>
      "list_inner_product(v, [" + row.map(_.toString).mkString(", ") + "])")
      .mkString("[", ",\n      ", "]")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |p AS (SELECT vec_id, v, $proj AS pv FROM e),
       |qs AS (SELECT vec_id AS query_id, v AS qv, pv AS pq FROM p WHERE vec_id < 5),
       |ap AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id, c.v AS cv, q.qv,
       |    list_inner_product(q.pq, c.pv) /
       |      (sqrt(list_inner_product(q.pq, q.pq)) * sqrt(list_inner_product(c.pv, c.pv))) AS ac
       |  FROM p c CROSS JOIN qs q WHERE c.vec_id <> q.query_id),
       |cand AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY query_id ORDER BY ac DESC, neighbor_id) AS arank
       |    FROM ap) WHERE arank <= $q104Rerank),
       |sc AS (
       |  SELECT query_id, neighbor_id, ac,
       |    list_inner_product(qv, cv) /
       |      (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))) AS c
       |  FROM cand)
       |SELECT query_id, rank, neighbor_id, round(ac, 4) AS approx_cos,
       |  round(c, 4) AS cos
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INTEGER) AS rank
       |      FROM sc) WHERE rank <= 3""".stripMargin
  }

  // ----------------------------- hard-negative mining (§2.10 ext)
  // Contrastive-training negatives: per query, top-k most-similar
  // DIFFERENT-label embeddings under the false-negative cosine guard.
  private[queries] lazy val q114MaxCos = 0.995

  private[queries] def q114HardNegatives(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    graft.operators.Similarity.hardNegatives(embs,
      embs.filter(col("vec_id") < 8), "vec_id", "embedding", "label",
      k = 5, maxCos = q114MaxCos)
  }

  private[queries] lazy val q114Sql =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |q AS (SELECT vec_id AS query_id, label AS query_label, v AS qv
       |      FROM e WHERE vec_id < 8),
       |s AS (
       |  SELECT q.query_id, q.query_label, e.vec_id AS neighbor_id,
       |    e.label AS neighbor_label,
       |    list_inner_product(q.qv, e.v) /
       |      (sqrt(list_inner_product(q.qv, q.qv)) *
       |       sqrt(list_inner_product(e.v, e.v))) AS c
       |  FROM e CROSS JOIN q WHERE q.query_label <> e.label)
       |SELECT query_id, query_label, rank, neighbor_id, neighbor_label,
       |  round(c, 4) AS cos
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY c DESC, neighbor_id)
       |      AS INTEGER) AS rank
       |      FROM s WHERE c <= $q114MaxCos) WHERE rank <= 5""".stripMargin

  // ----------------------------- random-rotation PQ (§2.10 ext)
  // OPQ-lite: rotate by a deterministic orthogonal matrix (plan
  // literals), then q50's seed-row PQ in the ROTATED space. Rotation
  // preserves distances, so this is the training-free subspace-balancing
  // rung below learned OPQ; the oracle rebuilds the rotated table from
  // the same literal matrix and replays the q50 assignment.
  private[queries] lazy val q117Rotation =
    Similarity.orthogonalMatrix(pqDim, seed = 117L)

  private[queries] def q117RotationPq(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val rot = embs.select(col("vec_id"),
      Similarity.rpProject(col("embedding").cast("array<double>"),
        q117Rotation).as("rvec"))
    val cb = graft.operators.Quantize.seedCodebook(rot, col("vec_id"),
      col("rvec"), pqSeedIds)
    graft.operators.Quantize.pqEncode(rot, col("vec_id"), col("rvec"),
        cb, pqM, pqDim)
      .withColumnRenamed("id", "vec_id")
  }

  private[queries] lazy val q117Sql = {
    val proj = q117Rotation.map(row =>
      "list_inner_product(v0, [" + row.map(_.toString).mkString(", ") + "])")
      .mkString("[", ",\n      ", "]")
    val mins = (0 until pqM).map { j =>
      "list_min([" + pqSeedIds.indices.map(c =>
        s"[${pqDistSql(j, s"cb$c")}, $c.0]").mkString(", ") + s"]) AS m$j"
    }.mkString(",\n    ")
    val codes = (0 until pqM).map(j => s"CAST(m$j[2] AS INTEGER) AS c$j")
      .mkString(", ")
    val mse = (0 until pqM).map(j => s"m$j[1]").mkString(" + ")
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0
       |            FROM embeddings),
       |e AS (SELECT vec_id, $proj AS v FROM e0),
       |$pqCbCtes,
       |p AS (
       |  SELECT e.vec_id,
       |    $mins
       |  FROM e${pqSeedIds.indices.map(c => s" CROSS JOIN cb$c").mkString})
       |SELECT vec_id, $codes, round($mse, 6) AS distortion FROM p""".stripMargin
  }

  // ----------------------------- MMR diverse selection (§2.10 ext)
  // Diversity-aware re-rank of a retrieval pool (Carbonell & Goldstein
  // 1998): greedy λ·rel − (1−λ)·max-sim-to-selected over the top-20
  // cosine pool, k=5 per query. Both cosine tables snap to 4 decimals
  // (the q21 parity point); the oracle replays the greedy loop as one
  // CTE pair (candidates + argmax) per selection step.
  private[queries] lazy val q128PoolN = 20
  private[queries] lazy val q128K = 5
  private[queries] lazy val q128Lambda = 0.7

  private[queries] def q128MmrSelect(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    graft.operators.Diversity.mmrSelect(embs,
      embs.filter(col("vec_id") < 3), "vec_id", "embedding",
      q128PoolN, q128K, q128Lambda)
  }

  private[queries] lazy val q128Sql = {
    val l = q128Lambda.toString
    val om = (1.0 - q128Lambda).toString
    val mmrExpr = s"CAST($l AS DOUBLE) * rel - CAST($om AS DOUBLE) * coalesce(pen, 0.0)"
    def step(i: Int): String = {
      val prev = s"u${i - 1}"
      val cand =
        if (i == 1)
          s"""c1 AS (SELECT query_id, doc_id, rel, CAST(NULL AS DOUBLE) AS pen
             |       FROM pool)""".stripMargin
        else
          s"""c$i AS (
             |  SELECT p.query_id, p.doc_id, p.rel,
             |    (SELECT max(pc.sim) FROM pc JOIN $prev u
             |       ON u.query_id = p.query_id AND pc.query_id = p.query_id
             |      AND ((pc.a = p.doc_id AND pc.b = u.doc_id) OR
             |           (pc.a = u.doc_id AND pc.b = p.doc_id))) AS pen
             |  FROM pool p
             |  WHERE NOT EXISTS (SELECT 1 FROM $prev u2
             |    WHERE u2.query_id = p.query_id AND u2.doc_id = p.doc_id))""".stripMargin
      val sel =
        s"""s$i AS (SELECT query_id, doc_id, mmr FROM (
           |    SELECT query_id, doc_id, $mmrExpr AS mmr, row_number() OVER (
           |      PARTITION BY query_id ORDER BY $mmrExpr DESC, doc_id) AS rn
           |    FROM c$i) WHERE rn = 1)""".stripMargin
      val uni =
        if (i == 1) s"u1 AS (SELECT query_id, doc_id, 1 AS sel_rank, mmr FROM s1)"
        else s"u$i AS (SELECT * FROM u${i - 1} UNION ALL " +
          s"SELECT query_id, doc_id, $i AS sel_rank, mmr FROM s$i)"
      s"$cand,\n$sel,\n$uni"
    }
    val steps = (1 to q128K).map(step).mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |qv AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
       |cs AS (
       |  SELECT qv.query_id, e.vec_id AS doc_id,
       |    list_inner_product(qv.qv, e.v) /
       |      (sqrt(list_inner_product(qv.qv, qv.qv)) *
       |       sqrt(list_inner_product(e.v, e.v))) AS c
       |  FROM e CROSS JOIN qv WHERE qv.query_id <> e.vec_id),
       |pool AS (
       |  SELECT query_id, doc_id, round(c, 4) AS rel
       |  FROM (SELECT query_id, doc_id, c, row_number() OVER (
       |          PARTITION BY query_id ORDER BY c DESC, doc_id) AS rank FROM cs)
       |  WHERE rank <= $q128PoolN),
       |pv AS (SELECT p.query_id, p.doc_id, e.v FROM pool p
       |       JOIN e ON e.vec_id = p.doc_id),
       |pc AS (
       |  SELECT x.query_id, x.doc_id AS a, y.doc_id AS b,
       |    round(list_inner_product(x.v, y.v) /
       |      (sqrt(list_inner_product(x.v, x.v)) *
       |       sqrt(list_inner_product(y.v, y.v))), 4) AS sim
       |  FROM pv x JOIN pv y
       |    ON x.query_id = y.query_id AND x.doc_id < y.doc_id),
       |$steps
       |SELECT query_id, CAST(sel_rank AS INTEGER) AS sel_rank, doc_id, mmr
       |FROM u$q128K""".stripMargin
  }

  // ------------------- margin-based alignment (§2.10 ext)
  // Artetxe–Schwenk ratio-margin mining between the label<5 and label>=5
  // halves of the embedding table: NN1 pairs scored by cos over the mean
  // of both endpoints' k-neighborhood cosines (hubness cancellation),
  // with the mutual-NN flag. Cosines snap to 4, neighborhood sums are
  // decimal-exact, margin snaps to 6 — every pair oracle-replayed.
  private[queries] lazy val q134K = 4

  // shards = 4 routes BOTH top-k passes through the no-broadcast
  // block-nested-loop plan (Similarity.shardedTopK) — the regime the
  // operator actually mines in; output is identical to the broadcast
  // path by construction (total tie order), so the oracle is shared.
  private[queries] def q134MarginAlign(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    graft.operators.Similarity.marginAlign(
      e.filter(col("label") < 5), e.filter(col("label") >= 5),
      "vec_id", "embedding", q134K, shards = 4)
  }

  private[queries] lazy val q134Sql =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |cf AS (
       |  SELECT a.vec_id AS src, b.vec_id AS tgt,
       |    list_inner_product(a.v, b.v) /
       |      (sqrt(list_inner_product(a.v, a.v)) *
       |       sqrt(list_inner_product(b.v, b.v))) AS c
       |  FROM e a CROSS JOIN e b
       |  WHERE a.label < 5 AND b.label >= 5 AND a.vec_id <> b.vec_id),
       |rf AS (SELECT src, tgt, round(c, 4) AS cos, row_number() OVER (
       |        PARTITION BY src ORDER BY c DESC, tgt) AS rank FROM cf),
       |rb AS (SELECT src, tgt, round(c, 4) AS cos, row_number() OVER (
       |        PARTITION BY tgt ORDER BY c DESC, src) AS rank FROM cf),
       |af AS (SELECT src, CAST(sum(CAST(cos AS DECIMAL(18,4))) AS DOUBLE) /
       |        CAST(count(*) AS DOUBLE) AS avg_fwd
       |      FROM rf WHERE rank <= $q134K GROUP BY src),
       |ab AS (SELECT tgt, CAST(sum(CAST(cos AS DECIMAL(18,4))) AS DOUBLE) /
       |        CAST(count(*) AS DOUBLE) AS avg_bwd
       |      FROM rb WHERE rank <= $q134K GROUP BY tgt),
       |n1 AS (SELECT src, tgt, cos FROM rf WHERE rank = 1),
       |b1 AS (SELECT tgt, src AS back_src FROM rb WHERE rank = 1)
       |SELECT n1.src AS src_id, n1.tgt AS tgt_id, n1.cos,
       |  round(n1.cos / ((avg_fwd + avg_bwd) / 2.0), 6) AS margin,
       |  coalesce(b1.back_src = n1.src, false) AS mutual
       |FROM n1 JOIN af ON af.src = n1.src JOIN ab ON ab.tgt = n1.tgt
       |LEFT JOIN b1 ON b1.tgt = n1.tgt""".stripMargin

  // ------------------- ANN recall monitoring (§2.10 ext)
  // recall@k of the multi-probe LSH IVF (q22) against the exact top-k
  // (q21), per query — index quality as a first-class, oracle-checked
  // pipeline diagnostic rather than a test-only figure. Both arms are
  // the registered queries' own plans; the oracle composes both
  // registered oracles verbatim.
  private[queries] def q141AnnRecall(s: SparkSession, d: String): DataFrame =
    annRecall(q21CosineTopK(s, d), q22CosineIvf(s, d))

  /** Per-query recall@k of an approximate top-k (`ann`) against its exact
    * baseline (`exact`), both `(query_id, neighbor_id)` tables: `n_hit`
    * exact neighbors found, `recall` = n_hit / k snapped to 6 places —
    * the `ex LEFT JOIN ap` body every composed recall oracle replays. */
  private[graft] def annRecall(exact: DataFrame, ann: DataFrame): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      .join(ann.select(col("query_id").as("aq"), col("neighbor_id").as("an")),
        col("query_id") === col("aq") && col("neighbor_id") === col("an"),
        "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k"), count(col("an")).as("n_hit"))
      .select(col("query_id"), col("n_hit"),
        round(col("n_hit").cast("double") / col("k").cast("double"), 6)
          .as("recall"))

  private[queries] lazy val q141Sql =
    s"""WITH ex AS (SELECT query_id, neighbor_id FROM ($q21Sql)),
       |ap AS (SELECT query_id AS aq, neighbor_id AS an FROM ($q22Sql))
       |SELECT query_id, CAST(count(an) AS BIGINT) AS n_hit,
       |  round(CAST(count(an) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |    AS recall
       |FROM ex LEFT JOIN ap ON query_id = aq AND neighbor_id = an
       |GROUP BY query_id""".stripMargin

  // ------------------- ANN recall ladder (§2.10 embeddings)
  // q141 covered the hash-bucket IVF arm; these close the quantization
  // family: every approximate serving layout gets a REGISTERED recall
  // query against its own metric's exact baseline (ADC ranks by L2 →
  // exact L2; SQ8 ranks by inner product → exact dot; BQ reranks by
  // cosine → exact cosine). q146/q147's arms are fully deterministic, so
  // their recall tables are EXACT oracle compositions (q141 pattern);
  // q145/q148 use MLlib k-means coarse centroids — not SQL-replayable —
  // so they assert the q31 recall-floor pattern instead, with measured
  // values documented in SCALE.md.

  /** Per-query hit counts of an approximate arm against its exact
    * baseline — the raw recall table the floors below assert over (and
    * what RecallMeasure prints when re-measuring the documented figures). */
  private[queries] def recallHits(qset: DataFrame, ann: DataFrame,
                         exact: DataFrame): DataFrame = {
    val hitCounts = ann.select("query_id", "neighbor_id")
      .join(exact.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    qset.select(col("vec_id").as("query_id"))
      .join(hitCounts, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** [[recallHits]] of the two-stage serving shape every learned-coarse
    * floor query measures: `shortlist` exact-L2 re-ranked to the top 5
    * per query of `qset`, against the exact L2 top 5. */
  private[queries] def rerankL2Hits(embs: DataFrame, qset: DataFrame,
                                    shortlist: DataFrame): DataFrame =
    recallHits(qset,
      graft.operators.Quantize.rerankL2(shortlist, embs, qset,
        "vec_id", "embedding", k = 5),
      Similarity.bruteForceTopKL2(embs, qset, "vec_id", "embedding", k = 5))

  /** q31's floor tail: `recall_ok` = per-query floor AND total floor.
    * The total runs over an always-zero non-foldable key on the ≤|Q|-row
    * recall table: an explicit partition spec, never an empty-spec global
    * window (see Sketch.quantilesFromSample's scaladoc for the rule). */
  private[queries] def recallFloor(hits: DataFrame, perQueryFloor: Long,
                          totalFloor: Long): DataFrame =
    hits.select(col("query_id"),
      (col("hits") >= perQueryFloor &&
        sum(col("hits")).over(Window.partitionBy(pmod(col("hits"), lit(1L))))
          >= totalFloor).as("recall_ok"))

  // Learned-coarse IVF-PQ: the k-means coarse quantizer (Quantize
  // .learnedCoarse — equalized list populations, the property the
  // nProbe/nLists pruning claim assumes) + seed-row PQ codebook +
  // two-stage serving (ADC shortlist R=200, exact L2 re-rank).
  // Floors follow q31's discipline: each of the 10 queries must land
  // >= 1 of its 5 true L2 neighbors AND the total must reach 20/50
  // (recall >= 0.4 with margin). Measured hits@5 (seed 42, local[32]):
  //   q145  sf0.001: Σ45 (.90)   sf0.01: Σ40 (.80)   sf0.1: Σ28 (.56)
  //   q148  sf0.001: Σ45 (.90)   sf0.01: Σ40 (.80)   sf0.1: Σ34 (.68)
  //   q243  sf0.001: Σ46 (.92)   sf0.01: Σ40 (.80)   sf0.1: Σ36 (.72)
  // — the codebook ladder at the scale where the shortlist is tight:
  // flat seed .56 < seed residual .68 < learned-subspace residual .72.
  // (re-measure with `runMain graft.tools.RecallMeasure`).
  private[queries] lazy val q145NProbe = 4 // half the lists: the recall queries' probe budget
  private[queries] lazy val q145Shortlist = 200 // ADC shortlist R >> k, exact-reranked
  private[queries] lazy val q145PerQueryFloor = 1L
  private[queries] lazy val q145TotalFloor = 20L

  private[graft] def q145HitsTable(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val cb = graft.operators.Quantize.seedCodebook(embs, col("vec_id"),
      col("embedding"), pqSeedIds)
    val coarse = graft.operators.Quantize.learnedCoarse(embs,
      col("embedding"), nLists = 8, seed = 42L)
    val codes = graft.operators.Quantize.pqEncode(embs, col("vec_id"),
        col("embedding"), cb, pqM, pqDim,
        keep = Seq(graft.operators.Quantize.ivfListCol(col("embedding"),
          coarse).as("list_id")))
      .drop("distortion")
    val qset = embs.filter(col("vec_id") < 10)
    // two-stage serving: ADC shortlist (R = 50 per query) → exact L2
    // re-rank of the survivors — quantization error costs recall only
    // via shortlist misses, the standard IVFADC deployment shape
    val shortlist = graft.operators.Quantize.ivfPqTopK(codes, qset,
      "vec_id", "embedding", coarse, cb, pqM, pqDim, q145NProbe, k = q145Shortlist)
    rerankL2Hits(embs, qset, shortlist)
  }

  private[queries] def q145IvfPqLearnedRecall(s: SparkSession, d: String): DataFrame =
    recallFloor(q145HitsTable(s, d), q145PerQueryFloor, q145TotalFloor)

  private[queries] lazy val q145Sql =
    s"""SELECT CAST(range AS BIGINT) AS query_id, true AS recall_ok
       |FROM range(10)""".stripMargin

  // SQ8 recall vs exact maximum-inner-product top-k: both arms are
  // deterministic, so the recall table is an exact oracle composition.
  private[queries] def q146Sq8Recall(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val qset = embs.filter(col("vec_id") < 5)
    val ann = graft.operators.Quantize.sq8TopK(embs, qset,
      "vec_id", "embedding", k = 3)
    val exact = Similarity.bruteForceTopKDot(embs, qset,
      "vec_id", "embedding", k = 3)
    annRecall(exact, ann)
  }

  private[queries] lazy val q146Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
       |         list_inner_product(q.qv, c.v) AS score
       |       FROM e c CROSS JOIN qs q WHERE q.query_id <> c.vec_id),
       |ex AS (SELECT query_id, neighbor_id FROM
       |  (SELECT *, row_number() OVER (
       |     PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r
       |   FROM sc) WHERE r <= 3),
       |ap AS (SELECT query_id AS aq, neighbor_id AS an FROM ($q99Sql))
       |SELECT query_id, CAST(count(an) AS BIGINT) AS n_hit,
       |  round(CAST(count(an) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |    AS recall
       |FROM ex LEFT JOIN ap ON query_id = aq AND neighbor_id = an
       |GROUP BY query_id""".stripMargin

  // BQ recall vs exact cosine top-k: the Hamming candidate cut is the
  // only recall loss (the rerank is exact cosine), so this measures
  // exactly what the 1-bit signature costs. Fully composed oracle.
  private[queries] def q147BqRecall(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val qset = embs.filter(col("vec_id") < 5)
    val ann = q104BqTopK(s, d)
    val exact = Similarity.bruteForceTopK(embs, qset,
      "vec_id", "embedding", k = 3)
    annRecall(exact, ann)
  }

  private[queries] lazy val q147Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
       |         list_inner_product(q.qv, c.v) /
       |           (sqrt(list_inner_product(q.qv, q.qv)) *
       |            sqrt(list_inner_product(c.v, c.v))) AS cs
       |       FROM e c CROSS JOIN qs q WHERE q.query_id <> c.vec_id),
       |ex AS (SELECT query_id, neighbor_id FROM
       |  (SELECT *, row_number() OVER (
       |     PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS r
       |   FROM sc) WHERE r <= 3),
       |ap AS (SELECT query_id AS aq, neighbor_id AS an FROM ($q104Sql))
       |SELECT query_id, CAST(count(an) AS BIGINT) AS n_hit,
       |  round(CAST(count(an) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |    AS recall
       |FROM ex LEFT JOIN ap ON query_id = aq AND neighbor_id = an
       |GROUP BY query_id""".stripMargin

  // Learned-coarse residual IVFADC (the full Jégou formulation under a
  // k-means coarse quantizer): residual PQ codebook re-derived against
  // the learned centroids; same floors discipline as q145.
  private[queries] lazy val q148PerQueryFloor = 1L
  private[queries] lazy val q148TotalFloor = 20L

  private[graft] def q148HitsTable(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val coarse = graft.operators.Quantize.learnedCoarse(embs,
      col("embedding"), nLists = 8, seed = 42L)
    val rb = graft.operators.Quantize.residualSeedCodebook(embs,
      col("vec_id"), col("embedding"), pqSeedIds, coarse)
    val codes = ivfResidualCodes(embs, coarse, rb)
    val qset = embs.filter(col("vec_id") < 10)
    val shortlist = graft.operators.Quantize.ivfPqResidualTopK(codes, qset,
      "vec_id", "embedding", coarse, rb, pqM, pqDim, q145NProbe, k = q145Shortlist)
    rerankL2Hits(embs, qset, shortlist)
  }

  private[queries] def q148IvfadcLearnedRecall(s: SparkSession, d: String): DataFrame =
    recallFloor(q148HitsTable(s, d), q148PerQueryFloor, q148TotalFloor)

  private[queries] lazy val q148Sql =
    s"""SELECT CAST(range AS BIGINT) AS query_id, true AS recall_ok
       |FROM range(10)""".stripMargin

  // ------------------- learned-PQ IVFADC recall (§2.10 ext)
  // q148 with the training step PQ actually prescribes (Jégou et al.
  // 2011): per-subspace k-means codebooks fit in RESIDUAL space
  // (Quantize.learnedSubCodebooks) replacing q148's seed-row residual
  // codebook — same coarse quantizer, serving shape (nProbe-pruned ADC
  // shortlist → exact re-rank), floors discipline, and recall-floor
  // oracle. The measured uplift vs the seed arm is in SCALE.md
  // (`runMain graft.tools.RecallMeasure` prints all three arms).
  private[queries] lazy val q243PerQueryFloor = 1L
  private[queries] lazy val q243TotalFloor = 20L

  private[graft] def q243HitsTable(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val coarse = graft.operators.Quantize.learnedCoarse(embs,
      col("embedding"), nLists = 8, seed = 42L)
    val listC = graft.operators.Quantize.ivfListCol(col("embedding"),
      coarse)
    val resC = graft.operators.Quantize.ivfResidualCol(col("embedding"),
      coarse, listC)
    val rb = graft.operators.Quantize.learnedSubCodebooks(embs, resC,
      pqM, pqDim, k = pqSeedIds.size, seed = 7L)
    val codes = graft.operators.Quantize.pqEncode(embs, col("vec_id"),
        resC, rb, pqM, pqDim, keep = Seq(listC.as("list_id")))
      .drop("distortion")
    val qset = embs.filter(col("vec_id") < 10)
    val shortlist = graft.operators.Quantize.ivfPqResidualTopK(codes,
      qset, "vec_id", "embedding", coarse, rb, pqM, pqDim, q145NProbe,
      k = q145Shortlist)
    rerankL2Hits(embs, qset, shortlist)
  }

  private[queries] def q243LearnedPqRecall(s: SparkSession, d: String): DataFrame =
    recallFloor(q243HitsTable(s, d), q243PerQueryFloor, q243TotalFloor)

  private[queries] lazy val q243Sql =
    s"""SELECT CAST(range AS BIGINT) AS query_id, true AS recall_ok
       |FROM range(10)""".stripMargin

  // ------------------- learned OPQ recall (§2.10 ext)
  // q173's rotated-PQ serving shape with BOTH halves trained: the
  // rotation and the per-subspace codebooks come from the OPQ
  // alternating-minimization loop (Quantize.learnedOpq — Procrustes
  // rotation updates against per-subspace k-means), instead of q117's
  // seed-117 random rotation + seed-row codebook. Same two-stage ADC
  // shortlist → exact original-space re-rank; LAPACK SVD is not
  // SQL-replayable, so the oracle is the q243-style recall floor, and
  // the measured ladder vs the random-rotation arm is in SCALE.md.
  private[queries] lazy val q247PerQueryFloor = 1L
  private[queries] lazy val q247TotalFloor = 20L

  private[graft] def q247HitsTable(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val (rotM, cb) = graft.operators.Quantize.learnedOpq(embs,
      col("embedding"), pqM, pqDim, k = pqSeedIds.size, seed = 11L)
    val rot = embs.select(col("vec_id"),
      Similarity.rpProject(col("embedding").cast("array<double>"), rotM)
        .as("rvec"))
    val codes = graft.operators.Quantize.pqEncode(rot, col("vec_id"),
        col("rvec"), cb, pqM, pqDim)
      .drop("distortion")
    val qset = rot.filter(col("vec_id") < 10)
    val shortlist = graft.operators.Quantize.pqAdcTopK(codes, qset,
      "vec_id", "rvec", cb, pqM, pqDim, k = q145Shortlist)
    val origQ = embs.filter(col("vec_id") < 10)
    rerankL2Hits(embs, origQ, shortlist)
  }

  private[queries] def q247LearnedOpqRecall(s: SparkSession, d: String): DataFrame =
    recallFloor(q247HitsTable(s, d), q247PerQueryFloor, q247TotalFloor)

  private[queries] lazy val q247Sql =
    s"""SELECT CAST(range AS BIGINT) AS query_id, true AS recall_ok
       |FROM range(10)""".stripMargin

  // ------------------- OPQ × IVF serving composition (§2.10 ext)
  // q247 proved the learned rotation on a FULL ADC scan; this is how
  // production OPQ actually serves (FAISS's OPQ+IVFPQ): the coarse
  // quantizer is q148/q243's EXACT learned quantizer (same call, same
  // seed — so the probe sets and the coarse-miss ceiling are shared and
  // the recall delta is attributable to the residual stage alone), and
  // the OPQ pair (rotation + per-subspace codebooks) is trained on the
  // RESIDUAL distribution — the vectors PQ actually encodes here (Ge et
  // al.'s objective applied where it belongs). Serving rides the
  // orthogonal-invariance identity R·(x − c) = R·x − R·c: rotate the
  // corpus map-side and hand ivfPqResidualTopK the ROTATED coarse
  // centroids — probe distances are unchanged (orthogonal R preserves
  // L2), residuals come out OPQ-rotated, and the serving operator needs
  // no rotation hook. Codes land hive-partitioned on list_id (ingest
  // layout == serving layout, the q97/IvfPqStream discipline, so the
  // broadcast probe join partition-prunes the scan via DPP,
  // PlanShapeSpec-asserted); the re-rank is exact L2 in the ORIGINAL
  // space. Probe config is IDENTICAL to q148/q243 (nLists=8, nProbe=4,
  // shortlist 200, m=8 × k=16 codes) — ladder + probe-ceiling analysis
  // in SCALE.md. Training is all bounded driver-side fits; LAPACK SVD
  // is not SQL-replayable, so the oracle is the recall floor (q243's
  // pattern).
  private[queries] lazy val q248PerQueryFloor = 1L
  private[queries] lazy val q248TotalFloor = 20L

  private[graft] def q248HitsTable(s: SparkSession, d: String,
                                   nLists: Int = 8,
                                   nProbe: Int = q145NProbe,
                                   m: Int = pqM,
                                   shortlist: Int = q145Shortlist): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val coarse = graft.operators.Quantize.learnedCoarse(embs,
      col("embedding"), nLists = nLists, seed = 42L)
    val listC = graft.operators.Quantize.ivfListCol(col("embedding"),
      coarse)
    val resC = graft.operators.Quantize.ivfResidualCol(col("embedding"),
      coarse, listC)
    // OPQ trained on the residuals themselves; the codebook that falls
    // out of the final alternation is the serving codebook
    val (rotM, rcb) = graft.operators.Quantize.learnedOpq(embs, resC,
      m, pqDim, k = pqSeedIds.size, seed = 11L)
    val rotCoarse = coarse.map { case (l, c) =>
      l -> rotM.map(row => row.zip(c).map { case (a, b) => a * b }.sum)
    }
    val rot = embs.select(col("vec_id"),
      Similarity.rpProject(col("embedding").cast("array<double>"), rotM)
        .as("rvec"))
    val rListC = graft.operators.Quantize.ivfListCol(col("rvec"),
      rotCoarse)
    val rResC = graft.operators.Quantize.ivfResidualCol(col("rvec"),
      rotCoarse, rListC)
    val codes = graft.operators.Quantize.pqEncode(rot, col("vec_id"),
        rResC, rcb, m, pqDim, keep = Seq(rListC.as("list_id")))
      .drop("distortion")
    // serving reads the index files — JVM-exit sweep (q97's precedent)
    val dir = CacheHygiene.tempDir("opq_ivf") + "/codes"
    codes.repartition(col("list_id")).write.mode("overwrite")
      .partitionBy("list_id").parquet(dir)
    val qset = rot.filter(col("vec_id") < 10)
    val short = graft.operators.Quantize.ivfPqResidualTopK(
      s.read.parquet(dir), qset, "vec_id", "rvec", rotCoarse, rcb, m,
      pqDim, nProbe, k = shortlist)
    val origQ = embs.filter(col("vec_id") < 10)
    rerankL2Hits(embs, origQ, short)
  }

  private[queries] def q248OpqIvfRecall(s: SparkSession, d: String): DataFrame =
    recallFloor(q248HitsTable(s, d), q248PerQueryFloor, q248TotalFloor)

  private[queries] lazy val q248Sql =
    s"""SELECT CAST(range AS BIGINT) AS query_id, true AS recall_ok
       |FROM range(10)""".stripMargin

  // ------------------- coarse-stage probe-ceiling sweep (§2.10 ext)
  // q248's residual-OPQ arm sits AT its measured probe ceiling (SCALE.md
  // r16: 38/50 served vs 39/50 ceiling): with the ADC gap closed, the
  // remaining misses are exact neighbors whose home list is simply not
  // among the query's probes — a coarse-stage property no codebook can
  // recover. This sweeps coarse GRANULARITY at a CONSTANT
  // scanned-candidate fraction (nProbe/nLists = 1/2 throughout — the
  // q145 probe budget; learnedCoarse equalizes list populations, so the
  // fraction is the scan cost): per arm, fit the learned coarse
  // quantizer at nLists and check each exact top-5 neighbor's home list
  // for membership in its query's nProbe nearest lists. Finer partitions
  // target the same scan budget better; the measured curve (SCALE.md
  // r17) picks q252's serving operating point. The brute-force truth is
  // computed ONCE and spilled (4 arms re-read it); each arm is then a
  // map-side assignment + one broadcast join over 50 rows. K-means is
  // not SQL-replayable → floor oracle (q243's pattern); n_exact IS
  // replayable and rides the compare.
  private[queries] lazy val q251Configs = Seq((4, 2), (8, 4), (16, 8), (32, 16))
  private[queries] lazy val q251Floor = 30L // of 50, conservative across SFs

  private[graft] def q251CeilingTable(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val origQ = embs.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopKL2(embs, origQ,
      "vec_id", "embedding", k = 5)
    val neigh = graft.operators.CacheHygiene.spillToTempParquet(
      exact.select(col("query_id"), col("neighbor_id"))
        .join(embs.select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("nv")),
          Seq("neighbor_id")),
      "q251_neigh")
    // r19 (guide §2.6, q253's discipline): the four (nLists, nProbe) arms
    // are independent apart from their training relation — each fits its
    // OWN seeded MLlib coarse quantizer, and the rest of the arm is lazy
    // plan construction — so the fits run as concurrent driver threads
    // and the wall is max(fits), not the sum. All four fit on the same
    // feature projection, cached once here: the cache manager keys
    // entries by plan with no reference count, so a per-fit cache would
    // be dropped by the first arm to finish while the others still read
    // it (fitQuantizer leaves a relation it finds cached alone). Each fit
    // is deterministic (seed 42, fixed data) regardless of scheduling, so
    // arm contents are unchanged.
    val features = graft.operators.Quantize
      .coarseFeatures(embs, col("embedding")).persist()
    val arms = try graft.streaming.PollOps.inParallel(q251Configs.map {
      case (nl, np) => () => {
      val coarse = graft.operators.Quantize.learnedCoarse(embs,
        col("embedding"), nLists = nl, seed = 42L)
      val probed = origQ.select(col("vec_id").as("query_id"),
        graft.operators.Quantize.ivfProbesCol(col("embedding"), coarse, np)
          .as("__probes"))
      neigh
        .withColumn("n_list",
          graft.operators.Quantize.ivfListCol(col("nv"), coarse))
        .join(broadcast(probed), Seq("query_id"))
        .select(lit(nl).as("n_lists"), lit(np).as("n_probe"),
          array_contains(col("__probes"), col("n_list")).as("hit"))
    }}) finally features.unpersist()
    arms.reduce(_ unionByName _)
      .groupBy(col("n_lists"), col("n_probe"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_ceiling"))
  }

  private[queries] def q251CoarseCeiling(s: SparkSession, d: String): DataFrame =
    q251CeilingTable(s, d).select(col("n_lists"), col("n_probe"),
      col("n_exact"),
      (col("n_ceiling") >= q251Floor).as("ceiling_ok"))

  private[queries] lazy val q251Sql = {
    val arms = q251Configs.map { case (nl, np) => s"($nl, $np)" }
      .mkString(", ")
    s"""SELECT n_lists, n_probe,
       |  (SELECT least(5, count(*) - 1) FROM embeddings) * 10 AS n_exact,
       |  true AS ceiling_ok
       |FROM (VALUES $arms) t(n_lists, n_probe)""".stripMargin
  }

  // ------------------- finer-coarse OPQ×IVF serving (§2.10 ext)
  // The q251 ceiling sweep's conclusion, SERVED: q248's exact
  // composition (learned coarse → residual-OPQ → ADC shortlist → exact
  // re-rank) at (nLists=32, nProbe=16) — the SAME scanned-candidate
  // fraction (1/2), where the sweep measured the probe ceiling at 47/50
  // vs the (8,4) arm's 39/50 at sf0.1. This is the r16 verdict's "raise
  // the coarse ceiling" arm: recall q248's ADC could not reach because
  // the right list was never probed is bought back purely by coarse
  // granularity, at unchanged scan cost. Measured served hits@5 and the
  // ladder vs q248 are in SCALE.md r17. Floor oracle (q243's pattern).
  private[queries] lazy val q252PerQueryFloor = 1L
  private[queries] lazy val q252TotalFloor = 20L

  private[queries] def q252OpqIvfFine(s: SparkSession, d: String): DataFrame =
    recallFloor(q248HitsTable(s, d, nLists = 32, nProbe = 16),
      q252PerQueryFloor, q252TotalFloor)

  private[queries] lazy val q252Sql =
    s"""SELECT CAST(range AS BIGINT) AS query_id, true AS recall_ok
       |FROM range(10)""".stripMargin

  // ------------------- shortlist/ADC dial sweep at the fine coarse (§2.10 ext)
  // q252 serves 43/50 at sf0.1 against its own measured 47/50 probe
  // ceiling (SCALE.md r17) — the residual misses are SHORTLIST/ADC
  // losses: the right list is probed, but the true neighbor is ranked
  // below position R by the quantized ADC distance, so the exact
  // re-rank never sees it. The two dials that govern that loss, swept
  // at q252's exact coarse operating point (nLists=32, nProbe=16 —
  // constant scan fraction): shortlist R ∈ {100, 200, 400} (R only
  // changes the WindowGroupLimit rank bound on the already-scanned
  // candidates — scan cost is UNCHANGED; the exact re-rank grows
  // linearly in R over R×10 rows, noise at any scale) and pqM ∈ {8, 16}
  // (16 subspaces of 4 dims halve the per-subspace quantization error at
  // 2× the code bytes — ADC cost per candidate scales with m, scan
  // fraction unchanged). One index build per m serves all three R arms;
  // the brute-force truth is computed ONCE and spilled (q251's pattern).
  // K-means/SVD not SQL-replayable → floor oracle; n_exact rides the
  // compare (replayable: 10 queries × min(5, n−1) exact neighbors).
  private[queries] lazy val q253Ms = Seq(8, 16)
  private[queries] lazy val q253Rs = Seq(100, 200, 400)
  private[queries] lazy val q253Floor = 30L // of 50, conservative across SFs

  private[graft] def q253SweepTable(s: SparkSession, d: String,
                                    nLists: Int = 32,
                                    nProbe: Int = 16): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val origQ = embs.filter(col("vec_id") < 10)
    val exact = graft.operators.CacheHygiene.spillToTempParquet(
      Similarity.bruteForceTopKL2(embs, origQ, "vec_id", "embedding",
        k = 5).select(col("query_id"), col("neighbor_id")),
      "q253_exact")
    // coarse stage is m-independent: one fit serves every arm
    val coarse = graft.operators.Quantize.learnedCoarse(embs,
      col("embedding"), nLists = nLists, seed = 42L)
    val listC = graft.operators.Quantize.ivfListCol(col("embedding"),
      coarse)
    val resC = graft.operators.Quantize.ivfResidualCol(col("embedding"),
      coarse, listC)
    // r19 (guide §2.6): the per-m pipelines are mutually independent —
    // separate OPQ fits (driver-side breeze over collected samples),
    // separate temp index dirs, separate spills — so they run as
    // concurrent driver threads; their Spark jobs interleave on the one
    // scheduler and the wall is max(m-arms), not the sum. Each arm's
    // content is unchanged (deterministic, own dirs), so results are too.
    graft.streaming.PollOps.inParallel(q253Ms.map { m => () => {
      // per-m: OPQ rotation + residual codebooks + the codes index,
      // built once and re-read by all R arms (serving reads files,
      // q248/q97's discipline)
      val (rotM, rcb) = graft.operators.Quantize.learnedOpq(embs, resC,
        m, pqDim, k = pqSeedIds.size, seed = 11L)
      val rotCoarse = coarse.map { case (l, c) =>
        l -> rotM.map(row => row.zip(c).map { case (a, b) => a * b }.sum)
      }
      val rot = embs.select(col("vec_id"),
        Similarity.rpProject(col("embedding").cast("array<double>"), rotM)
          .as("rvec"))
      val rListC = graft.operators.Quantize.ivfListCol(col("rvec"),
        rotCoarse)
      val rResC = graft.operators.Quantize.ivfResidualCol(col("rvec"),
        rotCoarse, rListC)
      val codes = graft.operators.Quantize.pqEncode(rot, col("vec_id"),
          rResC, rcb, m, pqDim, keep = Seq(rListC.as("list_id")))
        .drop("distortion")
      val dir = CacheHygiene.tempDir("q253_ivf") + "/codes"
      codes.repartition(col("list_id")).write.mode("overwrite")
        .partitionBy("list_id").parquet(dir)
      val qset = rot.filter(col("vec_id") < 10)
      // ONE ADC scan per m at the LARGEST R, spilled (guide §1.2/§2.4:
      // the R arms differ only in the row_number rank bound, and the
      // rank order (adc_dist asc, neighbor_id asc) is total, so
      // top-R ≡ filter(rank <= R) over the top-Rmax table EXACTLY —
      // this replaces |Rs| full index scans + windows per m with one,
      // and the union-of-arms plan reads a 10×Rmax-row spill instead
      // of |Rs| inlined scan+window subtrees (r18: 41.7 s → see
      // OPTIMIZATION_r18.md for the after number)
      val shortMax = graft.operators.CacheHygiene.spillToTempParquet(
        graft.operators.Quantize.ivfPqResidualTopK(
          s.read.parquet(dir), qset, "vec_id", "rvec", rotCoarse, rcb, m,
          pqDim, nProbe, k = q253Rs.max),
        "q253_short")
      // exact re-rank distances computed ONCE per m over the Rmax
      // shortlist (guide §1.2/§2.4, r18): rerankL2 over the rank<=R
      // prefix ranks by (exact dist asc, neighbor_id asc), and a
      // (query, candidate) pair's exact distance does not depend on R —
      // so ONE corpus join scores the Rmax candidates (same l2sq over
      // the same array<double> casts as rerankL2, bit-identical dists)
      // and each R arm becomes filter(rank<=R) + top-5 window over the
      // 10×Rmax-row spill, replacing |Rs| corpus scans + joins per m.
      val scored = graft.operators.CacheHygiene.spillToTempParquet(
        embs.select(col("vec_id").as("neighbor_id"),
            col("embedding").cast("array<double>").as("__cv"))
          .join(broadcast(shortMax.select(col("query_id"),
            col("neighbor_id"), col("rank"))), Seq("neighbor_id"))
          .join(broadcast(origQ.select(col("vec_id").as("query_id"),
            col("embedding").cast("array<double>").as("__qv"))),
            Seq("query_id"))
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            graft.functions.VectorExprs.l2sq(col("__qv"), col("__cv"))
              .as("dist")),
        "q253_scored")
      q253Rs.map { r =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("dist").asc, col("neighbor_id").asc)
        val ann = scored.filter(col("rank") <= r)
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= 5)
        exact
          .join(ann.select(col("query_id"), col("neighbor_id"))
              .withColumn("__hit", lit(true)),
            Seq("query_id", "neighbor_id"), "left")
          .select(lit(m).as("pq_m"), lit(r).as("shortlist_r"),
            coalesce(col("__hit"), lit(false)).as("hit"))
      }.reduce(_ unionByName _)
    }}).reduce(_ unionByName _)
      .groupBy(col("pq_m"), col("shortlist_r"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hits"))
  }

  private[queries] def q253ShortlistSweep(s: SparkSession, d: String): DataFrame =
    q253SweepTable(s, d).select(col("pq_m"), col("shortlist_r"),
      col("n_exact"), (col("n_hits") >= q253Floor).as("arm_ok"))

  private[queries] lazy val q253Sql = {
    val arms = (for (m <- q253Ms; r <- q253Rs) yield s"($m, $r)")
      .mkString(", ")
    s"""SELECT pq_m, shortlist_r,
       |  (SELECT least(5, count(*) - 1) FROM embeddings) * 10 AS n_exact,
       |  true AS arm_ok
       |FROM (VALUES $arms) t(pq_m, shortlist_r)""".stripMargin
  }

  // ------------------- ceiling-saturating OPQ×IVF serving (§2.10 ext)
  // The q253 sweep's conclusion, SERVED: q248's exact composition at
  // (nLists=32, nProbe=16) — q252's coarse operating point — with
  // pqM=16 (4-dim subspaces halve per-subspace quantization error; 2×
  // code bytes, scan FRACTION unchanged) and shortlist R=400 (a rank
  // bound on already-scanned candidates — zero extra scan; the exact
  // re-rank reads 400×10 rows). Measured served hits@5 (seed 42):
  // sf0.001 48, sf0.01 48, sf0.1 **47 = the measured coarse probe
  // ceiling itself** (q251's (32,16) arm) — the shortlist/ADC residual
  // that kept q252 at 43 is fully closed; any further recall now
  // requires probing more lists (a scan-fraction trade, not a codebook
  // one). Ladder at sf0.1: q248 38 → q252 43 → q254 47, all at
  // nProbe/nLists = 1/2. Floor oracle (q243's pattern).
  private[queries] lazy val q254PerQueryFloor = 2L
  private[queries] lazy val q254TotalFloor = 45L

  private[queries] def q254OpqIvfSaturated(s: SparkSession, d: String): DataFrame =
    recallFloor(q248HitsTable(s, d, nLists = 32, nProbe = 16,
        m = 16, shortlist = 400),
      q254PerQueryFloor, q254TotalFloor)

  private[queries] lazy val q254Sql =
    s"""SELECT CAST(range AS BIGINT) AS query_id, true AS recall_ok
       |FROM range(10)""".stripMargin

  // ------------------- streaming OPQ × IVF index (§2.10 ext)
  // q248's production serving composition in its production INGEST
  // regime: the whole learned index — coarse quantizer, OPQ rotation,
  // residual codebooks — is trained ONCE on the FIRST arrival batch
  // (the IVF contract IvfPqStream already states: codebooks are fixed
  // at build time, re-training is a rebuild, not an increment), then
  // every batch encodes map-side against the frozen index and appends
  // into the hive-partitioned codes state. The rotation folds into the
  // stream exactly as in q248 (R·(x−c) = R·x − R·c: rotate vectors and
  // coarse centroids, hand IvfPqStream rotated inputs — the stream
  // needs no rotation hook). What this measures that q248 cannot: the
  // recall COST of training on a 1/3 prefix instead of the full corpus
  // — the number a production deployer actually gets (ladder in
  // SCALE.md). LAPACK SVD is not SQL-replayable, so the oracle is the
  // q243-style recall floor.
  private[queries] lazy val q250PerQueryFloor = 1L
  private[queries] lazy val q250TotalFloor = 20L

  private[graft] def q250HitsTable(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val train = embs.filter(col("vec_id") % 3 === 0) // first arrivals
    val coarse = graft.operators.Quantize.learnedCoarse(train,
      col("embedding"), nLists = 8, seed = 42L)
    val listC = graft.operators.Quantize.ivfListCol(col("embedding"),
      coarse)
    val resC = graft.operators.Quantize.ivfResidualCol(col("embedding"),
      coarse, listC)
    val (rotM, rcb) = graft.operators.Quantize.learnedOpq(train, resC,
      pqM, pqDim, k = pqSeedIds.size, seed = 11L)
    val rotCoarse = coarse.map { case (l, c) =>
      l -> rotM.map(row => row.zip(c).map { case (a, b) => a * b }.sum)
    }
    val dir = CacheHygiene.tempDir("opq_stream")
    val rot = embs.select(col("vec_id"),
      Similarity.rpProject(col("embedding").cast("array<double>"), rotM)
        .as("rvec"))
    StreamSim.modSplits(rot, col("vec_id")).foreach { b =>
      graft.streaming.IvfPqStream.ingestBatch(s, b, dir,
        col("vec_id"), col("rvec"), rotCoarse, rcb, pqM, pqDim)
    }
    val qset = rot.filter(col("vec_id") < 10)
    val shortlist = graft.streaming.IvfPqStream.topK(s, dir, qset,
      "vec_id", "rvec", rotCoarse, rcb, pqM, pqDim, q145NProbe,
      k = q145Shortlist)
    val origQ = embs.filter(col("vec_id") < 10)
    rerankL2Hits(embs, origQ, shortlist)
  }

  private[queries] def q250StreamingOpqIvf(s: SparkSession, d: String): DataFrame =
    recallFloor(q250HitsTable(s, d), q250PerQueryFloor, q250TotalFloor)

  private[queries] lazy val q250Sql =
    s"""SELECT CAST(range AS BIGINT) AS query_id, true AS recall_ok
       |FROM range(10)""".stripMargin

  // ------------------- OPQ-rotation ADC recall (§2.10 ext)
  // The recall arm for the LAST quantization family member without one:
  // q117's rotated-space PQ in the standard two-stage serving shape (ADC
  // shortlist → exact L2 re-rank, the q145 deployment pattern —
  // quantization costs recall only via shortlist misses), scored against
  // the exact L2 top-k in the ORIGINAL space (rotation preserves L2, so
  // the original-space ground truth is the right yardstick — a broken
  // rotation shows up as recall loss, not as a silently rotated
  // "truth"). Both arms are deterministic literals, so the oracle
  // replays rotation, codebook, codes, ADC shortlist, re-rank, and both
  // top-k's.
  private[queries] lazy val q173Shortlist = 100

  private[queries] def q173OpqRecall(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val rot = embs.select(col("vec_id"),
      Similarity.rpProject(col("embedding").cast("array<double>"),
        q117Rotation).as("rvec"))
    val cb = graft.operators.Quantize.seedCodebook(rot, col("vec_id"),
      col("rvec"), pqSeedIds)
    val codes = graft.operators.Quantize.pqEncode(rot, col("vec_id"),
        col("rvec"), cb, pqM, pqDim)
      .drop("distortion")
    val qset = rot.filter(col("vec_id") < 5)
    val shortlist = graft.operators.Quantize.pqAdcTopK(codes, qset,
      "vec_id", "rvec", cb, pqM, pqDim, k = q173Shortlist)
    val ann = graft.operators.Quantize.rerankL2(shortlist, embs,
      embs.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3)
    val exact = Similarity.bruteForceTopKL2(embs,
      embs.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3)
    annRecall(exact, ann)
  }

  private[queries] lazy val q173Sql = {
    val proj = q117Rotation.map(row =>
      "list_inner_product(v0, [" + row.map(_.toString).mkString(", ") + "])")
      .mkString("[", ",\n      ", "]")
    val mins = (0 until pqM).map { j =>
      "list_min([" + pqSeedIds.indices.map(c =>
        s"[${pqDistSql(j, s"cb$c")}, $c.0]").mkString(", ") + s"]) AS m$j"
    }.mkString(",\n    ")
    val codes = (0 until pqM).map(j => s"CAST(m$j[2] AS INTEGER) AS c$j")
      .mkString(", ")
    def qDist(j: Int, c: Int): String = {
      val lo = j * pqSub + 1
      val hi = lo + pqSub
      val diff = s"[q.qv[i] - cb$c.cv[i] for i in range($lo, $hi)]"
      s"list_inner_product($diff, $diff)"
    }
    val adc = (0 until pqM).map { j =>
      "(CASE " + pqSeedIds.indices.map(c =>
        s"WHEN p.c$j = $c THEN ${qDist(j, c)}").mkString(" ") + " END)"
    }.mkString(" + ")
    val cbJoins = pqSeedIds.indices.map(c => s" CROSS JOIN cb$c").mkString
    val d64 = "[qe.v0[i] - c.v0[i] for i in range(1, 65)]"
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0
       |            FROM embeddings),
       |e AS (SELECT vec_id, $proj AS v FROM e0),
       |$pqCbCtes,
       |p0 AS (
       |  SELECT e.vec_id,
       |    $mins
       |  FROM e$cbJoins),
       |p AS (SELECT vec_id, $codes FROM p0),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |sc AS (SELECT q.query_id, p.vec_id AS neighbor_id, $adc AS adc
       |  FROM p CROSS JOIN q$cbJoins WHERE q.query_id <> p.vec_id),
       |sl AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY adc, neighbor_id) AS r FROM sc)
       |  WHERE r <= $q173Shortlist),
       |exd AS (SELECT qe.query_id, c.vec_id AS neighbor_id,
       |    list_inner_product($d64, $d64) AS d
       |  FROM e0 c CROSS JOIN
       |    (SELECT vec_id AS query_id, v0 FROM e0 WHERE vec_id < 5) qe
       |  WHERE qe.query_id <> c.vec_id),
       |ap AS (SELECT query_id AS aq, neighbor_id AS an FROM (
       |  SELECT exd.*, row_number() OVER (
       |    PARTITION BY exd.query_id ORDER BY d, exd.neighbor_id) AS r
       |  FROM exd JOIN sl ON exd.query_id = sl.query_id
       |    AND exd.neighbor_id = sl.neighbor_id)
       |  WHERE r <= 3),
       |ex AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY d, neighbor_id) AS r FROM exd)
       |  WHERE r <= 3)
       |SELECT query_id, CAST(count(an) AS BIGINT) AS n_hit,
       |  round(CAST(count(an) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |    AS recall
       |FROM ex LEFT JOIN ap ON query_id = aq AND neighbor_id = an
       |GROUP BY query_id""".stripMargin
  }

  // ------------------- embedding health panel (§2.10 ext)
  // The datasheet entry that catches a broken embedder before the
  // ANN/dedup family consumes it: ragged dims, zero-norm rows, collapsed
  // norm distribution. Per-row ‖v‖² is the shared sequential-IEEE dot;
  // the mean snaps rows to 1e-9 fixed point and sums in DECIMAL(38,0).
  private[queries] def q161EmbedHealth(s: SparkSession, d: String): DataFrame =
    graft.operators.Datasheet.embeddingHealth(Tables.embeddings(s, d),
      col("embedding"), col("label"))

  private[queries] lazy val q161Sql =
    """WITH e AS (SELECT label,
      |    CAST(len(embedding) AS INTEGER) AS dims,
      |    list_inner_product(CAST(embedding AS DOUBLE[]),
      |      CAST(embedding AS DOUBLE[])) AS n2
      |  FROM embeddings)
      |SELECT label AS grp, CAST(count(*) AS BIGINT) AS n_vecs,
      |  min(dims) AS dim_min, max(dims) AS dim_max,
      |  CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |  round(CAST(sum(CAST(round(n2 * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
      |    / CAST(count(*) AS DOUBLE), 6) AS mean_norm2,
      |  round(min(n2), 6) AS min_norm2,
      |  round(max(n2), 6) AS max_norm2
      |FROM e GROUP BY label""".stripMargin

  // ------------------- IVF nprobe operating curve (§2.10 ext)
  // q141's single-point recall check widened to the whole dial: recall@5
  // AND candidate volume per probe radius 0..3 for the q22 LSH IVF — the
  // curve that picks a serving operating point and catches recall rot
  // when the embedding distribution drifts. Micro-averaged integer
  // counts, one division per row; the oracle replays every arm.
  private[queries] lazy val q159Radii = Seq(0, 1, 2, 3)

  private[queries] def q159ProbeSweep(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    Similarity.ivfProbeSweep(embs, embs.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, dim = 64, bits = q22Bits, seed = 42L,
      radii = q159Radii, exact = q21CosineTopK(s, d))
  }

  private[queries] lazy val q159Sql = {
    val bucket = sqlBucket("v", VectorExprs.lshPlanes(64, q22Bits, 42L))
    val armCtes = q159Radii.map { r =>
      s"""cand$r AS (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |    list_inner_product(q.qv, c.v) / (sqrt(q.qn2) * sqrt(c.n2)) AS c2
         |  FROM b c JOIN q
         |    ON bit_count(xor(CAST(c.bucket AS BIGINT), CAST(q.qb AS BIGINT))) <= $r
         |  WHERE q.query_id <> c.vec_id),
         |ap$r AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY c2 DESC, neighbor_id) AS rk
         |    FROM cand$r) WHERE rk <= 5),
         |m$r AS (SELECT
         |  (SELECT count(*) FROM ex) AS n_exact,
         |  (SELECT count(*) FROM ex t JOIN ap$r a
         |     ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id)
         |    AS n_hit,
         |  (SELECT count(*) FROM cand$r) AS n_cand)""".stripMargin
    }.mkString(",\n")
    val armSelects = q159Radii.map { r =>
      s"""SELECT $r AS probe_hamming, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  round(CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE), 6)
         |    AS recall,
         |  CAST(n_cand AS BIGINT) AS n_cand FROM m$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT vec_id, v, $bucket AS bucket,
       |             list_inner_product(v, v) AS n2 FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb, n2 AS qn2
       |      FROM b WHERE vec_id < 10),
       |ex AS (SELECT query_id, neighbor_id FROM ($q21Sql)),
       |$armCtes
       |$armSelects""".stripMargin
  }

  // ------------------- cluster silhouette (§2.10 ext)
  // Simplified (centroid-distance) silhouette per cluster over seed-row
  // centroids: the clustering-QA panel for the IVF family. Centroids
  // ride the plan as literals; the scan is pure map-side with snap-9
  // decimal means.
  private[queries] lazy val q218NCentroids = 4

  private[queries] def q218Silhouette(s: SparkSession, d: String): DataFrame = {
    // k seed rows collected driver-side (the PQ codebook discipline)
    val cents = Tables.embeddings(s, d)
      .filter(col("vec_id") < q218NCentroids)
      .select(col("vec_id").cast("int").as("cid"),
        col("embedding").cast("array<double>").as("cv"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toIndexedSeq.toSeq))
      .sortBy(_._1).toSeq
    graft.operators.Similarity.clusterSilhouette(
      Tables.embeddings(s, d), "embedding", cents)
  }

  private[queries] lazy val q218Sql =
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |            FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e0
       |      WHERE vec_id < $q218NCentroids),
       |e AS (SELECT * FROM e0 WHERE v IS NOT NULL AND len(v) =
       |      (SELECT len(cv) FROM c ORDER BY cid LIMIT 1)),
       |dd AS (SELECT e.vec_id, c.cid,
       |    sqrt(greatest(list_inner_product(e.v, e.v) -
       |      2.0 * list_inner_product(e.v, c.cv) +
       |      list_inner_product(c.cv, c.cv), 0.0)) AS dist
       |  FROM e CROSS JOIN c),
       |r AS (SELECT vec_id, cid, dist, row_number() OVER (
       |        PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |      FROM dd),
       |ab AS (SELECT a.vec_id, a.cid AS cluster_id, a.dist AS ad,
       |    b.dist AS bd
       |  FROM (SELECT * FROM r WHERE rn = 1) a
       |  JOIN (SELECT * FROM r WHERE rn = 2) b USING (vec_id)),
       |s AS (SELECT cluster_id,
       |    CAST(round(ad * 1e9) AS HUGEINT) AS a9,
       |    CAST(round(bd * 1e9) AS HUGEINT) AS b9,
       |    CAST(round(CASE WHEN greatest(ad, bd) = 0.0 THEN 0.0
       |      ELSE (bd - ad) / greatest(ad, bd) END * 1e9) AS HUGEINT)
       |      AS s9
       |  FROM ab)
       |SELECT CAST(cluster_id AS INTEGER) AS cluster_id,
       |  CAST(count(*) AS BIGINT) AS n_points,
       |  round(CAST(sum(a9) AS DOUBLE) / 1e9 /
       |    CAST(count(*) AS DOUBLE), 6) AS mean_a,
       |  round(CAST(sum(b9) AS DOUBLE) / 1e9 /
       |    CAST(count(*) AS DOUBLE), 6) AS mean_b,
       |  round(CAST(sum(s9) AS DOUBLE) / 1e9 /
       |    CAST(count(*) AS DOUBLE), 6) AS mean_sil
       |FROM s GROUP BY 1""".stripMargin
}
