package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorExprs

/** Product quantization (PQ) for embedding columns: split each `dim`-wide
  * vector into `m` subspaces and store, per subspace, the index of the
  * nearest codebook centroid — `m` small ints instead of `dim` floats
  * (64 floats → 8 bytes at m=8: 32× storage compression, the standard
  * serving-side layout for billion-vector ANN).
  *
  * Codebooks here are SEED-ROW codebooks: the centroid for (subspace j,
  * code c) is the j-th subvector of designated corpus row `centroidIds(c)`
  * — deterministic, data-dependent, and reachable by a relational oracle
  * (a learned k-means codebook plugs into the same encode/score shape; see
  * `Similarity.fitQuantizer` for the sampled-fit pattern).
  *
  * Scale shape: codebooks are dim×k doubles — broadcast; encoding and ADC
  * scoring are pure map-side projections over the corpus (no shuffle);
  * the only shuffle anywhere is the final top-k window by query.
  *
  * Encoding, probe ranking, residuals and ADC tables all run through the
  * [[graft.functions.PqKernels]] codegen'd kernels, which carry the
  * codebook as a reference object and generate fixed-size code at any
  * k. The unrolled plan-literal formulation (k×m distance expressions
  * over sliced literal centroids) computes bit-identical results — same
  * fold order, same (dist, id) tiebreaks — and survives only as the
  * independent cross-check QuantizeSpec's literal≡kernel tests build
  * explicitly. It is not served because its wall time goes to DRIVER
  * planning/codegen of the unrolled expression trees, not task compute:
  * per plan instantiation at (k=16, m=16, dim=64) it cost 4–11 s of
  * driver wall against job sums under 2 s (q253 stage attribution,
  * OPTIMIZATION_r18.md), and past ~64 codes/subspace it overflows
  * janino's 64 KB method limit (SCALE.md § "Round-10 probe: IVF-PQ /
  * IVFADC"). The kernel plans are a few nodes regardless of k×m, and
  * their per-row tight loops over a flat double[] are no slower than the
  * unrolled zip_with chains.
  */
object Quantize {

  /** `keep` columns plus the m ADC lookup tables `__t0..__t{m-1}` of
    * `vec`: per subspace, its exact distance to every code's centroid, in
    * code order — one kernel call per row. */
  private def adcTables(df: DataFrame, keep: Seq[Column], vec: Column,
                        centroids: Seq[(Int, Seq[Double])], m: Int,
                        sub: Int): DataFrame = {
    val tt = df.select((keep :+ graft.functions.PqKernels.adcTablesCol(
      vec, centroids, m, sub).as("__tt")): _*)
    val carried = tt.columns.filter(_ != "__tt").map(col).toSeq
    tt.select((carried ++ (0 until m).map(j =>
      element_at(col("__tt"), j + 1).as(s"__t$j"))): _*)
  }

  /** Per-query ADC top-k over code rows joined to their query's
    * [[adcTables]]: a row's distance is `Σ_j __t_j[c_j]`, summed in
    * subspace order (the order the oracle replays). */
  private def adcTopK(joined: DataFrame, m: Int, k: Int): DataFrame =
    TopK.rank(joined.filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("adc_dist", (0 until m).map(j =>
          element_at(col(s"__t$j"), col(s"c$j") + 1)).reduce(_ + _)),
      "adc_dist", ascending = true, k, 6)

  /** Encode: for each row, `m` code columns `c0..c{m-1}` plus the exact
    * reconstruction distortion (sum of per-subspace min distances).
    * `centroids` is the small collected (code, cv) codebook — it rides
    * the kernel as a reference object (codebooks are broadcast-scale by
    * definition).
    * `keep` columns (aliased) ride the same single projection — how IVF
    * attaches `list_id` without a self-join (see [[ivfListCol]]). */
  def pqEncode(embs: DataFrame, id: Column, vec: Column,
               centroids: Seq[(Int, Seq[Double])], m: Int,
               dim: Int, keep: Seq[Column] = Nil): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    // one reference-object argmin call per row
    val enc = embs.select(
      (id.as("id") +: keep :+
        graft.functions.PqKernels.encodeCol(vec, centroids, m, dim / m)
          .as("__e")): _*)
    val carried = enc.columns.filter(_ != "__e").map(col).toSeq
    val codeCols = (0 until m).map(j =>
      element_at(col("__e").getField("codes"), j + 1).as(s"c$j"))
    enc.select((carried ++ codeCols :+
      round(col("__e").getField("distortion"), 6).as("distortion")): _*)
  }

  /** Asymmetric-distance (ADC) top-k: each query precomputes its exact
    * distance to every codebook centroid (m×k tiny table, map-side), and a
    * corpus row's approximate distance is the sum of the m looked-up
    * entries for its stored codes — no float vectors are read at query
    * time, only the PQ codes. */
  def pqAdcTopK(codes: DataFrame, queries: DataFrame, id: String, vec: String,
                centroids: Seq[(Int, Seq[Double])], m: Int, dim: Int,
                k: Int): DataFrame = {
    val q = adcTables(queries, Seq(col(id).as("query_id")), col(vec),
      centroids, m, dim / m)
    adcTopK(codes.withColumnRenamed("id", "neighbor_id")
      .crossJoin(broadcast(q)), m, k)
  }

  /** Coarse-quantizer assignment for IVF: each row gets the id of its
    * nearest full-dimension coarse centroid (L2, ties → min list id —
    * the same lexicographic (dist, id) argmin as [[pqEncode]]). The
    * centroid table is dim×nLists doubles riding the kernel as a
    * reference object, so assignment is a pure map-side projection; at cluster scale the
    * returned `list_id` is the partitioning/bucketing key for the codes
    * table, which is what makes query-time probing a partition-pruned
    * read instead of a full scan. */
  def ivfListCol(vec: Column, coarse: Seq[(Int, Seq[Double])]): Column =
    element_at(ivfProbesCol(vec, coarse, 1), 1)

  def ivfAssign(embs: DataFrame, id: Column, vec: Column,
                coarse: Seq[(Int, Seq[Double])]): DataFrame =
    embs.select(id.as("id"), ivfListCol(vec, coarse).as("list_id"))

  /** The `nProbe` nearest coarse lists per row, as an int array — the
    * probe selection of [[ivfPqTopK]], [[ivfPqResidualTopK]] and
    * [[sq8IvfTopK]] (and, at nProbe = 1, [[ivfListCol]]'s assignment),
    * exposed for coarse-stage diagnostics (the q251 ceiling
    * sweep: recall lost to probing the WRONG lists is invisible to ADC
    * tuning, so it needs its own measured dial). Map-side: one codegen'd
    * kernel call per row over the reference-object centroid table; ties
    * break on list id like every other lexicographic (dist, list) argmin
    * here. */
  def ivfProbesCol(vec: Column, coarse: Seq[(Int, Seq[Double])],
                   nProbe: Int): Column =
    graft.functions.PqKernels.nearestListsCol(
      vec, coarse, coarse.head._2.length, nProbe)

  /** Residual of `vec` against its assigned coarse centroid — the vector
    * the RESIDUAL PQ codebook quantizes in full IVFADC. Pure map-side: the
    * kernel recomputes the argmin and subtracts in one pass, so `listCol`
    * must BE the argmin list, which is the only thing callers ever pass
    * here. */
  def ivfResidualCol(vec: Column, coarse: Seq[(Int, Seq[Double])],
                     listCol: Column): Column =
    graft.functions.PqKernels.residualCol(vec, coarse, coarse.head._2.length)

  /** Seed-row codebook in RESIDUAL space: each designated row's residual
    * against its own assigned coarse centroid (assignment replayed
    * driver-side with the same lexicographic (dist, list) argmin). Seed
    * rows are corpus rows, so their residuals sample exactly the
    * distribution the residual quantizer must cover — the same reason
    * raw seed rows work for [[pqEncode]]. */
  def residualSeedCodebook(embs: DataFrame, id: Column, vec: Column,
                           seedIds: Seq[Long],
                           coarse: Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double])] = {
    val byList = coarse.toMap
    seedCodebook(embs, id, vec, seedIds).map { case (code, v) =>
      val assigned = coarse.map { case (l, cv) =>
        (l, v.lazyZip(cv).map { (a, b) => val d = a - b; d * d }.sum)
      }.minBy { case (l, d) => (d, l) }._1
      code -> v.lazyZip(byList(assigned)).map(_ - _).toIndexedSeq
    }
  }

  /** Full IVFADC (residual flavor): codes are PQ codes of each row's
    * RESIDUAL against its coarse centroid, and each query builds its ADC
    * tables PER PROBED LIST from its own residual against that list's
    * centroid — the Jégou et al. 2011 formulation. Residual norms are a
    * fraction of raw norms (the coarse quantizer absorbs the bulk of the
    * vector), so quantization distortion and therefore ADC ranking error
    * drop at the same m — the recall gap vs [[ivfPqTopK]] is measured in
    * the ops10 probe. Scan shape is identical: map-side probe selection,
    * broadcast equi-join on list_id (nProbe rows per query on the
    * broadcast side), per-query top-k window as the only shuffle. */
  def ivfPqResidualTopK(codes: DataFrame, queries: DataFrame, id: String,
                        vec: String, coarse: Seq[(Int, Seq[Double])],
                        resCentroids: Seq[(Int, Seq[Double])], m: Int,
                        dim: Int, nProbe: Int, k: Int): DataFrame = {
    val q0 = queries.select(col(id).as("query_id"),
        col(vec).cast("array<double>").as("__qv"))
      .withColumn("list_id",
        explode(ivfProbesCol(col("__qv"), coarse, nProbe)))
    // per (query, probed list): the query's residual vs THAT list's
    // centroid, then the m ADC lookup tables over it. The probed list's
    // centroid arrives via a broadcast RELATION (nLists rows of data, not
    // nLists×dim source literals); the residual is one zip_with
    val spark = queries.sparkSession
    import spark.implicits._
    val residual =
      q0.join(broadcast(coarse.sortBy(_._1).toDF("list_id", "__cc")),
          Seq("list_id"))
        .withColumn("__qr",
          zip_with(col("__qv"), col("__cc"), (a, b) => a - b))
    val q = adcTables(residual, Seq(col("query_id"), col("list_id")),
      col("__qr"), resCentroids, m, dim / m)
    adcTopK(codes.withColumnRenamed("id", "neighbor_id")
      .join(broadcast(q), Seq("list_id")), m, k)
  }

  /** IVFADC (Jégou, Douze, Schmid 2011): inverted-file probe + asymmetric-
    * distance PQ scan — the standard billion-vector serving layout. Corpus
    * rows carry their PQ codes plus a coarse `list_id`; each query ranks
    * the nLists coarse centroids (tiny, in-kernel), keeps its `nProbe`
    * nearest lists, and ADC-scans ONLY rows assigned to those lists.
    *
    * Relative to [[pqAdcTopK]] (full ADC scan), the crossJoin becomes a
    * broadcast EQUI-join on `list_id`: expected scan work drops to
    * nProbe/nLists of the corpus, and with the codes table partitioned or
    * bucketed by `list_id` (see [[ivfAssign]]) the untouched lists are
    * never read at all — that pruning, not the local arithmetic, is the
    * 100 TB win. Probe selection is map-side (one kernel call per query
    * over the nLists centroids — no window, no shuffle on the query side);
    * the only shuffle in the plan is the final per-query top-k window.
    *
    * This variant encodes RAW vectors (codes shared with [[pqEncode]]),
    * not per-list residuals: residual encoding buys recall at the cost of
    * a per-list codebook train/lookup and is a drop-in swap at the encode
    * step — the probe/scan shape here is identical either way.
    *
    * `codes`: (`id`, `c0..c{m-1}`, `list_id`) as produced by
    * [[pqEncode]] + [[ivfAssign]]. At nProbe = nLists the output is
    * row-identical to [[pqAdcTopK]] (spec-pinned). */
  def ivfPqTopK(codes: DataFrame, queries: DataFrame, id: String,
                vec: String, coarse: Seq[(Int, Seq[Double])],
                centroids: Seq[(Int, Seq[Double])], m: Int, dim: Int,
                nProbe: Int, k: Int): DataFrame = {
    // r19 (guide §2.2/§3.1): RAW-codes ADC tables depend only on the
    // query, not the probed list, so broadcasting them on the exploded
    // (query, probed-list) relation shipped every query's m·k-double
    // tables nProbe TIMES. Split the broadcast: a skinny
    // (query_id, list_id) probe relation keys the scan's equi-join
    // (pruning shape unchanged), and the tables ride a second per-query
    // broadcast joined on query_id — nProbe× fewer broadcast bytes on
    // the heavy side. Same expressions over the same rows → the joined
    // table VALUES, and therefore adc_dist, are bit-identical
    // (spec-pinned: nProbe = nLists ≡ full ADC scan).
    val qProbes = queries.select(col(id).as("query_id"),
      explode(ivfProbesCol(col(vec), coarse, nProbe)).as("list_id"))
    val qTables = adcTables(queries, Seq(col(id).as("query_id")), col(vec),
      centroids, m, dim / m)
    adcTopK(codes.withColumnRenamed("id", "neighbor_id")
      .join(broadcast(qProbes), Seq("list_id"))
      .join(broadcast(qTables), Seq("query_id")), m, k)
  }

  /** Int8 scalar quantization (SQ8) — the OTHER standard serving layout
    * next to PQ: keep every dimension but store it in one signed byte.
    * Per row, `scale = max_i |v_i| / 127` (1.0 for the all-zero vector so
    * the encode is total) and `code_i = round(v_i / scale)` ∈ [-127, 127];
    * 4× smaller than float32 with no codebook to train, ship, or probe —
    * the usual first rung of the memory/recall ladder before PQ.
    *
    * Everything is exactly replayable by a relational oracle: both engines
    * round half-away-from-zero, and the per-row max/divide/round sequence
    * is the same IEEE op order, so codes — and therefore scores — are
    * bit-identical.
    *
    * Scale shape: pure map-side projection over the corpus (no shuffle,
    * no broadcast — the "codebook" is the row's own scale column). `keep`
    * columns (aliased) ride the same projection — how IVF attaches
    * `list_id` without a self-join (the [[pqEncode]] contract). */
  def sq8Encode(embs: DataFrame, id: Column, vec: Column,
                keep: Seq[Column] = Nil): DataFrame = {
    val staged = embs.select((id.as("id") +: keep :+
        vec.cast("array<double>").as("__v")): _*)
      .withColumn("__mx", array_max(transform(col("__v"), x => abs(x))))
      .withColumn("scale",
        when(col("__mx") === 0.0, lit(1.0)).otherwise(col("__mx") / 127.0))
    val carried = staged.columns
      .filterNot(c => c == "__v" || c == "__mx" || c == "scale")
      .map(col).toSeq
    staged.select((carried :+ col("scale") :+
      transform(col("__v"), x =>
        round(x / col("scale")).cast("int")).as("codes")): _*)
  }

  /** SQ8 approximate top-k: rank corpus rows per query by the
    * reconstruction-free approximate dot product
    * `scale · Σ_i code_i · q_i` — one multiply recovers the scale, the
    * inner sum runs on the int codes widened to double (exact: every
    * int8 is a representable double), so the score equals
    * `dot(dequantized_row, query)` without materializing the
    * dequantized vector.
    *
    * Scale shape: [[Similarity.bruteForceTopK]]'s — queries broadcast,
    * scoring map-side on the codegen'd dot kernel over the 4×-smaller
    * codes column, per-query rank prunes map-side (WindowGroupLimit).
    * The same codes column drops into the IVF layout (list_id +
    * partition pruning) when the corpus outgrows the full scan. */
  def sq8TopK(embs: DataFrame, queries: DataFrame, id: String, vec: String,
              k: Int): DataFrame = {
    val codes = sq8Encode(embs, col(id), col(vec))
      .select(col("id").as("neighbor_id"), col("scale"),
        col("codes").cast("array<double>").as("cd"))
    val scored = Similarity.allPairs(codes, Similarity.vecs(queries, id,
        col(vec).cast("array<double>"), query = true))
      .withColumn("score", col("scale") * VectorExprs.dot(col("cd"), col("qv")))
    TopK.rank(scored, "score", ascending = false, k, 4)
  }

  /** SQ8 × IVF: the [[sq8TopK]] scoring over the [[ivfPqTopK]] scan
    * shape — each corpus row's int8 codes carry a coarse `list_id`
    * (attached map-side in the encode projection, no self-join), queries
    * rank the coarse centroids map-side (array_sort over nLists structs,
    * no window) and score ONLY their `nProbe` nearest lists via a
    * broadcast equi-join on `list_id`. The full scan cut to
    * nProbe/nLists — and partition-prunable (DPP) when the codes are
    * laid out `partitionBy(list_id)`, the same ingest-equals-serving
    * layout as the PQ family. */
  def sq8IvfTopK(embs: DataFrame, queries: DataFrame, id: String,
                 vec: String, coarse: Seq[(Int, Seq[Double])],
                 nProbe: Int, k: Int): DataFrame = {
    val codes = sq8Encode(embs, col(id), col(vec),
        keep = Seq(ivfListCol(col(vec), coarse).as("list_id")))
      .select(col("id").as("neighbor_id"), col("list_id"), col("scale"),
        col("codes").cast("array<double>").as("cd"))
    // r19 (guide §2.2/§3.1): the query VECTOR is probe-independent, so the
    // old single broadcast shipped each dim-double qv nProbe times. Split:
    // skinny (query_id, list_id) keys the scan's equi-join (same pruning),
    // the vectors ride a per-query broadcast joined on query_id —
    // ivfPqTopK's discipline. Same qv values reach the same rows → scores
    // bit-identical (spec-pinned: nProbe = nLists ≡ full scan).
    val qProbes = queries.select(col(id).as("query_id"),
      explode(ivfProbesCol(col(vec), coarse, nProbe)).as("list_id"))
    val qVecs = Similarity.vecs(queries, id, col(vec).cast("array<double>"),
      query = true)
    val scored = codes.join(broadcast(qProbes), Seq("list_id"))
      .join(broadcast(qVecs), Seq("query_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", col("scale") * VectorExprs.dot(col("cd"), col("qv")))
    TopK.rank(scored, "score", ascending = false, k, 4)
  }

  /** Sign-bit binary quantization: `dim` floats → `ceil(dim/32)` packed
    * 32-bit words (bit i of word w set iff `v[32w+i] > 0`) — a 32×
    * storage cut and the coarsest point on the PQ→SQ8→BQ compression
    * ladder (1 bit/dim; Faiss's binary index family, RaBitQ's sign
    * stage). Words are built by a high-to-low `acc*2 + bit` fold, so the
    * accumulator never exceeds 2^32 — safe under ANSI arithmetic (no
    * 64-bit shift/overflow anywhere).
    *
    * Scale shape: pure map-side projection (no shuffle, no codebook —
    * the "quantizer" is the sign function). */
  def bqEncode(vec: Column, dim: Int): Column = {
    require(dim >= 1, s"bqEncode needs dim >= 1, got $dim")
    val v = vec.cast("array<double>")
    val nWords = (dim + 31) / 32
    transform(sequence(lit(0), lit(nWords - 1)), w =>
      aggregate(sequence(lit(31), lit(0), lit(-1)), lit(0L), (acc, i) => {
        val idx = w * 32 + i + 1 // element_at is 1-based
        acc * 2 + when(idx <= dim && element_at(v, idx) > 0.0, 1L)
          .otherwise(0L)
      }))
  }

  /** Hamming distance between two [[bqEncode]] signatures of `nWords`
    * words: popcount of the per-word XOR, summed — integer ops only, the
    * whole point of the binary regime (no float math touches the full
    * corpus). Unrolled at plan time into a flat `Σ_w popcount(a[w] ^
    * b[w])` with no lambda frames or per-row array allocation: the
    * zip_with/aggregate form cost as much as the full float32 dot scan
    * (SCALE.md § "Round-11 probes (… `ops12` …)"). */
  private[operators] def bqHamming(a: Column, b: Column, nWords: Int): Column =
    (0 until nWords).map { w =>
      bit_count(element_at(a, w + 1).bitwiseXOR(element_at(b, w + 1)))
        .cast("long")
    }.reduce(_ + _)

  /** Binary-quantized top-k with exact rerank: pass 1 ranks the corpus
    * per query by Hamming distance over the packed sign bits and keeps
    * the `rerank` closest candidates; pass 2 re-scores ONLY those
    * candidates with the exact float cosine and emits the top `k`
    * (`query_id, rank, neighbor_id, hamming, cos`).
    *
    * Scale shape — the two-pass contract is the scale story:
    *  - pass 1 touches every corpus row but ships NOTHING wide: queries'
    *    signatures broadcast, the Hamming scan is map-side integer
    *    popcount over 1-bit/dim codes (32× less I/O than the floats),
    *    and the per-query candidate rank prunes map-side
    *    (WindowGroupLimit) carrying only `(ids, hamming)`;
    *  - pass 2 ([[rerankCosine]]) is a broadcast semi-filter of the
    *    corpus by the queries×rerank candidate set (metadata-sized), so
    *    full float vectors are read only for candidates — at 10⁹ vectors
    *    the float column is never scanned in full.
    * Both passes are exactly replayable: sign tests and popcounts are
    * integer-exact, the rerank is [[Similarity.bruteForceTopK]]'s IEEE
    * op sequence — the oracle checks real semantics, not a recall proxy. */
  def bqTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
             dim: Int, k: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank window $rerank must be >= k = $k")
    val c = corpus.select(col(id).as("neighbor_id"),
      bqEncode(col(vec), dim).as("csig"))
    val q = queries.select(col(id).as("query_id"),
      bqEncode(col(vec), dim).as("qsig"))
    val ham = Similarity.allPairs(c, q)
      .withColumn("hamming",
        bqHamming(col("csig"), col("qsig"), (dim + 31) / 32))
    val cand = TopK.cut(ham, rerank, col("hamming").asc)
      .select(col("query_id"), col("neighbor_id"), col("hamming"))
    rerankCosine(cand, corpus, queries, id, vec, k, col("hamming"))
  }

  /** Exact cosine re-rank of a candidate shortlist (`query_id`,
    * `neighbor_id`, carried columns) — pass 2 of [[bqTopK]] and
    * [[Similarity.rpTopK]]. The candidates join their query vectors and
    * are broadcast into the corpus scan as a semi-filter, so full-width
    * vectors are read only for candidates; the score is
    * [[Similarity.bruteForceTopK]]'s cosine. Emits `query_id, rank,
    * neighbor_id`, the `carry` columns, `cos` snapped to 4. */
  private[operators] def rerankCosine(cands: DataFrame, corpus: DataFrame,
      queries: DataFrame, id: String, vec: String, k: Int,
      carry: Column*): DataFrame = {
    val v = col(vec).cast("array<double>")
    val candQ = cands.join(
      Similarity.vecs(queries, id, v, query = true, norm = true),
      Seq("query_id"))
    val scored = Similarity.vecs(corpus, id, v, query = false, norm = true)
      .join(broadcast(candQ), Seq("neighbor_id"))
      .withColumn("cos", Similarity.cosine)
    TopK.rank(scored, "cos", ascending = false, k, 4, carry: _*)
  }

  /** Exact L2 re-rank of an ANN candidate shortlist — the second half
    * of the standard two-stage serving recipe (ADC shortlist R ≫ k,
    * exact distances on the R survivors only): quantization error then
    * costs recall only when a true neighbor misses the SHORTLIST, not
    * whenever ADC misorders two nearby candidates. `cands` carries
    * (`query_id`, `neighbor_id`) from any ANN arm ([[ivfPqTopK]],
    * [[ivfPqResidualTopK]], [[sq8IvfTopK]], …).
    *
    * Scale shape: the shortlist is queries × R METADATA rows —
    * broadcast into the corpus scan (equi-join on id, map-side, no
    * corpus shuffle) to fetch the true vectors; queries broadcast for
    * the distance; the only shuffle is the final per-query top-k
    * window over queries × R rows. Ties and snapping follow
    * [[Similarity.bruteForceTopKL2]]'s contract. */
  def rerankL2(cands: DataFrame, corpus: DataFrame, queries: DataFrame,
               id: String, vec: String, k: Int): DataFrame = {
    val v = col(vec).cast("array<double>")
    val c = Similarity.vecs(corpus, id, v, query = false)
      .join(broadcast(cands.select(col("query_id"), col("neighbor_id"))),
        Seq("neighbor_id"))
    val scored = c.join(broadcast(Similarity.vecs(queries, id, v,
        query = true)), Seq("query_id"))
      .withColumn("dist", VectorExprs.l2sq(col("qv"), col("cv")))
    TopK.rank(scored, "dist", ascending = true, k, 6)
  }

  /** LEARNED coarse centroid table for the IVF family: sampled k-means
    * (MLlib, via [[Similarity.fitQuantizer]]'s bounded-train discipline)
    * over the corpus vectors, returned in the same `(list_id, centroid)`
    * literal form [[seedCodebook]] produces — a drop-in swap at every
    * `coarse` parameter ([[ivfAssign]], [[ivfPqTopK]],
    * [[ivfPqResidualTopK]], [[sq8IvfTopK]]). Seed-row coarse centroids
    * cost nothing to train but inherit the data's skew: a dense region's
    * seed grabs most of the corpus, so one list holds far more than
    * |C|/nLists rows and the probe-pruning claim (expected scan =
    * nProbe/nLists of the corpus) silently degrades. k-means centroids
    * equalize list populations — that claim is what they buy. List ids
    * are the cluster indices, stable under the fixed seed; not
    * SQL-replayable (MLlib internals), so queries built on this use the
    * q31 recall-floor oracle pattern rather than exact pins. */
  def learnedCoarse(embs: DataFrame, vec: Column, nLists: Int, seed: Long,
                    maxTrainRows: Long = 100000L): Seq[(Int, Seq[Double])] = {
    val (model, _) = Similarity.fitQuantizer(coarseFeatures(embs, vec),
      nLists, seed, maxTrainRows)
    model.clusterCenters.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.toIndexedSeq)
    }
  }

  /** The training relation [[learnedCoarse]] fits on. Concurrent fits
    * over one corpus persist it once around all of them, so no fit drops
    * the cache another is still reading ([[Similarity.fitQuantizer]]). */
  def coarseFeatures(embs: DataFrame, vec: Column): DataFrame =
    embs.select(org.apache.spark.ml.functions.array_to_vector(
      vec.cast("array<double>")).as("features"))

  /** LEARNED per-subspace PQ codebook — the k-means upgrade over
    * [[seedCodebook]]/[[residualSeedCodebook]] (Jégou et al. 2011's
    * actual training step): each of the `m` subspaces gets its own
    * k-means fit over the corpus's subvectors (sampled at
    * `maxTrainRows`, fixed per-subspace seed), and code `c`'s codebook
    * entry is the CONCATENATION of subspace c-th centroids — the same
    * `(code, full-dim vector)` literal form every encode/ADC entry
    * point already cuts per-subspace, so this is a drop-in swap at any
    * `centroids` parameter. Train on a RESIDUAL column ([[
    * ivfResidualCol]]) to get the learned IVFADC codebook.
    *
    * Why it beats seed rows: a seed-row codebook quantizes subspace j
    * with the j-subvectors of `k` arbitrary corpus rows — those k
    * points are a sample, not a partition, of the subspace's density,
    * so cell radii (hence ADC error) are whatever the draw happened to
    * give. Per-subspace k-means minimizes exactly the quantization MSE
    * the ADC distance sums over subspaces; the recall uplift is
    * measured in SCALE.md (q243 vs q148's seed-residual arm).
    *
    * Scale shape: ONE corpus pass total. The training sample is a
    * hash-ordered top-`maxTrainRows` (per-partition top-k + driver
    * merge — `TakeOrderedAndProject`, no global sort, no count() pass),
    * so it is (a) bounded at `maxTrainRows × dim` doubles ≈ 1 MB on the
    * driver and (b) PARTITION-INVARIANT: the same rows come back in the
    * same order under any repartitioning, so the codebook is
    * bit-identical across layouts (QuantizeSpec pins this). All m
    * subspace fits then slice that one driver array and run the same
    * seeded farthest-first Lloyd as [[learnedOpq]] — deterministic, no
    * MLlib in the path. Result is an m×k literal table baked into the
    * plan; nothing here touches the serving path's shape. Not
    * SQL-replayable (k-means), so queries built on this use the
    * q31/q145 recall-floor oracle pattern. */
  def learnedSubCodebooks(embs: DataFrame, vec: Column, m: Int, dim: Int,
                          k: Int, seed: Long,
                          maxTrainRows: Int = 2000)
      : Seq[(Int, Seq[Double])] = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    require(maxTrainRows >= k, s"maxTrainRows=$maxTrainRows < k=$k")
    val sub = dim / m
    val sample = embs.select(vec.cast("array<double>").as("v"))
      .orderBy(xxhash64(lit(seed), col("v")), col("v"))
      .limit(maxTrainRows)
      .collect().map(_.getSeq[Double](0).toArray)
    val n = sample.length
    require(n >= k, s"sample too small: $n rows for k=$k")
    import breeze.linalg.DenseMatrix
    val y = DenseMatrix.tabulate(n, dim)((i, j) => sample(i)(j))
    val perSub = (0 until m).map { j =>
      lloydSubspace(y, n, j * sub, sub, k,
        seed * 6364136223846793005L + j * 1442695040888963407L)
    }
    (0 until k).map { c =>
      c -> (0 until m).flatMap(j => perSub(j)(c).toIndexedSeq).toIndexedSeq
    }
  }

  /** Deterministic driver-side Lloyd over one subspace of a sample
    * matrix (shared by [[learnedSubCodebooks]] and [[learnedOpq]]):
    * farthest-first init (one LCG-seeded start row, then greedy
    * max-min-distance picks, ties to the lower index — lands one seed
    * per well-separated mode), assignment ties to the lower code, fixed
    * 15 iterations, empty cells keep their centroid. Pure function of
    * (matrix contents, offsets, k, s0) — no RNG state, no MLlib. */
  private def lloydSubspace(y: breeze.linalg.DenseMatrix[Double], n: Int,
                            off: Int, sub: Int, k: Int, s0: Long)
      : Array[Array[Double]] = {
    val first = (((s0 >>> 33) % n) + n).toInt % n
    def d2(a: Int, b: Int): Double = {
      var d = 0.0; var t = 0
      while (t < sub) {
        val df = y(a, off + t) - y(b, off + t); d += df * df; t += 1
      }
      d
    }
    val picked = scala.collection.mutable.ArrayBuffer(first)
    val minD = Array.tabulate(n)(i => d2(i, first))
    while (picked.size < k) {
      var best = -1; var bd = -1.0
      var i = 0
      while (i < n) {
        if (minD(i) > bd) { bd = minD(i); best = i }
        i += 1
      }
      picked += best
      i = 0
      while (i < n) {
        val d = d2(i, best); if (d < minD(i)) minD(i) = d; i += 1
      }
    }
    var cents = picked.toArray.map(r =>
      Array.tabulate(sub)(c => y(r, off + c)))
    for (_ <- 0 until 15) {
      val sums = Array.fill(k, sub)(0.0)
      val cnts = Array.fill(k)(0L)
      var i = 0
      while (i < n) {
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var t = 0
          while (t < sub) {
            val df = y(i, off + t) - cents(c)(t); d += df * df; t += 1
          }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        var t = 0
        while (t < sub) { sums(best)(t) += y(i, off + t); t += 1 }
        cnts(best) += 1
        i += 1
      }
      cents = Array.tabulate(k)(c =>
        if (cnts(c) > 0) Array.tabulate(sub)(t => sums(c)(t) / cnts(c))
        else cents(c)) // empty cell keeps its centroid (deterministic)
    }
    cents
  }

  /** LEARNED OPQ: the rotation + per-subspace codebook pair trained by
    * alternating minimization (Ge et al. 2013, "Optimized Product
    * Quantization" — the non-parametric OPQ_NP loop):
    *
    *   repeat: (1) k-means each subspace of the ROTATED sample;
    *           (2) orthogonal Procrustes — with A = Xᵀ·C (data ×
    *               reconstruction cross-covariance) and SVD A = UΣVᵀ,
    *               the distortion-minimizing orthogonal update is
    *               R = V·Uᵀ;
    *
    * which monotonically lowers quantization MSE — the thing ADC error
    * sums — below what ANY fixed rotation (identity = plain PQ, the
    * q117 random rotation = OPQ-lite) gives on correlated data. Returns
    * `(rotation rows, codebook)` in the exact literal forms
    * [[graft.operators.Similarity.rpProject]] and every encode/ADC
    * entry point already take — a drop-in upgrade of the q117/q173
    * serving shape.
    *
    * Scale shape: the WHOLE loop runs driver-side on a deterministic
    * sample (`maxTrainRows` × dim doubles ≈ 1 MB at the defaults — the
    * learnedCoarse / seed-codebook bounded-literal discipline; this is
    * a training step, not a serving path), with its own seeded Lloyd
    * iterations so no MLlib fit enters the loop. Rotation and codebook
    * emerge as plan literals; serving cost is IDENTICAL to the
    * random-rotation arm. Not SQL-replayable (LAPACK SVD) → recall-
    * floor oracle, the q31/q145 pattern. */
  def learnedOpq(embs: DataFrame, vec: Column, m: Int, dim: Int, k: Int,
                 seed: Long, iters: Int = 4, maxTrainRows: Int = 2000)
      : (Seq[Seq[Double]], Seq[(Int, Seq[Double])]) = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    require(iters >= 1 && k >= 1 && maxTrainRows >= k)
    val sub = dim / m
    val all = embs.select(vec.cast("array<double>").as("v"))
    val n0 = all.count()
    val sample =
      (if (n0 <= maxTrainRows) all
       else all.sample(withReplacement = false,
         maxTrainRows.toDouble / n0, seed))
        .collect().map(_.getSeq[Double](0).toArray)
    val n = sample.length
    require(n >= k, s"sample too small: $n rows for k=$k")
    import breeze.linalg.{DenseMatrix, eigSym, svd => bsvd}
    val x = DenseMatrix.tabulate(n, dim)((i, j) => sample(i)(j))
    // INIT: eigen-rotation with balanced eigenvalue allocation (the OPQ
    // paper's parametric seed). Procrustes refinement is LOCAL — from
    // the identity it cannot discover a rotation that un-mixes variance
    // split across a subspace boundary (the k-means reconstruction of
    // mixed data is itself near-axis-aligned, so the cross-covariance
    // keeps R at the identity fixed point). The eigenbasis diagonalizes
    // the second moment, and greedy allocation (each eigenvector to the
    // non-full subspace with the smallest Σ log λ) balances information
    // across subspaces — the AM loop then refines from a basin that
    // actually contains the product structure.
    var rot = {
      // CENTERED covariance for the init only (the rotation still
      // applies to raw vectors): the uncentered second moment's
      // mean×mean cross terms would smear factor axes together
      val means = Array.tabulate(dim)(j =>
        (0 until n).map(i => x(i, j)).sum / n)
      val xc = DenseMatrix.tabulate(n, dim)((i, j) => x(i, j) - means(j))
      val cov = (xc.t * xc) *:* (1.0 / n)
      val es = eigSym(cov)
      val order = (0 until dim).sortBy(i => -es.eigenvalues(i))
      val buckets = Array.fill(m)(List.empty[Int])
      val logSum = Array.fill(m)(0.0)
      order.foreach { ei =>
        val j = (0 until m).filter(buckets(_).size < sub)
          .minBy(b => (logSum(b), b))
        buckets(j) = buckets(j) :+ ei
        logSum(j) += math.log(math.max(es.eigenvalues(ei), 1e-12))
      }
      val r = DenseMatrix.zeros[Double](dim, dim)
      var row = 0
      for (j <- 0 until m; ei <- buckets(j)) {
        // sign-normalize: largest-|component| entry positive
        val v = es.eigenvectors(::, ei)
        val piv = (0 until dim).maxBy(t => (math.abs(v(t)), -t))
        val sgn = if (v(piv) < 0) -1.0 else 1.0
        for (t <- 0 until dim) r(row, t) = sgn * v(t)
        row += 1
      }
      r
    }
    // deterministic Lloyd's per subspace — the shared
    // [[lloydSubspace]] kernel (same seeding discipline as
    // learnedSubCodebooks)
    def kmeansSub(y: DenseMatrix[Double], j: Int): Array[Array[Double]] =
      lloydSubspace(y, n, j * sub, sub, k,
        seed * 6364136223846793005L + j * 1442695040888963407L)
    for (_ <- 0 until iters) {
      val y = x * rot.t // serving convention: y = R·x per row
      val perSub = (0 until m).map(j => kmeansSub(y, j))
      // reconstruction C (n × dim) under the current assignment
      val c = DenseMatrix.zeros[Double](n, dim)
      for (j <- 0 until m) {
        val off = j * sub
        val cents = perSub(j)
        var i = 0
        while (i < n) {
          var best = 0; var bd = Double.MaxValue
          var cc = 0
          while (cc < k) {
            var d = 0.0; var t = 0
            while (t < sub) {
              val df = y(i, off + t) - cents(cc)(t); d += df * df; t += 1
            }
            if (d < bd) { bd = d; best = cc }
            cc += 1
          }
          var t = 0
          while (t < sub) { c(i, off + t) = cents(best)(t); t += 1 }
          i += 1
        }
      }
      // Procrustes update: A = Xᵀ·C, R = V·Uᵀ (min ‖X·Rᵀ − C‖ over
      // orthogonal R)
      val a = x.t * c
      val s = bsvd(a)
      rot = s.Vt.t * s.U.t
    }
    // the loop leaves the rotation one step AHEAD of the last-trained
    // codebook — retrain once against the final rotation so the served
    // pair is consistent
    val yF = x * rot.t
    val perSubF = (0 until m).map(j => kmeansSub(yF, j))
    val codebook = (0 until k).map(cc =>
      (0 until m).flatMap(j => perSubF(j)(cc)).toArray).toArray
    val rotRows = (0 until dim).map(i =>
      (0 until dim).map(j => rot(i, j)).toIndexedSeq)
    val cb = codebook.zipWithIndex.map { case (cv, code) =>
      code -> cv.toIndexedSeq
    }.toIndexedSeq
    (rotRows, cb)
  }

  /** Seed-row codebook: subvectors of the designated corpus rows. */
  def seedCodebook(embs: DataFrame, id: Column, vec: Column,
                   centroidIds: Seq[Long]): Seq[(Int, Seq[Double])] = {
    val rows = embs.filter(id.isin(centroidIds.map(lit): _*))
      .select(id.as("cid"), vec.cast("array<double>").as("cv"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq)
      .toMap
    val missing = centroidIds.filterNot(rows.contains)
    require(missing.isEmpty, s"seed centroid rows not found: $missing")
    centroidIds.zipWithIndex.map { case (cid, code) => code -> rows(cid) }
  }
}
