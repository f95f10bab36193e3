package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextExprs

/** Near-duplicate text detection (SURVEY.md §2.10): n-gram Jaccard,
  * MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale notes (the whole point of these over a naive cross join):
  *  - `shingleJaccardPairs` joins on the shingle — cost is Σ|posting list|²
  *    per shingle, not n². Hot shingles (stopword runs) are the skew risk;
  *    `maxPostings` caps them (standard df-cut from the dedup literature).
  *  - `minhashLshPairs` computes b band keys per doc and self-joins on the
  *    band key: candidates only, verified by exact Jaccard afterwards.
  *    Shuffle volume is O(n·b), independent of corpus pair count.
  *  - `simhash` is a single map-side pass producing a 64-bit signature;
  *    near-dup = equal signature (or equal on rotated bands for hamming>0).
  */
object NearDup {

  /** Explode documents to distinct word-`n`-gram shingles.
    * Output: (id, shingle). */
  def shingles(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    docs.select(id.as("id"),
      explode(TextExprs.wordShingles(text, n)).as("shingle"))

  /** Exact all-pairs Jaccard over word n-gram shingle sets, emitting pairs with
    * similarity ≥ `threshold`. `maxPostings` drops shingles whose posting list
    * exceeds the cap (ubiquitous shingles carry no signal and quadratic cost).
    *
    * Plan shape: the posting file is shuffled ONCE into per-shingle posting
    * lists (`collect_list`, memory-bounded by the df-cut: a list never
    * exceeds maxPostings ids), pairs come from a nested explode of each
    * list, and sizes re-derive from the same aggregate. The shuffle key is
    * a 128-bit hash of the shingle, NOT the shingle string — grouping is
    * by shingle identity either way, but the exchange ships 16 bytes per
    * posting instead of the n-gram text (the same content-hash trade
    * `Dedup.exactDedup` documents; ~2⁻¹²⁸ per-pair collision odds).
    * Alternatives measured at sf0.1: count-over-window df-cut + posting
    * self-join = 1 extra sort + join of two full posting streams;
    * broadcast-anti hot-list = recomputes the tokenize+explode twice. */
  def shingleJaccardPairs(docs: DataFrame, id: Column, text: Column,
                          n: Int, threshold: Double,
                          maxPostings: Int = 1000): DataFrame = {
    val sh = shingles(docs, id, text, n)
    // one shuffle: posting lists per shingle (128-bit hashed key), df-cut
    // applied on list size
    val posting = sh.groupBy(
        struct(xxhash64(col("shingle")),
          xxhash64(col("shingle"), lit(1))).as("shingle_key"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) <= maxPostings)
    // sizes count every kept shingle (including singletons — they stay in
    // the Jaccard denominator even though they generate no pairs)
    val sizes = posting.select(explode(col("ids")).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val inter = posting
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), Seq("id_b"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"), col("n_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Directed shingle-containment pairs: `C(A→B) = |A∩B| / |A|` ≥
    * `threshold` with A ≠ B — the ASYMMETRIC near-dup relation Jaccard
    * misses. A short document quoted whole inside a long one has high
    * containment but low Jaccard (the union is dominated by the long
    * side), which is exactly the quote/excerpt/version-supersede case a
    * curation pipeline wants: drop the contained side, keep the superset.
    * Broder (1997) defines both resemblances; dedup practice mostly ships
    * the symmetric one, so this is the complementary operator.
    *
    * Plan shape is [[shingleJaccardPairs]] verbatim up to the pair
    * aggregate — ONE posting shuffle keyed by the 128-bit shingle hash,
    * df-cut cap, nested explode of per-shingle posting lists — the only
    * differences are that pairs are emitted in BOTH directions (the
    * relation is directed; `a < b` dedup would silently pick one) and the
    * denominator is the SUBSET side's shingle count. Cost is identical:
    * Σ|posting|² per shingle, never n². Singleton-shingle docs still
    * count toward denominators via the same sizes re-derivation. */
  def containmentPairs(docs: DataFrame, id: Column, text: Column,
                       n: Int, threshold: Double,
                       maxPostings: Int = 1000): DataFrame = {
    val sh = shingles(docs, id, text, n)
    val posting = sh.groupBy(
        struct(xxhash64(col("shingle")),
          xxhash64(col("shingle"), lit(1))).as("shingle_key"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) <= maxPostings)
    val sizes = posting.select(explode(col("ids")).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    // both directions: (sub, sup) and (sup, sub) score independently
    val inter = posting
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("id_sub"), col("ids"))
      .select(col("id_sub"), explode(col("ids")).as("id_sup"))
      .filter(col("id_sub") =!= col("id_sup"))
      .groupBy(col("id_sub"), col("id_sup"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_sub")
        .withColumnRenamed("n_sh", "n_sub"), Seq("id_sub"))
      .join(sizes.withColumnRenamed("id", "id_sup")
        .withColumnRenamed("n_sh", "n_sup"), Seq("id_sup"))
      .withColumn("containment",
        col("n_inter").cast("double") / col("n_sub").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_sub"), col("id_sup"), col("n_inter"), col("n_sub"),
        col("n_sup"), round(col("containment"), 6).as("containment"))
  }

  /** A `let` for Column expressions (the `TextExprs.bind` discipline):
    * binds `v` once as a lambda variable so HOF bodies don't re-evaluate
    * an expensive sub-expression per element. */
  private def let(v: Column)(body: Column => Column): Column =
    element_at(transform(array(v), body), 1)

  /** Winnowing fingerprint set (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS algorithm): hash every word-`k`-gram at its POSITION (slide
    * semantics, not the distinct set), then per window of `w` consecutive
    * gram hashes keep the minimum; the distinct kept hashes are the doc's
    * fingerprints. The guarantee MinHash cannot give: any shared token
    * run of ≥ `w + k − 1` tokens between two documents forces at least
    * one SHARED fingerprint (both docs see the same w-window of gram
    * hashes and pick the same minimum) — detection of long verbatim
    * overlap is deterministic, while storage/shuffle drops to ~2/(w+1)
    * of the full posting file. Density is the standard winnowing bound;
    * selection is by hash VALUE (robust winnowing's position tie-break
    * is for position-tracking, which this set-level operator doesn't
    * need). Gram hash = the oracle-portable poly fold, so an oracle
    * replays fingerprints exactly. Docs with < k tokens → empty set.
    * Entirely map-side: one tokenize, two let-bound array passes. */
  def winnowFingerprints(text: Column, k: Int, w: Int): Column = {
    require(k >= 1 && w >= 1, s"winnowing needs k,w >= 1, got k=$k w=$w")
    // r18: ONE codegen'd kernel call per row (HashKernels
    // .winnowFingerprints) replacing the interpreted HOF chain
    // (slideGrams → per-gram polyHash → per-window array_min(slice) →
    // array_distinct) — element-identical output incl. first-occurrence
    // order, pinned against the HOF reference formulation in
    // NearDupSpec; q121's task compute was this chain (4.6 s job sum in
    // 7 jobs at sf0.1).
    graft.functions.HashKernels.winnowFingerprints(
      TextExprs.tokens(text), k, w, 31L, 1000000007L)
  }

  /** Cross-document matching over winnowing fingerprints: pairs sharing
    * ≥ `minShared` fingerprints, scored `n_shared / min(n_a, n_b)` (the
    * overlap coefficient — an excerpt wholly inside a longer doc scores
    * 1.0). [[shingleJaccardPairs]]'s single-posting-shuffle plan with the
    * posting file pre-thinned ~w/2× by winnowing AND the key already a
    * compact 8-byte hash — the shuffle-volume rung between exact
    * shingle postings and MinHash bands, with the long-match guarantee
    * neither exact-Jaccard-threshold nor LSH gives. */
  def winnowingPairs(docs: DataFrame, id: Column, text: Column,
                     k: Int, w: Int, minShared: Int,
                     maxPostings: Int = 1000): DataFrame = {
    require(minShared >= 1, s"minShared >= 1, got $minShared")
    val fp = docs.select(id.as("id"),
      explode(winnowFingerprints(text, k, w)).as("fp"))
    val posting = fp.groupBy(col("fp"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) <= maxPostings)
    val sizes = posting.select(explode(col("ids")).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_fp"))
    val inter = posting
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    inter
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("n_fp", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("n_fp", "n_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_a"),
        col("n_b"),
        round(col("n_shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 6).as("sim"))
  }

  /** MinHash+LSH candidate pairs, verified with exact shingle Jaccard.
    * bands×rowsPerBand hash functions; docs sharing any band bucket become
    * candidates. Returns (id_a, id_b, jaccard ≥ threshold).
    *
    * Scale shape:
    *  - each doc is tokenized exactly ONCE: shingles are exploded and the
    *    signature built by `groupBy(id).agg(min(hash))` — an aggregation
    *    barrier Catalyst cannot collapse back into per-band recomputation
    *    (inlining the signature expression into all band keys re-tokenizes
    *    every doc ×bands×rowsPerBand — measured 70× slower);
    *  - only `(band, bucket, id)` flows through the candidate shuffle —
    *    shingle sets are re-joined BY ID after the id-pair distinct, so
    *    shuffle bytes are O(n·bands·16B), independent of text size;
    *  - docs with an empty shingle set produce no bands and are never
    *    candidates (two empty docs are not near-dups of each other). */
  /** The LSH band rows (id, band, bucket) of every doc — the unit of both
    * the batch candidate join below and the accumulated band index the
    * streaming variant ([[graft.streaming.NearDupStream]]) carries across
    * micro-batches. Signature built under an aggregation barrier (one
    * tokenize per doc), band key = hash of the band's signature slice. */
  def minhashBands(docs: DataFrame, id: Column, text: Column,
                   n: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val numPerms = bands * rowsPerBand
    val sh = shingles(docs, id, text, n)
    val sigAggs = (0 until numPerms).map(i =>
      min(xxhash64(col("shingle"), lit(i))).as(s"__h$i"))
    val sig = sh.groupBy(col("id")).agg(sigAggs.head, sigAggs.tail: _*)
    // band key = hash of the band's slice of the signature columns
    val bandStructs = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand)
        .map(r => col(s"__h${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", slice: _*)).as("bucket"))
    }
    sig
      .select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  def minhashLshPairs(docs: DataFrame, id: Column, text: Column,
                      n: Int, bands: Int, rowsPerBand: Int,
                      threshold: Double): DataFrame = {
    val banded = minhashBands(docs, id, text, n, bands, rowsPerBand)
    val l = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    val cand = l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    // join precomputed shingle sets back by id, verify with exact Jaccard
    val texts = docs.select(id.as("id"), TextExprs.wordShingles(text, n).as("sh"))
    cand
      .join(texts.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(texts.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** 64-bit SimHash over the token multiset: per bit, majority vote of token
    * hash bits. Single map-side pass (aggregate over a 64-long counter array). */
  def simhash(text: Column): Column = {
    val hashes = transform(TextExprs.tokens(text), t => xxhash64(t))
    // counts[b] = Σ tokens (bit b set ? +1 : -1)
    val counts = aggregate(
      hashes,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)),
        (c, b) => c + when(call_function("shiftright", h, b)
          .bitwiseAND(1L) === 1L, 1).otherwise(-1)))
    // fold bits where count > 0 into a long
    aggregate(
      zip_with(counts, sequence(lit(0), lit(63)),
        (c, b) => when(c > 0, call_function("shiftleft", lit(1L), b))
          .otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** SimHash near-duplicate pairs: 64-bit signatures split into 4×16-bit
    * bands; by pigeonhole, any pair with Hamming distance ≤ 3 shares at
    * least one exact band, so the band join finds all such pairs with an
    * O(n·4) shuffle. Candidates are verified with `bit_count(xor) ≤
    * maxHamming` (exact). maxHamming > 3 lowers recall (documented trade). */
  /** SimHash signatures via exploded-token aggregation: 64 small integer
    * sums in one hash aggregate (vectorized codegen) instead of the scalar
    * `simhash` expression's per-token 64-array fold — and the aggregation
    * doubles as the materialization barrier, so downstream band expressions
    * read plain columns. Empty docs produce no tokens and no signature.
    * Values are identical to the scalar `simhash` (same hash, same
    * majority rule). */
  def simhashSignatures(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = docs.select(id.as("id"),
      explode(TextExprs.tokens(text)).as("tok"))
      .select(col("id"), xxhash64(col("tok")).as("h"))
    val bitSums = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1L) === 1L, 1)
        .otherwise(-1)).as(s"__s$b"))
    val counted = toks.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map(b =>
      when(col(s"__s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    counted.select(col("id"), sig.as("sig"))
  }

  /** Banded Hamming pair generation over ANY 64-bit signature relation
    * `(id, sig)` — shared by the simhash variants and the multimodal
    * perceptual-hash arm: 4×16-bit bands; by pigeonhole, any pair with
    * Hamming distance ≤ 3 shares at least one exact band, so the band
    * join finds ALL such pairs (recall exactly 1.0) with an O(n·4)
    * shuffle of id+band metadata. `maxHamming` > 3 keeps precision (the
    * xor verify is exact) but trades recall — candidates must still
    * collide on one band; callers wanting guaranteed recall at radius r
    * use ⌈64/(r+1)⌉-bit bands instead (documented trade, same as every
    * LSH family here). */
  def hammingBandPairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        call_function("shiftrightunsigned", col("sig"), lit(16 * b))
          .bitwiseAND(lit(0xFFFFL)).as("value"))
    }
    val banded = sigs
      .select(col("id"), col("sig"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("sig"), col("bb.band").as("band"),
        col("bb.value").as("value"))
    val l = banded.select(col("band"), col("value"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val r = banded.select(col("band"), col("value"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("band", "value"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Recall QA for [[hammingBandPairs]] — the q158 sampled-audit shape
    * for the banded-Hamming family: above radius 3 the 4×16 pigeonhole
    * guarantee lapses (a pair can spread its differing bits across all
    * four bands and never collide), so a caller running `maxHamming >
    * 3` should MEASURE what the band cut costs on their data rather
    * than assume. Ground truth is the exact all-pairs Hamming scan
    * over a deterministic 1-in-`sampleMod` id sample (bounded
    * quadratic: (n/sampleMod)² signature pairs of id+long metadata,
    * broadcast-NL, no corpus payloads); candidates are the REGISTERED
    * banded plan restricted to the same sample. One row:
    * `(n_sample, n_true_pairs, n_caught, recall)`; recall null when
    * the sample holds no true pairs. */
  def hammingBandQa(sigs: DataFrame, maxHamming: Int,
                    sampleMod: Long): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    val samp = sigs.filter(col("id") % sampleMod === 0)
    val truth = samp.select(col("id").as("ta"), col("sig").as("sa"))
      .crossJoin(broadcast(
        samp.select(col("id").as("tb"), col("sig").as("sb"))))
      .filter(col("ta") < col("tb") &&
        bit_count(col("sa").bitwiseXOR(col("sb"))) <= maxHamming)
      .select(col("ta"), col("tb"))
    val cand = hammingBandPairs(sigs, maxHamming)
      .filter(col("id_a") % sampleMod === 0 &&
        col("id_b") % sampleMod === 0)
    val caught = truth.join(
      cand.select(col("id_a").as("ca"), col("id_b").as("cb")),
      col("ta") === col("ca") && col("tb") === col("cb"), "left")
    val tAgg = caught.agg(count(lit(1)).as("n_true_pairs"),
      count(col("ca")).as("n_caught"))
    samp.agg(count(lit(1)).as("n_sample"))
      .crossJoin(broadcast(tAgg))
      .select(col("n_sample"), col("n_true_pairs"), col("n_caught"),
        when(col("n_true_pairs") > 0,
          round(col("n_caught").cast("double") /
            col("n_true_pairs").cast("double"), 6)).as("recall"))
  }

  /** 62-bit ORACLE-PORTABLE token hash: two independent polynomial rolling
    * hashes over the token's code points, each mod a prime < 2^31, packed
    * as `h1·2^31 + h2`. Unlike xxhash64 (engine-specific), the recurrence
    * `h ← (h·m + code) mod p` is reproducible in ANSI-ish SQL
    * (list_reduce), so simhash signatures built from it can be verified
    * bit-for-bit by an external engine. Top two bits are always 0 — bands
    * still discriminate (62 live bits across 4 bands). */
  def portableTokenHash(tok: Column): Column = {
    import graft.functions.HashKernels
    HashKernels.polyHash(tok, 31L, 2147483647L) * lit(2147483648L) +
      HashKernels.polyHash(tok, 131L, 2147483629L)
  }

  /** SimHash signatures over the portable token hash (bits 0..61): same
    * exploded-token aggregation shape as `simhashSignatures`, different
    * hash. Empty docs produce no tokens and no signature. */
  def simhashPolySignatures(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = docs.select(id.as("id"),
      explode(TextExprs.tokens(text)).as("tok"))
      .select(col("id"), portableTokenHash(col("tok")).as("h"))
    val bitSums = (0 until 62).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1L) === 1L, 1)
        .otherwise(-1)).as(s"__s$b"))
    val counted = toks.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 62).map(b =>
      when(col(s"__s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    counted.select(col("id"), sig.as("sig"))
  }

  def simhashPolyNearDupPairs(docs: DataFrame, id: Column, text: Column,
                              maxHamming: Int = 3): DataFrame =
    hammingBandPairs(simhashPolySignatures(docs, id, text), maxHamming)

  /** Edit-distance near-duplicate pairs (the 5th dedup family) at FULL
    * corpus cardinality: a char-q-gram blocker — candidates must share at
    * least one q-gram of the (whitespace-normalized) prefix, built from
    * df-cut posting lists exactly like `shingleJaccardPairs` — followed by
    * an exact `levenshtein` verify. No cross join anywhere (asserted in
    * PlanShapeSpec); cost is Σ|posting list|² per gram, bounded by the
    * df-cut.
    *
    * The blocker is part of the declared semantics (the oracle encodes the
    * same q-gram condition): for prefixes longer than q·(maxDist+1), any
    * pair within maxDist shares a q-gram by pigeonhole, so on real text
    * the result coincides with true edit-distance pairs while staying
    * linear-ish in corpus size. Docs with an empty prefix are excluded
    * (every empty doc is trivially distance-0 from every other). */
  /** Non-empty (id, prefix) table the edit-distance family works over. */
  private def edPrefixes(docs: DataFrame, id: Column, text: Column,
                         prefixLen: Int): DataFrame =
    docs.select(id.as("id"), substring(text, 1, prefixLen).as("prefix"))
      .filter(length(trim(col("prefix"))) > 0)

  /** The char-q-gram blocker's UNVERIFIED candidate pairs (id_a < id_b)
    * — the stage [[blockerQa]] audits; [[editDistancePairs]] is this
    * plus the exact bounded-Levenshtein verify. */
  def editDistanceCandidates(docs: DataFrame, id: Column, text: Column,
                             prefixLen: Int, q: Int,
                             maxPostings: Int = 1000): DataFrame = {
    val pref = edPrefixes(docs, id, text, prefixLen)
    val grams = pref.select(col("id"),
      explode(TextExprs.charShingles(col("prefix"), q)).as("gram"))
    val posting = grams.groupBy(col("gram"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxPostings))
    posting
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
  }

  def editDistancePairs(docs: DataFrame, id: Column, text: Column,
                        prefixLen: Int, q: Int, maxDist: Int,
                        maxPostings: Int = 1000): DataFrame = {
    val pref = edPrefixes(docs, id, text, prefixLen)
    val cand = editDistanceCandidates(docs, id, text, prefixLen, q,
      maxPostings)
    // verify with the banded kernel: exact distance when ≤ maxDist, -1
    // otherwise — rejection (the common case for blocker candidates) costs
    // O(k·min_len) with early exit instead of the full |a|·|b| DP, and the
    // expression stays inside whole-stage codegen (TextKernels.doGenCode)
    cand
      .join(pref.select(col("id").as("id_a"), col("prefix").as("pa")), Seq("id_a"))
      .join(pref.select(col("id").as("id_b"), col("prefix").as("pb")), Seq("id_b"))
      .withColumn("dist",
        graft.functions.TextKernels.boundedLevenshtein(col("pa"), col("pb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Embedding-cosine near-duplicate pairs within LSH buckets: same bucket →
    * exact cosine — approximate recall, linear shuffle. */
  def embeddingNearDupPairs(embs: DataFrame, id: Column, vec: Column,
                            dim: Int, bits: Int, seed: Long,
                            threshold: Double): DataFrame = {
    import graft.functions.VectorExprs
    // norms precomputed per row; the bucket shuffle materializes them, so
    // per-pair work is a single dot product
    val bucketed = embs.select(id.as("id"), vec.as("v"),
      VectorExprs.lshBucket(vec, dim, bits, seed).as("bucket"),
      VectorExprs.norm2(vec).as("n2"))
    val l = bucketed.select(col("bucket"), col("id").as("id_a"),
      col("v").as("va"), col("n2").as("n2a"))
    val r = bucketed.select(col("bucket"), col("id").as("id_b"),
      col("v").as("vb"), col("n2").as("n2b"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", VectorExprs.dot(col("va"), col("vb")) /
        (sqrt(col("n2a")) * sqrt(col("n2b"))))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .distinct()
  }

  // -------------------------------------------------- portable MinHash + QA

  /** Prime modulus shared by the portable permutation family (also the
    * modulus of [[TextExprs.polyFingerprint]], so one hash feeds both). */
  val PortablePrime: Long = 1000000007L

  /** MinHash band rows from a CROSS-ENGINE-REPLAYABLE permutation family:
    * shingle hash `ph = polyFingerprint(shingle)` and permutation `i`'s
    * value `((2i+3)·ph + (101i+7)) mod 1000000007` — plain 64-bit modular
    * arithmetic any SQL engine reproduces bit-for-bit (the production
    * dedup path, [[minhashBands]], uses xxhash64 signatures and hashed
    * buckets instead; this family exists so an independent engine can
    * replay the candidate set, which is what makes LSH *recall* an
    * oracle-checkable quantity rather than a trusted one).
    *
    * Output: (id, band, bucket) with `bucket` the comma-joined row mins —
    * ≤ ~10 chars per min, so a band key is a short string; the band join
    * still ships ids + band keys only, never text. Docs with no shingles
    * produce no rows (empty docs are not near-dup candidates).
    *
    * Plan shape: one shingle explode → codegen'd poly hash → ONE hash
    * aggregate computing all `bands×rowsPerBand` mins map-side partially →
    * band explode. Same shuffle count as [[minhashBands]]. */
  def portableMinhashBands(docs: DataFrame, id: Column, text: Column,
                           n: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val numPerms = bands * rowsPerBand
    val ph = shingles(docs, id, text, n)
      .select(col("id"), TextExprs.polyFingerprint(col("shingle")).as("ph"))
    val aggs = (0 until numPerms).map { i =>
      min((col("ph") * lit(2L * i + 3) + lit(101L * i + 7)) %
        lit(PortablePrime)).as(s"__m$i")
    }
    val sig = ph.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    val bandStructs = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand)
        .map(r => col(s"__m${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band"), concat_ws(",", slice: _*).as("bucket"))
    }
    sig.select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  /** Distinct UNVERIFIED candidate pairs (id_a < id_b) of the portable
    * LSH — deliberately no exact-Jaccard verify: this is the raw
    * candidate set whose recall [[lshRecallByBucket]] measures. */
  def portableLshCandidates(docs: DataFrame, id: Column, text: Column,
                            n: Int, bands: Int,
                            rowsPerBand: Int): DataFrame = {
    val banded = portableMinhashBands(docs, id, text, n, bands, rowsPerBand)
    val l = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Blocking-quality audit of the char-q-gram blocker on a DETERMINISTIC
    * SAMPLE — the record-linkage literature's two numbers for any blocker:
    * pairs completeness (what fraction of TRUE ≤-maxDist pairs the
    * candidate stage keeps — the blocker is declared semantics, so this
    * is the measured price of the pigeonhole argument on real data) and
    * reduction ratio (what fraction of the all-pairs quadratic the
    * blocker avoided). Ground truth needs all-pairs distances, which
    * exist nowhere at corpus scale — so it is computed WITHIN the sample
    * `id % sampleMod == 0` only: the caller bounds the sample, the
    * all-pairs stage is an explicit `crossJoin(broadcast(sample))` (the
    * sanctioned boundedness statement — O((n/sampleMod)²) bounded
    * comparisons with the early-exit banded kernel), and the audited
    * CANDIDATE set is the production blocker's own, restricted to
    * sample pairs — df-cut postings computed on the FULL corpus, exactly
    * what production runs.
    *
    * Output (one row): n_sample, n_true_pairs, n_cand_pairs, n_caught,
    * pairs_completeness (null when the sample has no true pairs),
    * reduction_ratio = 1 − n_cand/C(n_sample,2) (null when < 2 docs). */
  def blockerQa(docs: DataFrame, id: Column, text: Column, prefixLen: Int,
                q: Int, maxDist: Int, maxPostings: Int,
                sampleMod: Long): DataFrame = {
    val samp = edPrefixes(docs, id, text, prefixLen)
      .filter(col("id") % sampleMod === 0)
    // r19 (guide §2): the exact-truth verify is quadratic IN THE SAMPLE by
    // design (that is the QA), but the stream side inherited the document
    // scan's partitioning — 1-2 input splits at bench scale — so the whole
    // |s|²/2 boundedLevenshtein sweep ran on 1-2 TASKS (one 6 s job on a
    // 32-core box). Spread the stream side to the session's parallelism
    // first: a tiny shuffle of sample-prefix rows buys full-width fan-out
    // of the dominant compute. Scale-adaptive (defaultParallelism), not a
    // constant; aggregate outputs are order-free so values are unchanged.
    val truth = samp
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("id").as("id_a"), col("prefix").as("pa"))
      .crossJoin(broadcast(
        samp.select(col("id").as("id_b"), col("prefix").as("pb"))))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", graft.functions.TextKernels
        .boundedLevenshtein(col("pa"), col("pb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"))
    val cand = editDistanceCandidates(docs, id, text, prefixLen, q,
        maxPostings)
      .filter(col("id_a") % sampleMod === 0 &&
        col("id_b") % sampleMod === 0)
    val caught = truth.join(
      cand.select(col("id_a").as("ca"), col("id_b").as("cb")),
      col("id_a") === col("ca") && col("id_b") === col("cb"), "left")
    // three 1-row aggregates combined with broadcast NL joins (metadata)
    val tAgg = caught.agg(count(lit(1)).as("n_true_pairs"),
      count(col("ca")).as("n_caught"))
    val cAgg = cand.agg(count(lit(1)).as("n_cand_pairs"))
    val sAgg = samp.agg(count(lit(1)).as("n_sample"))
    sAgg.crossJoin(broadcast(tAgg)).crossJoin(broadcast(cAgg))
      .select(col("n_sample"), col("n_true_pairs"), col("n_cand_pairs"),
        col("n_caught"),
        when(col("n_true_pairs") > 0,
          round(col("n_caught").cast("double") /
            col("n_true_pairs").cast("double"), 6))
          .as("pairs_completeness"),
        when(col("n_sample") >= 2,
          round(lit(1.0) - col("n_cand_pairs").cast("double") /
            (col("n_sample").cast("double") *
              (col("n_sample") - 1).cast("double") / 2.0), 6))
          .as("reduction_ratio"))
  }

  /** LSH candidate recall against an exact ground-truth pair set, bucketed
    * by similarity: for each Jaccard tenth-bucket of `exactPairs`
    * (columns id_a, id_b, jaccard), the fraction of pairs the candidate
    * set caught. THE dedup-quality monitoring curve: the S-curve
    * `1-(1-j^r)^b` predicts it analytically; a measured bucket falling
    * below the prediction means the hash family or banding broke, and
    * this query makes that drop visible per corpus snapshot (q141's
    * recall-monitoring pattern, applied to the dedup family).
    *
    * Scale: metadata-sized — |exactPairs| rows join |candidates| rows on
    * id pairs, both id-only relations; the output is ≤ 10 rows. */
  def lshRecallByBucket(exactPairs: DataFrame,
                        candidates: DataFrame): DataFrame = {
    val cand = candidates
      .select(col("id_a").as("ca"), col("id_b").as("cb"))
    exactPairs.join(cand,
        col("id_a") === col("ca") && col("id_b") === col("cb"), "left")
      .groupBy(round(floor(col("jaccard") * 10) / 10, 1).as("j_bucket"))
      .agg(count(lit(1)).as("n_exact"), count(col("ca")).as("n_caught"))
      .select(col("j_bucket"), col("n_exact"), col("n_caught"),
        round(col("n_caught").cast("double") /
          col("n_exact").cast("double"), 6).as("recall"))
  }

  /** Dedup-threshold operating curve — what the similarity cut actually
    * COSTS at each candidate setting, read off ONE pair table: per
    * threshold, how many pairs survive and how many distinct documents
    * they touch. The curve a near-dup threshold is picked from (0.8 is
    * folklore; this is the measurement), and it works over ANY scored
    * pair relation — shingle Jaccard, MinHash, SimHash, embedding
    * cosine — because it never recomputes similarity.
    *
    * The cut compares the pair table's SNAPPED score column (the pairs
    * operators emit snap-6/snap-4 scores), so the curve is replayable
    * cross-engine; `thresholds` must all be ≥ the threshold the pair
    * table was built with, or the low rows undercount (require'd
    * against the caller-declared `builtAt`).
    *
    * Scale shape: the pair table is id+score metadata (the expensive
    * blocking already happened upstream). A doc survives at cut `t`
    * iff its BEST adjacent pair scores ≥ t, so the whole curve needs
    * only (a) ONE conditional-sum aggregate over the pair scan — |T|
    * pair counts in a single metadata row, no threshold fan-out — and
    * (b) one per-id max-score table (one shuffle of 2·|pairs| id rows,
    * map-side combined) folded by the same |T|-conditional aggregate.
    * No distinct over a pairs×|T| explosion (measured 11.4 s → this
    * shape at 5M pairs, SCALE.md § "Round-13 probes (… `ops20` …)").
    * Thresholds with zero surviving pairs still report 0. */
  def thresholdCurve(pairs: DataFrame, idA: Column, idB: Column,
                     score: Column, thresholds: Seq[Double],
                     builtAt: Double): DataFrame = {
    require(thresholds.nonEmpty, "thresholdCurve needs >= 1 threshold")
    require(thresholds.distinct.size == thresholds.size,
      s"thresholds must be distinct, got ${thresholds.mkString(",")}")
    require(thresholds.forall(_ >= builtAt),
      s"thresholds ${thresholds.mkString(",")} must all be >= the pair " +
        s"table's build threshold $builtAt (lower rows would undercount)")
    val base = pairs.select(idA.as("id_a"), idB.as("id_b"),
      score.as("s"))
    def curve(df: DataFrame, out: String): DataFrame = {
      val cnts = thresholds.zipWithIndex.map { case (t, i) =>
        sum(when(col("s") >= t, 1L).otherwise(0L)).as(s"c$i")
      }
      df.agg(cnts.head, cnts.tail: _*)
        .select(explode(array(thresholds.zipWithIndex.map {
          // sum() over an EMPTY pair table is null, not 0
          case (t, i) => struct(lit(t).as("threshold"),
            coalesce(col(s"c$i"), lit(0L)).as(out))
        }: _*)).as("r"))
        .select(col("r.threshold"), col(s"r.$out"))
    }
    val nPairs = curve(base, "n_pairs")
    val best = base
      .select(explode(array(col("id_a"), col("id_b"))).as("id"),
        col("s"))
      .groupBy(col("id")).agg(max(col("s")).as("s"))
    val nDocs = curve(best, "n_docs")
    nPairs.join(broadcast(nDocs), Seq("threshold"))
  }
}
