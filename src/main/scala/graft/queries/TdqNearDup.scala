package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextExprs, TimeExprs, VectorExprs}
import graft.operators.{CacheHygiene, Dedup, NearDup, Similarity}
import graft.sources.Tables

/** Near-duplicate detection (MinHash-LSH, SimHash, winnowing, containment), duplicate clusters, effective sizes, perceptual media dedup, recall QA.
  *
  * One domain slice of the query registry (split from the single-file
  * registry in round 15 — same members, same semantics). Members are
  * `private[queries]` so cross-domain references keep working; `val`s
  * became `lazy val`s so initialization is order-independent across the
  * trait mix-in. Mixed into [[TestdataQueries]], which owns the maps.
  */
private[queries] trait TdqNearDup { this: TestdataQueries.type =>

  // ------------------------------------------------------------ near-dup §2.10
  private[queries] def q18ShingleJaccard(s: SparkSession, d: String): DataFrame =
    NearDup.shingleJaccardPairs(Tables.documents(s, d),
      col("doc_id"), col("text"), n = 3, threshold = 0.8, maxPostings = 1000)

  private[queries] lazy val q18Sql =
    """WITH toks AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS ts
      |  FROM documents),
      |sh0 AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(ts[i:i+2], ' ') for i in range(1, greatest(len(ts)-3, 0) + 2)]
      |  )) AS shingle FROM toks WHERE len(ts) > 0),
      |sh AS (
      |  SELECT doc_id, shingle FROM (
      |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
      |    FROM sh0) WHERE df <= 1000),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT id_a, id_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
      |  round(CAST(n_inter AS DOUBLE) /
      |        CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8""".stripMargin

  // MinHash+LSH with enough bands that recall on ≥0.8-Jaccard pairs is
  // effectively certain (16 bands × 2 rows: P(miss | j=0.8) = 0.36^16 ≈
  // 7e-8), and every candidate is verified by exact Jaccard — so the
  // output EQUALS the exact shingle-Jaccard pair set and the oracle is the
  // exact computation itself. A red row here means the LSH lost a pair.
  private[queries] def q19MinhashLsh(s: SparkSession, d: String): DataFrame =
    NearDup.minhashLshPairs(Tables.documents(s, d), col("doc_id"), col("text"),
      n = 3, bands = 16, rowsPerBand = 2, threshold = 0.8)

  /** CTE chain computing exact word-3-shingle Jaccard for every
    * intersecting doc pair (`jpairs`) of `src`: the oracle for q19, the
    * edge set for q44's connected components, and (over the curated
    * survivor set) q55's near-dup stage. */
  private[queries] def jaccardPairsCteOver(src: String): String =
    s"""toks AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
      |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts
      |  FROM $src),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(ts[i:i+2], ' ') for i in range(1, greatest(len(ts)-3, 0) + 2)]
      |  )) AS shingle FROM toks WHERE len(ts) > 0),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |jpairs AS (
      |  SELECT id_a, id_b,
      |    CAST(n_inter AS DOUBLE) /
      |      CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b)""".stripMargin

  private[queries] lazy val jaccardPairsCte = jaccardPairsCteOver("documents")

  private[queries] lazy val q19Sql =
    s"""WITH $jaccardPairsCte
       |SELECT id_a, id_b, round(jaccard, 6) AS jaccard
       |FROM jpairs WHERE jaccard >= 0.8""".stripMargin

  // Streaming near-dup (§2.10 + reference micro-batch model): the SAME
  // corpus fed as three arrival batches through the incremental band-index
  // stream (NearDupStream.ingestBatch). Batch equivalence — every pair is
  // found exactly once, when its later endpoint arrives — makes the
  // accumulated sink EQUAL the one-shot batch operator, so q19's exact-
  // Jaccard oracle is this query's oracle too. The split key (id % 3)
  // deliberately separates most near-dup pairs into different arrival
  // batches, exercising the cross-generation index-probe path, not just
  // the within-batch self-join.
  private[queries] def q57StreamingNeardup(s: SparkSession, d: String): DataFrame = {
    val base = CacheHygiene.tempDir("neardup_stream")
    val docs = Tables.documents(s, d)
      .select(col("doc_id").as("id"), col("text"))
    StreamSim.modSplits(docs, col("id")).foreach { b =>
      graft.streaming.NearDupStream.ingestBatch(s, b,
        s"$base/state", s"$base/sink",
        n = 3, bands = 16, rowsPerBand = 2, threshold = 0.8)
    }
    s.read.parquet(s"$base/sink")
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // SimHash registered over the ORACLE-PORTABLE polynomial token hash
  // (NearDup.portableTokenHash) so another engine can rebuild the 62-bit
  // signatures bit-for-bit; the xxhash64 variant stays as the faster
  // library path (values unit-tested equivalent in shape, not registered).
  private[queries] def q20Simhash(s: SparkSession, d: String): DataFrame =
    NearDup.simhashPolySignatures(Tables.documents(s, d),
      col("doc_id"), col("text"))
      .select(col("id").as("doc_id"), col("sig").as("simhash"))

  /** Shared CTE body rebuilding the portable simhash signatures in DuckDB:
    * per-token 62-bit poly hash (two list_reduce folds — fold-from-first-
    * element equals fold-from-0 for this recurrence), then the 62 per-bit
    * majority sums. */
  private[queries] def simhashSigSql(sigAlias: String): String = {
    val sums = (0 until 62).map(b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n    ")
    val sig = (0 until 62).map(b =>
      s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents WHERE length(trim(text)) > 0),
       |h AS (
       |  SELECT doc_id,
       |    list_reduce(list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT)),
       |                (a, c) -> (a * 31 + c) % 2147483647) * 2147483648
       |    + list_reduce(list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT)),
       |                  (a, c) -> (a * 131 + c) % 2147483629) AS h
       |  FROM toks),
       |bits AS (
       |  SELECT doc_id,
       |    $sums
       |  FROM h GROUP BY doc_id),
       |$sigAlias AS (SELECT doc_id, $sig AS sig FROM bits)""".stripMargin
  }

  private[queries] lazy val q20Sql =
    s"""WITH ${simhashSigSql("sig")}
       |SELECT doc_id, sig AS simhash FROM sig""".stripMargin

  // -------------------------------------- duplicate clusters (§2.10 dedup)
  // Near-dup pairs → connected components → min-id representative: the
  // "keep one per cluster" step of corpus dedup. Edges are the (recall-1.0)
  // minhash-LSH pairs, so the oracle can rebuild the identical edge set
  // exactly (jaccardPairsCte) and resolve components with a recursive CTE.
  private[queries] def q44DupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val edges = NearDup.minhashLshPairs(docs, col("doc_id"), col("text"),
        n = 3, bands = 16, rowsPerBand = 2, threshold = 0.8)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    graft.operators.DupClusters.connectedComponents(
        docs.select(col("doc_id").as("id")), edges)
      .select(col("id").as("doc_id"), col("cluster_rep"))
  }

  private[queries] lazy val q44Sql =
    s"""WITH RECURSIVE $jaccardPairsCte,
       |und AS (
       |  SELECT id_a AS src, id_b AS dst FROM jpairs WHERE jaccard >= 0.8
       |  UNION ALL
       |  SELECT id_b, id_a FROM jpairs WHERE jaccard >= 0.8),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN und e ON e.src = reach.id)
       |SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY id""".stripMargin

  // ----------------------------- shingle containment (§2.10 ext)
  // Directed |A∩B|/|A| — the asymmetric quote/excerpt relation Jaccard
  // misses; same posting-list plan as q18, both directions emitted.
  private[queries] lazy val q112Threshold = 0.5

  private[queries] def q112Containment(s: SparkSession, d: String): DataFrame =
    graft.operators.NearDup.containmentPairs(Tables.documents(s, d),
      col("doc_id"), col("text"), n = 3, threshold = q112Threshold)

  private[queries] lazy val q112Sql =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts
       |  FROM documents),
       |sh0 AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [array_to_string(ts[i:i+2], ' ') for i in range(1, greatest(len(ts)-3, 0) + 2)]
       |  )) AS shingle FROM toks WHERE len(ts) > 0),
       |sh AS (
       |  SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
       |    FROM sh0) WHERE df <= 1000),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_sub, b.doc_id AS id_sup, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT id_sub, id_sup, n_inter, sa.n_sh AS n_sub, sb.n_sh AS n_sup,
       |  round(CAST(n_inter AS DOUBLE) / CAST(sa.n_sh AS DOUBLE), 6)
       |    AS containment
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = id_sub
       |JOIN sizes sb ON sb.doc_id = id_sup
       |WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh AS DOUBLE)
       |  >= $q112Threshold""".stripMargin

  // ----------------------------- cross-source overlap matrix (§2.10 ext)
  // Inter-source contamination panel: distinct 3-gram overlap
  // coefficient (shared / min) per source pair.
  private[queries] def q120SourceOverlap(s: SparkSession, d: String): DataFrame =
    graft.operators.Contamination.sourceOverlapMatrix(
      Tables.documents(s, d), col("source"), col("text"), n = 3)

  private[queries] lazy val q120Sql =
    """WITH toks AS (
      |  SELECT source, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
      |       ELSE regexp_split_to_array(trim(text), '\s+') END AS ts
      |  FROM documents),
      |sg AS (
      |  SELECT DISTINCT source AS src, g FROM (
      |    SELECT source, unnest(list_distinct(
      |      [array_to_string(ts[i:i+2], ' ')
      |       for i in range(1, greatest(len(ts)-3, 0) + 2)])) AS g
      |    FROM toks WHERE len(ts) > 0)),
      |sizes AS (SELECT src, count(*) AS n_grams FROM sg GROUP BY src),
      |pairs AS (
      |  SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
      |  FROM sg a JOIN sg b ON a.g = b.g AND a.src < b.src GROUP BY 1, 2)
      |SELECT src_a, src_b, n_shared, sa.n_grams AS n_a, sb.n_grams AS n_b,
      |  round(CAST(n_shared AS DOUBLE) /
      |        CAST(least(sa.n_grams, sb.n_grams) AS DOUBLE), 6) AS overlap
      |FROM pairs
      |JOIN sizes sa ON sa.src = src_a
      |JOIN sizes sb ON sb.src = src_b""".stripMargin

  // ----------------------------- winnowing fingerprints (§2.10 ext)
  // MOSS winnowing (k=3 grams, window w=4): deterministic detection of
  // shared runs >= w+k-1 tokens at ~2/(w+1) of the exact posting volume.
  private[queries] lazy val (q121K, q121W) = (3, 4)

  private[queries] def q121Winnowing(s: SparkSession, d: String): DataFrame =
    graft.operators.NearDup.winnowingPairs(Tables.documents(s, d),
      col("doc_id"), col("text"), k = q121K, w = q121W, minShared = 1)

  private[queries] lazy val q121Sql = {
    val (k, w) = (q121K, q121W)
    val poly = "list_reduce(list_transform(string_split(g, ''), " +
      "c -> CAST(ascii(c) AS BIGINT)), (a, c) -> (a * 31 + c) % 1000000007)"
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts
       |  FROM documents),
       |gh AS (
       |  SELECT doc_id,
       |    [$poly for g in
       |      [array_to_string(ts[i:i+${k - 1}], ' ')
       |       for i in range(1, len(ts) - ${k - 2})]] AS gh
       |  FROM toks WHERE len(ts) >= $k),
       |fp0 AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [list_min(gh[j:j+${w - 1}])
       |     for j in range(1, greatest(len(gh) - ${w - 1}, 1) + 1)])) AS fp
       |  FROM gh),
       |fp AS (
       |  SELECT doc_id, fp FROM (
       |    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df
       |    FROM fp0) WHERE df <= 1000),
       |sizes AS (SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
       |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, n_shared, sa.n_fp AS n_a, sb.n_fp AS n_b,
       |  round(CAST(n_shared AS DOUBLE) /
       |        CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE), 6) AS sim
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b""".stripMargin
  }

  // ----------------------------- sketch overlap matrix (§2.10 ext)
  // q120's matrix at KMV-sketch cost: per-pair Jaccard/overlap estimates
  // from merged bottom-k sketches (Beyer et al. 2007); exact when a
  // pair's universe fits in k.
  private[queries] lazy val q122K = 256

  private[queries] def q122OverlapSketch(s: SparkSession, d: String): DataFrame =
    graft.operators.Contamination.sourceOverlapMatrixSketch(
      Tables.documents(s, d), col("source"), col("text"), n = 3, k = q122K)

  private[queries] lazy val q122Sql = {
    val k = q122K
    val poly = "list_reduce(list_transform(string_split(g, ''), " +
      "c -> CAST(ascii(c) AS BIGINT)), (a, c) -> (a * 31 + c) % 1000000007)"
    val h = s"((($poly * 1103515245 + 12345) % 1000000007) * 2654435761) % 1000000007"
    val estU = s"CASE WHEN n_union < $k THEN CAST(n_union AS DOUBLE) " +
      s"ELSE ${k - 1}.0 * 1000000007.0 / CAST(kth_u AS DOUBLE) END"
    s"""WITH toks AS (
       |  SELECT source, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |       ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT source AS src, g FROM (
       |    SELECT source, unnest(list_distinct(
       |      [array_to_string(ts[i:i+2], ' ')
       |       for i in range(1, greatest(len(ts)-3, 0) + 2)])) AS g
       |    FROM toks WHERE len(ts) > 0)),
       |hs AS (SELECT DISTINCT src, $h AS h FROM sh),
       |sk AS (SELECT src, h FROM (
       |    SELECT src, h, row_number() OVER (PARTITION BY src ORDER BY h) AS r
       |    FROM hs) WHERE r <= $k),
       |per AS (SELECT src, count(*) AS n_x, max(h) AS kth FROM sk GROUP BY src),
       |ests AS (SELECT src, CASE WHEN n_x < $k THEN CAST(n_x AS DOUBLE)
       |    ELSE ${k - 1}.0 * 1000000007.0 / CAST(kth AS DOUBLE) END AS est
       |  FROM per),
       |prs AS (SELECT a.src AS src_a, a.est AS est_a,
       |               b.src AS src_b, b.est AS est_b
       |        FROM ests a JOIN ests b ON a.src < b.src),
       |u0 AS (
       |  SELECT p.src_a, p.src_b, s.h,
       |    bool_or(s.src = p.src_a) AS in_a, bool_or(s.src = p.src_b) AS in_b
       |  FROM prs p JOIN sk s ON s.src = p.src_a OR s.src = p.src_b
       |  GROUP BY 1, 2, 3),
       |u AS (SELECT * FROM (
       |    SELECT src_a, src_b, h, in_a, in_b,
       |      row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS r
       |    FROM u0) WHERE r <= $k),
       |agg AS (
       |  SELECT src_a, src_b, count(*) AS n_union, max(h) AS kth_u,
       |    sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS n_common
       |  FROM u GROUP BY 1, 2)
       |SELECT a.src_a, a.src_b, CAST(n_common AS BIGINT) AS n_common,
       |  n_union,
       |  round(CAST(n_common AS DOUBLE) / n_union, 6) AS j_est,
       |  round(est_a, 4) AS est_a, round(est_b, 4) AS est_b,
       |  round(CAST(n_common AS DOUBLE) / n_union * ($estU) /
       |        least(est_a, est_b), 6) AS overlap_est
       |FROM agg a JOIN prs p ON a.src_a = p.src_a AND a.src_b = p.src_b""".stripMargin
  }

  // ------------------- cross-source near-dup matrix (§2.10 ext)
  // q121's gram-overlap matrix asked at the DOCUMENT level: verified
  // near-dup pairs (q19's own plan) bucketed by order-normalized source
  // pair — which feeds duplicate each other (off-diagonal) and each
  // feed's internal dup load (diagonal).
  private[queries] def q164NearDupMatrix(s: SparkSession, d: String): DataFrame =
    graft.operators.Datasheet.nearDupSourceMatrix(
      q19MinhashLsh(s, d).select(col("id_a"), col("id_b")),
      Tables.documents(s, d)
        .select(col("doc_id").as("id"), col("source")))

  private[queries] lazy val q164Sql =
    s"""WITH pr AS (SELECT id_a, id_b FROM ($q19Sql)),
       |j AS (SELECT least(da.source, db.source) AS src_a,
       |    greatest(da.source, db.source) AS src_b
       |  FROM pr JOIN documents da ON da.doc_id = pr.id_a
       |          JOIN documents db ON db.doc_id = pr.id_b)
       |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM j GROUP BY src_a, src_b""".stripMargin

  // ------------------- dedup-effective dataset size (§2.10 ext)
  // The datasheet scalar a dedup run is FOR: how many docs/tokens
  // actually remain when each near-dup cluster (q44's connected
  // components) keeps its representative. Doc and token keep rates in
  // one corpus-bounded aggregate over the id-keyed cluster table.
  private[queries] def q168EffectiveSize(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d).select(col("doc_id"),
      TextExprs.tokenCount(col("text")).cast("long").as("nt"))
    graft.operators.Datasheet.dedupEffectiveSize(q44DupClusters(s, d), tok)
  }

  private[queries] lazy val q168Sql =
    s"""WITH cl AS (SELECT doc_id, cluster_rep FROM ($q44Sql)),
       |tok AS (SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS nt
       |  FROM documents)
       |SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT cluster_rep) AS BIGINT) AS n_clusters,
       |  round(CAST(count(DISTINCT cluster_rep) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) AS doc_keep_rate,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN doc_id = cluster_rep THEN nt ELSE 0 END)
       |    AS BIGINT) AS rep_tokens,
       |  round(CAST(sum(CASE WHEN doc_id = cluster_rep THEN nt ELSE 0 END)
       |      AS DOUBLE) / CAST(sum(nt) AS DOUBLE), 6) AS token_keep_rate
       |FROM cl JOIN tok USING (doc_id)""".stripMargin

  // ------------------- perceptual image dedup (§2.10 ext)
  // The multimodal dedup arm: REAL PNGs (gradient fixtures, generated
  // executor-side) → real ImageIO decode → dHash perceptual fingerprint
  // → the same banded-Hamming pair machinery as the simhash family. The
  // oracle re-derives every decoded sample arithmetically (the encoder
  // is lossless and the gradient is an exact function of the id), packs
  // the same 64-bit signature (HUGEINT with an explicit two's-complement
  // wrap — bit 63 is live), replays the 4×16 banding, and verifies the
  // exact xor bit count — candidate cut included, no recall proxy.
  private[queries] lazy val q178MaxHamming = 6

  /** Shared oracle tail for every perceptual-hash arm: a `bits(id, lo,
    * hi)` CTE (two 32-bit signature halves — bit 63 is live, so the
    * unsigned value is assembled in HUGEINT and wrapped to the signed
    * 64-bit Spark emits) → 4×16 banding → distinct band-collision
    * candidates → exact xor bit-count verify. Replays `NearDup
    * .hammingBandPairs` semantics verbatim, candidate cut included. */
  private[queries] lazy val hammingSigCtes =
    s"""sg AS (SELECT id, CAST(hi AS HUGEINT) * 4294967296 + lo AS u
       |  FROM bits),
       |sig AS (SELECT id, u, CAST(CASE
       |    WHEN u >= CAST(9223372036854775808 AS HUGEINT)
       |    THEN u - CAST(18446744073709551616 AS HUGEINT) ELSE u END
       |    AS BIGINT) AS sig FROM sg),
       |banded AS (SELECT id, sig,
       |    b, CAST((u // (CASE b WHEN 0 THEN 1 WHEN 1 THEN 65536
       |      WHEN 2 THEN 4294967296 ELSE 281474976710656 END))
       |      % 65536 AS BIGINT) AS v
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b))""".stripMargin

  private[queries] def hammingTailSql(maxHamming: Int): String =
    s"""$hammingSigCtes,
       |cand AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b,
       |    l.sig AS sa, r.sig AS sb
       |  FROM banded l JOIN banded r
       |    ON l.b = r.b AND l.v = r.v AND l.id < r.id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= $maxHamming""".stripMargin

  private[queries] def q178ImageDhash(s: SparkSession, d: String): DataFrame = {
    val ids = Tables.embeddings(s, d).select(col("vec_id"))
    val media = graft.multimodal.MultimodalOps.gradientImages(ids)
    val sigs = graft.multimodal.MultimodalOps.dHashes(media).toDF()
    graft.operators.NearDup.hammingBandPairs(sigs,
        maxHamming = q178MaxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  private[queries] lazy val q178BitsCtes =
    s"""pp AS (SELECT id, k % 23 + 9 AS w, k % 10 + 8 AS h,
       |    (k // 155 % 8) * 32 + (id % 3) * 2 AS base,
       |    (k // 31 % 5) * 32 + 16 AS sx, (k // 11 % 4) * 64 + 32 AS sy
       |  FROM (SELECT vec_id AS id,
       |      ((((vec_id % 4096) + 4096) % 4096) * 2654435761) % 4096 AS k FROM embeddings)),
       |grid AS (SELECT id, r, c,
       |    3 * ((base + sx * ((c * w) // 9) + sy * ((r * h) // 8)) % 256)
       |      AS s
       |  FROM pp CROSS JOIN (SELECT unnest(range(0, 8)) AS r)
       |    CROSS JOIN (SELECT unnest(range(0, 9)) AS c)),
       |-- bit 63 is live: build the unsigned signature in two 32-bit
       |-- halves, then wrap to the signed 64-bit Spark emits
       |bits AS (SELECT g1.id,
       |    CAST(sum(CASE WHEN g1.r * 8 + g1.c < 32 AND g1.s > g2.s
       |      THEN CAST(1 AS BIGINT) << (g1.r * 8 + g1.c) ELSE 0 END)
       |      AS BIGINT) AS lo,
       |    CAST(sum(CASE WHEN g1.r * 8 + g1.c >= 32 AND g1.s > g2.s
       |      THEN CAST(1 AS BIGINT) << (g1.r * 8 + g1.c - 32) ELSE 0 END)
       |      AS BIGINT) AS hi
       |  FROM grid g1 JOIN grid g2 ON g1.id = g2.id AND g1.r = g2.r
       |    AND g2.c = g1.c + 1
       |  GROUP BY g1.id)""".stripMargin

  private[queries] lazy val q178Sql =
    s"""WITH $q178BitsCtes,
       |${hammingTailSql(q178MaxHamming)}""".stripMargin

  // ------------------- banded-Hamming recall QA (§2.10 ext)
  // q158's sampled-audit question for the perceptual family: above
  // radius 3 the 4x16 pigeonhole guarantee lapses, so the band cut's
  // recall at maxHamming=6 is MEASURED against an exact all-pairs
  // Hamming scan over a 1-in-5 id sample — the registered banded plan
  // restricted to the same sample is the candidate side.
  private[queries] lazy val q185SampleMod = 5L

  private[queries] def q185DhashRecall(s: SparkSession, d: String): DataFrame = {
    val ids = Tables.embeddings(s, d).select(col("vec_id"))
    val sigs = graft.multimodal.MultimodalOps.dHashes(
      graft.multimodal.MultimodalOps.gradientImages(ids)).toDF()
    graft.operators.NearDup.hammingBandQa(sigs,
      maxHamming = q178MaxHamming, sampleMod = q185SampleMod)
  }

  private[queries] lazy val q185Sql =
    s"""WITH $q178BitsCtes,
       |$hammingSigCtes,
       |samp AS (SELECT id, sig FROM sig WHERE id % $q185SampleMod = 0),
       |truth AS (SELECT a.id AS ta, b.id AS tb FROM samp a JOIN samp b
       |  ON a.id < b.id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= $q178MaxHamming),
       |cand AS (SELECT DISTINCT l.id AS ca, r.id AS cb,
       |    l.sig AS sa, r.sig AS sb
       |  FROM banded l JOIN banded r
       |    ON l.b = r.b AND l.v = r.v AND l.id < r.id),
       |ver AS (SELECT ca, cb FROM cand
       |  WHERE bit_count(xor(sa, sb)) <= $q178MaxHamming
       |    AND ca % $q185SampleMod = 0 AND cb % $q185SampleMod = 0),
       |tj AS (SELECT t.ta, v.ca FROM truth t LEFT JOIN ver v
       |  ON t.ta = v.ca AND t.tb = v.cb)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM samp) AS n_sample,
       |  CAST(count(*) AS BIGINT) AS n_true_pairs,
       |  CAST(count(ca) AS BIGINT) AS n_caught,
       |  CASE WHEN count(*) > 0 THEN round(CAST(count(ca) AS DOUBLE) /
       |    CAST(count(*) AS DOUBLE), 6) END AS recall
       |FROM tj""".stripMargin

  // ------------------- per-source effective size (§2.10 ext)
  // q168 sliced: WHICH feed is dup-heavy — the per-source keep rates
  // that directly motivate the q183 dedup-aware mix.
  private[queries] def q188EffectiveBySource(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tok = docs.select(col("doc_id"),
      TextExprs.tokenCount(col("text")).cast("long").as("nt"))
    graft.operators.Datasheet.dedupEffectiveSizeBySource(
      q44DupClusters(s, d), tok,
      docs.select(col("doc_id"), col("source").as("src")))
  }

  private[queries] lazy val q188Sql =
    s"""WITH cl AS (SELECT doc_id, cluster_rep FROM ($q44Sql)),
       |tok AS (SELECT doc_id, source AS src,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS nt
       |  FROM documents)
       |SELECT src, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT cluster_rep) AS BIGINT) AS n_clusters,
       |  round(CAST(count(DISTINCT cluster_rep) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) AS doc_keep_rate,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN doc_id = cluster_rep THEN nt ELSE 0 END)
       |    AS BIGINT) AS rep_tokens,
       |  round(CAST(sum(CASE WHEN doc_id = cluster_rep THEN nt ELSE 0 END)
       |      AS DOUBLE) / CAST(sum(nt) AS DOUBLE), 6) AS token_keep_rate
       |FROM cl JOIN tok USING (doc_id)
       |GROUP BY src""".stripMargin

  // ------------------- perceptual audio dedup (§2.10 ext)
  // The audio arm of the perceptual-dedup triple: REAL 16-bit PCM WAVs
  // → real javax.sound decode → 65-window envelope difference hash →
  // the shared banded-Hamming chain. The oracle re-derives every
  // decoded sample arithmetically (PCM is lossless), folds the SAME
  // floor-mean windows, and replays the q178 tail verbatim.
  private[queries] lazy val q179MaxHamming = 6

  private[queries] def q179AudioEnvelope(s: SparkSession, d: String): DataFrame = {
    val ids = Tables.embeddings(s, d).select(col("vec_id"))
    val media = graft.multimodal.MultimodalOps.toneAudio(ids)
    val sigs = graft.multimodal.MultimodalOps.envelopeHashes(media).toDF()
    graft.operators.NearDup.hammingBandPairs(sigs,
        maxHamming = q179MaxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  private[queries] lazy val q179Sql =
    s"""WITH pp AS (SELECT id, k % 200 + 130 AS n, k // 7 % 97 + 11 AS step,
       |    (k // 11 % 50) * 40 + id % 3 AS base
       |  FROM (SELECT vec_id AS id,
       |      ((((vec_id % 4096) + 4096) % 4096) * 2654435761) % 4096 AS k FROM embeddings)),
       |wm AS (SELECT id, j,
       |    list_sum(list_transform(range(j * n // 65, (j + 1) * n // 65),
       |      i -> abs((base + i * step) % 2001 - 1000)))
       |      // ((j + 1) * n // 65 - j * n // 65) AS w
       |  FROM pp CROSS JOIN (SELECT unnest(range(0, 65)) AS j)),
       |bits AS (SELECT w1.id,
       |    CAST(sum(CASE WHEN w1.j < 32 AND w1.w > w2.w
       |      THEN CAST(1 AS BIGINT) << w1.j ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(sum(CASE WHEN w1.j >= 32 AND w1.w > w2.w
       |      THEN CAST(1 AS BIGINT) << (w1.j - 32) ELSE 0 END)
       |      AS BIGINT) AS hi
       |  FROM wm w1 JOIN wm w2 ON w1.id = w2.id AND w2.j = w1.j + 1
       |  GROUP BY w1.id),
       |${hammingTailSql(q179MaxHamming)}""".stripMargin

  // ------------------- perceptual video dedup (§2.10 ext)
  // The video arm: REAL RIFF/AVI clips → real container parse → the
  // per-frame brightness curve resampled to 65 points → difference
  // hash → the shared chain. Solid frames make the parsed per-frame
  // mean EXACTLY the fill byte, so the oracle replays the whole curve.
  private[queries] lazy val q180MaxHamming = 6

  private[queries] def q180VideoCurve(s: SparkSession, d: String): DataFrame = {
    val ids = Tables.embeddings(s, d).select(col("vec_id"))
    val media = graft.multimodal.MultimodalOps.clipVideo(ids)
    val sigs = graft.multimodal.MultimodalOps.curveHashes(media).toDF()
    graft.operators.NearDup.hammingBandPairs(sigs,
        maxHamming = q180MaxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  private[queries] lazy val q180Sql =
    s"""WITH pp AS (SELECT id, k % 30 + 35 AS nf,
       |    (k // 13 % 31) * 8 + 9 AS step,
       |    (k // 11 % 8) * 32 + id % 3 AS base
       |  FROM (SELECT vec_id AS id,
       |      ((((vec_id % 4096) + 4096) % 4096) * 2654435761) % 4096 AS k FROM embeddings)),
       |pt AS (SELECT id, j,
       |    (base + ((j * nf) // 65) * step) % 256 AS p
       |  FROM pp CROSS JOIN (SELECT unnest(range(0, 65)) AS j)),
       |bits AS (SELECT p1.id,
       |    CAST(sum(CASE WHEN p1.j < 32 AND p1.p > p2.p
       |      THEN CAST(1 AS BIGINT) << p1.j ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(sum(CASE WHEN p1.j >= 32 AND p1.p > p2.p
       |      THEN CAST(1 AS BIGINT) << (p1.j - 32) ELSE 0 END)
       |      AS BIGINT) AS hi
       |  FROM pt p1 JOIN pt p2 ON p1.id = p2.id AND p2.j = p1.j + 1
       |  GROUP BY p1.id),
       |${hammingTailSql(q180MaxHamming)}""".stripMargin

  // ------------------- blocker QA on a deterministic sample (§2.10 ext)
  // q41's blocker audited: pairs completeness + reduction ratio of the
  // char-8-gram candidate stage, with ground truth = bounded all-pairs
  // Levenshtein WITHIN the id % 7 sample (the only place all-pairs can
  // exist) and candidates = the production blocker's own df-cut postings
  // over the FULL corpus, restricted to sample pairs. Same parameters as
  // the registered q41. sampleMod is the boundedness knob: the all-pairs
  // ground truth is O((n/sampleMod)²) — the fixture uses mod 2 so the
  // handful of true ≤12-distance pairs actually lands in-sample (dup ids
  // are delta-correlated; mod 7 catches zero of the 25), a 100 TB
  // deployment sizes it so the sample stays ~10⁴–10⁵ docs.
  private[queries] lazy val q158SampleMod = 2L

  private[queries] def q158BlockerQa(s: SparkSession, d: String): DataFrame =
    NearDup.blockerQa(Tables.documents(s, d), col("doc_id"), col("text"),
      prefixLen = 40, q = 8, maxDist = 12, maxPostings = 200,
      sampleMod = q158SampleMod)

  private[queries] lazy val q158Sql =
    s"""WITH p AS (
       |  SELECT doc_id, substring(text, 1, 40) AS prefix FROM documents
       |  WHERE length(trim(substring(text, 1, 40))) > 0),
       |s AS (SELECT * FROM p WHERE doc_id % $q158SampleMod = 0),
       |truth AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM s a JOIN s b
       |  ON a.doc_id < b.doc_id
       |  WHERE levenshtein(a.prefix, b.prefix) <= 12),
       |g0 AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [substring(np, i, 8) for i in range(1, greatest(len(np) - 7, 1) + 1)]
       |  )) AS gram
       |  FROM (SELECT doc_id,
       |          regexp_replace(trim(prefix), '\\s+', ' ', 'g') AS np FROM p)),
       |g AS (
       |  SELECT doc_id, gram FROM (
       |    SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
       |    FROM g0) WHERE df <= 200),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
       |cs AS (SELECT * FROM cand
       |  WHERE id_a % $q158SampleMod = 0 AND id_b % $q158SampleMod = 0),
       |m AS (SELECT
       |  (SELECT count(*) FROM s) AS n_sample,
       |  (SELECT count(*) FROM truth) AS n_true,
       |  (SELECT count(*) FROM cs) AS n_cand,
       |  (SELECT count(*) FROM truth t JOIN cs c
       |     ON t.id_a = c.id_a AND t.id_b = c.id_b) AS n_caught)
       |SELECT CAST(n_sample AS BIGINT) AS n_sample,
       |  CAST(n_true AS BIGINT) AS n_true_pairs,
       |  CAST(n_cand AS BIGINT) AS n_cand_pairs,
       |  CAST(n_caught AS BIGINT) AS n_caught,
       |  CASE WHEN n_true > 0 THEN
       |    round(CAST(n_caught AS DOUBLE) / CAST(n_true AS DOUBLE), 6)
       |  END AS pairs_completeness,
       |  CASE WHEN n_sample >= 2 THEN
       |    round(CAST(1 AS DOUBLE) - CAST(n_cand AS DOUBLE) /
       |      (CAST(n_sample AS DOUBLE) * CAST(n_sample - 1 AS DOUBLE)
       |        / CAST(2 AS DOUBLE)), 6)
       |  END AS reduction_ratio
       |FROM m""".stripMargin

  // ------------------- LSH candidate recall curve (§2.10 ext)
  // q141's recall-monitoring pattern applied to the DEDUP family: the
  // portable-permutation MinHash (4 bands × 4 rows — deliberately lossy,
  // S-curve 1-(1-j⁴)⁴ ≈ 0.88 at j=0.8) is scored against the exact
  // shingle-Jaccard ground truth (q18's own plan), per Jaccard tenth-
  // bucket. Both arms are deterministic modular arithmetic, so the oracle
  // replays the ENTIRE thing — exact pairs, minhash permutations, band
  // join — in SQL; a red row means the LSH family itself broke, not just
  // a fixture drift.
  private[queries] lazy val q155Bands = 4
  private[queries] lazy val q155Rows = 4

  private[queries] def q155LshRecall(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val exact = q18ShingleJaccard(s, d)
    val cand = NearDup.portableLshCandidates(docs, col("doc_id"),
      col("text"), n = 3, q155Bands, q155Rows)
    NearDup.lshRecallByBucket(exact, cand)
  }

  private[queries] lazy val q155Sql =
    s"""WITH ex AS (SELECT id_a, id_b, jaccard FROM ($q18Sql)),
       |toks AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [array_to_string(ts[i:i+2], ' ') for i in range(1, greatest(len(ts)-3, 0) + 2)]
       |  )) AS shingle FROM toks WHERE len(ts) > 0),
       |ph AS (
       |  SELECT doc_id, list_reduce(
       |    list_transform(string_split(shingle, ''), c -> CAST(ascii(c) AS BIGINT)),
       |    (a, c) -> (a * 31 + c) % 1000000007) AS ph
       |  FROM sh),
       |hs AS (
       |  SELECT doc_id, i,
       |    min(((2 * i + 3) * ph + (101 * i + 7)) % 1000000007) AS mh
       |  FROM ph CROSS JOIN range(${q155Bands * q155Rows}) r(i)
       |  GROUP BY doc_id, i),
       |bk AS (
       |  SELECT doc_id, i // $q155Rows AS band,
       |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bucket
       |  FROM hs GROUP BY doc_id, i // $q155Rows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS ca, b.doc_id AS cb
       |  FROM bk a JOIN bk b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
       |SELECT round(floor(jaccard * 10) / 10, 1) AS j_bucket,
       |  CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(count(ca) AS BIGINT) AS n_caught,
       |  round(CAST(count(ca) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |    AS recall
       |FROM ex LEFT JOIN cand ON id_a = ca AND id_b = cb
       |GROUP BY 1""".stripMargin

  // ------------------- dup cluster-size histogram (§2.10 ext)
  // The duplication dashboard's shape panel over q44's labeling: a fat
  // tail means a boilerplate shingle glued unrelated docs. Composes the
  // registered clusters; the oracle composes q44's recursive CTE.
  private[queries] def q222ClusterSizes(s: SparkSession, d: String): DataFrame =
    graft.operators.DupClusters.sizeHistogram(q44DupClusters(s, d))

  private[queries] lazy val q222Sql =
    s"""WITH lab AS ($q44Sql),
       |cs AS (SELECT cluster_rep, CAST(count(*) AS BIGINT) AS sz
       |       FROM lab GROUP BY 1)
       |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(sz * count(*) AS BIGINT) AS n_docs
       |FROM cs GROUP BY sz""".stripMargin

  // ------------------- dedup threshold operating curve (§2.10 ext)
  // What each similarity cut costs, read off q18's pair table: pairs
  // surviving and distinct docs touched per threshold. Thresholds ride
  // the plan as a literal; pair table is id+score metadata.
  private[queries] lazy val q215Thresholds = Seq(0.8, 0.85, 0.9, 0.95)

  private[queries] def q215ThresholdCurve(s: SparkSession, d: String): DataFrame =
    graft.operators.NearDup.thresholdCurve(q18ShingleJaccard(s, d),
      col("id_a"), col("id_b"), col("jaccard"), q215Thresholds,
      builtAt = 0.8)

  private[queries] lazy val q215Sql =
    s"""WITH pairs AS ($q18Sql),
       |t AS (SELECT unnest([${q215Thresholds.mkString(", ")}])
       |        AS threshold),
       |e AS (SELECT t.threshold, p.id_a, p.id_b
       |      FROM pairs p JOIN t ON p.jaccard >= t.threshold),
       |np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
       |       FROM e GROUP BY 1),
       |nd AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_docs
       |       FROM (SELECT DISTINCT threshold, id FROM (
       |               SELECT threshold, id_a AS id FROM e
       |               UNION ALL SELECT threshold, id_b FROM e))
       |       GROUP BY 1)
       |SELECT t.threshold,
       |  coalesce(np.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
       |  coalesce(nd.n_docs, CAST(0 AS BIGINT)) AS n_docs
       |FROM t LEFT JOIN np USING (threshold)
       |  LEFT JOIN nd USING (threshold)""".stripMargin
}
