package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextExprs, TimeExprs, VectorExprs}
import graft.operators.{Dedup, NearDup, Similarity}
import graft.sources.Tables

/** Retrieval (BM25/QL/RM3/RRF/nDCG) and eval/classify: AUC, AP, kappa, calibration, churn, drift panels, decontamination.
  *
  * One domain slice of the query registry (split from the single-file
  * registry in round 15 — same members, same semantics). Members are
  * `private[queries]` so cross-domain references keep working; `val`s
  * became `lazy val`s so initialization is order-independent across the
  * trait mix-in. Mixed into [[TestdataQueries]], which owns the maps.
  */
private[queries] trait TdqRetrievalEval { this: TestdataQueries.type =>

  // ------------------------- benchmark decontamination (§2.10 ext)
  // Test-set contamination check (the GPT-3-paper decontamination step):
  // per corpus doc, the fraction of its distinct 3-gram shingles that
  // appear in ANY benchmark doc. Benchmark sets are tiny vs a 100 TB
  // corpus, so the benchmark shingle set broadcasts and the corpus scan
  // stays map-side: one explode + one map-combined groupBy, no corpus
  // shuffle by shingle. Integer outputs; `contaminated` = overlap >= 0.5
  // as an integer comparison.
  private[queries] lazy val q62BenchMod = 50L

  // Plan-shape notes (measured at sf0.1): the doc_id split sits BELOW the
  // shingle projection and explode runs directly on the shingle
  // expression, so each side shingles its own rows exactly once — a
  // `size(sh) > 0` pre-filter over a shared projection re-evaluated the
  // shingles per consumer (6.7 s; the repo's #1 recurring hazard). Join
  // keys are 128-bit shingle hashes (3.3-4.1 s; string-join within
  // noise, kept for the broadcast-size win). Hashing token windows
  // inside the shingle HOF measured clearly WORSE (6.2 s — per-window
  // array slice + array hash beats building each string once only in
  // theory) and was rejected.
  private[queries] def q62Decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.operators.Contamination.overlapVsBenchmark(
      corpus = docs.filter(col("doc_id") % q62BenchMod =!= 0),
      benchmark = docs.filter(col("doc_id") % q62BenchMod === 0),
      id = col("doc_id"), text = col("text"), n = 3)
  }

  private[queries] lazy val q62Sql =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [array_to_string(ts[i:i+2], ' ') for i in range(1, greatest(len(ts)-3, 0) + 2)]
       |  )) AS s FROM toks WHERE len(ts) > 0),
       |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % $q62BenchMod = 0),
       |corp AS (SELECT doc_id, s FROM sh WHERE doc_id % $q62BenchMod <> 0)
       |SELECT doc_id, count(*) AS n_shingles, count(b.s) AS n_overlap,
       |  count(b.s) * 2 >= count(*) AS contaminated
       |FROM corp LEFT JOIN bench b ON corp.s = b.s
       |GROUP BY doc_id""".stripMargin

  // ---------- bloom-gated decontamination (§2.10 ext, q96)
  // Same semantics as q62, different scale regime: the benchmark
  // shingle set is represented as a Bloom filter (~10 bits/element,
  // Spark's distributed sketch aggregate) and only bloom survivors
  // enter the exact confirmation join — the shape for benchmark sets
  // too large to broadcast as exact hashes. No false negatives + exact
  // confirm ⇒ output identical to q62, so the q62 oracle certifies it.
  private[queries] def q96BloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.operators.Contamination.overlapVsBenchmarkBloom(
      corpus = docs.filter(col("doc_id") % q62BenchMod =!= 0),
      benchmark = docs.filter(col("doc_id") % q62BenchMod === 0),
      id = col("doc_id"), text = col("text"), n = 3)
  }

  // Dense global row ids without a single-task window: Shard.byBudget
  // with unit weights and budget 1 IS zipWithIndex under a total order —
  // the training-example-id assignment primitive, same two-phase prefix
  // sum, oracle = row_number() - 1.
  private[queries] def q63GlobalRowIds(s: SparkSession, d: String): DataFrame =
    graft.operators.Shard.byBudget(
      Tables.documents(s, d)
        .select(col("doc_id"), lit(1L).as("one")),
      orderCol = "doc_id", weightCol = "one", budget = 1L)
      .select(col("doc_id"), col("shard").as("row_idx"))

  private[queries] lazy val q63Sql =
    """SELECT doc_id,
      |  CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) - 1 AS row_idx
      |FROM documents""".stripMargin

  // --------------------------- BM25 top-k retrieval (§2.10 ext)
  // Okapi BM25 with the Robertson idf over fixed term queries — the
  // lexical-retrieval primitive (decontamination lookups, seed-doc
  // expansion). Query terms are plan-time literals, so each score is one
  // fixed-order scalar expression the oracle replays verbatim — including
  // the ln, whose cross-engine last-ulp risk is absorbed by round(…, 4)
  // (score is ranked on the rounded value with a doc-id tie-break).
  private[queries] lazy val q68Queries: Seq[(String, Seq[String])] = Seq(
    "narrow" -> Seq("spark", "window"),
    "mixed" -> Seq("customer", "fast", "join"),
    "stop" -> Seq("the", "scan"))
  private[queries] lazy val q68K1 = 1.2
  private[queries] lazy val q68B = 0.75
  private[queries] lazy val q68TopK = 5

  private[queries] def q68Bm25(s: SparkSession, d: String): DataFrame =
    graft.operators.Bm25.topK(Tables.documents(s, d), col("doc_id"),
      col("text"), q68Queries, q68K1, q68B, q68TopK)

  // Full BM25 top-k SQL, parameterized so q124's hybrid-fusion oracle can
  // reuse the identical scoring plan at a different depth.
  private[queries] def bm25SqlFor(queries: Seq[(String, Seq[String])],
      k1: Double, b: Double, topK: Int): String = {
    val terms = queries.flatMap(_._2).distinct
    val dfIdx = terms.zipWithIndex.toMap
    val dfAggs = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN list_contains(ts, '$t') THEN 1 ELSE 0 END) AS df_$i"
    }.mkString(",\n      ")
    val k1p1 = (k1 + 1.0).toString
    val oneMinusB = (1.0 - b).toString
    def contrib(t: String): String = {
      val df = s"CAST(df_${dfIdx(t)} AS DOUBLE)"
      val tf = s"CAST(len(list_filter(ts, x -> x = '$t')) AS DOUBLE)"
      s"ln(((CAST(n_docs AS DOUBLE) - $df + 0.5) / ($df + 0.5)) + 1.0) * " +
        s"(($tf * $k1p1) / ($tf + $k1 * ($oneMinusB + $b * " +
        s"(CAST(len(ts) AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))"
    }
    val scoreCols = queries.zipWithIndex.map { case ((_, ts), i) =>
      ts.map(contrib).mkString(" + ") + s" AS s$i"
    }.mkString(",\n      ")
    val union = queries.zipWithIndex.map { case ((qid, _), i) =>
      s"SELECT '$qid' AS query_id, doc_id, round(s$i, 4) AS score FROM sc"
    }.mkString(" UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts
       |  FROM documents),
       |st AS (SELECT count(*) AS n_docs, sum(CAST(len(ts) AS BIGINT)) AS sum_dl,
       |      $dfAggs
       |    FROM toks),
       |sc AS (SELECT doc_id,
       |      $scoreCols
       |    FROM toks CROSS JOIN st),
       |u AS ($union),
       |r AS (SELECT query_id, doc_id, score, row_number() OVER (
       |        PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
       |      FROM u)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score
       |FROM r WHERE rank <= $topK""".stripMargin
  }

  private[queries] lazy val q68Sql = bm25SqlFor(q68Queries, q68K1, q68B, q68TopK)

  // ----------------- hashed linear classifier inference (§2.10 ext)
  // fastText-style quality-filter scoring: D hashed buckets, plan-literal
  // weights, decimal-exact mean, one sigmoid. The model weights are
  // deterministic pseudo-random values rounded to 6 decimals (exactly
  // representable in decimal(28,12)), rendered as literals into BOTH the
  // Spark plan and the oracle SQL — the oracle never re-derives them.
  private[queries] lazy val q77D = 64
  private[queries] lazy val q77Bias = -0.1
  private[queries] lazy val q77Weights: Seq[Double] = {
    val rng = new scala.util.Random(13)
    Seq.fill(q77D)(math.rint(rng.nextGaussian() * 1e6) / 1e6)
  }

  private[queries] def q77LinearScore(s: SparkSession, d: String): DataFrame =
    graft.operators.Classify.hashedLinearScore(
      Tables.documents(s, d), col("doc_id"), col("text"),
      q77Weights, q77Bias)
      .withColumnRenamed("id", "doc_id")

  /** q77's oracle parametrized by model literals — shared by every query
    * that rescores the corpus under a (possibly different) frozen model
    * (q77 and the q162 churn pair). */
  private[queries] def linearScoreSql(weights: Seq[Double], bias: Double): String = {
    val poly = "list_reduce(list_transform(string_split(tok, ''), " +
      "c -> CAST(ascii(c) AS BIGINT)), (a, c) -> (a * 31 + c) % 1000000007)"
    val values = weights.zipWithIndex.map { case (w, i) =>
      s"($i, CAST($w AS DECIMAL(28,12)))"
    }.mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents WHERE length(trim(text)) > 0),
       |w(bucket, wv) AS (VALUES $values),
       |b AS (SELECT doc_id, $poly % ${weights.length} AS bucket FROM toks),
       |sc AS (SELECT doc_id, count(*) AS n_toks,
       |      CAST(sum(wv) AS DOUBLE) AS z
       |    FROM b JOIN w USING (bucket) GROUP BY doc_id)
       |SELECT doc_id, n_toks,
       |  round(1.0 / (1.0 + exp(-($bias + z / CAST(n_toks AS DOUBLE)))), 4)
       |    AS score
       |FROM sc""".stripMargin
  }

  private[queries] lazy val q77Sql = linearScoreSql(q77Weights, q77Bias)

  // ----------------------------- fuzzy decontamination (§2.10 ext)
  // Document-level near-dup matching vs the benchmark split (doc_id % 7
  // = 0): MinHash-LSH band collisions generate corpus×benchmark
  // candidates, exact cross-set shingle Jaccard ≥ 0.8 confirms. At 16×2
  // bands recall on ≥0.8 pairs is ≈ 1 (q19's argument), so the output
  // EQUALS the exact cross-set computation — which is the oracle.
  private[queries] lazy val q108BenchMod = 7L

  private[queries] def q108FuzzyDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.operators.Contamination.fuzzyVsBenchmark(
      corpus = docs.filter(col("doc_id") % q108BenchMod =!= 0),
      benchmark = docs.filter(col("doc_id") % q108BenchMod === 0),
      col("doc_id"), col("text"),
      n = 3, bands = 16, rowsPerBand = 2, threshold = 0.8)
  }

  private[queries] lazy val q108Sql =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [array_to_string(ts[i:i+2], ' ') for i in range(1, greatest(len(ts)-3, 0) + 2)]
       |  )) AS shingle FROM toks WHERE len(ts) > 0),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS cid, b.doc_id AS bid, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle
       |  WHERE a.doc_id % $q108BenchMod <> 0 AND b.doc_id % $q108BenchMod = 0
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT cid, bid,
       |    CAST(n_inter AS DOUBLE) /
       |      CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS j
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = cid
       |  JOIN sizes sb ON sb.doc_id = bid)
       |SELECT cid AS doc_id, count(*) AS n_bench_hits,
       |  round(max(j), 6) AS max_jaccard
       |FROM jp WHERE j >= 0.8 GROUP BY cid""".stripMargin

  // ----------------------------- length histogram datasheet (§2.10 ext)
  // Power-of-two token-count buckets per source; bucket = len(bin(n)) —
  // integer/string arithmetic, no float log2. All-integer outputs.
  private[queries] def q116LengthHistogram(s: SparkSession, d: String): DataFrame =
    graft.operators.Diversity.lengthHistogram(Tables.documents(s, d),
      col("text"), col("source"))

  private[queries] lazy val q116Sql =
    """WITH toks AS (
      |  SELECT source, CASE WHEN length(trim(text)) = 0 THEN 0
      |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
      |  FROM documents)
      |SELECT source AS grp,
      |  CAST(CASE WHEN n_tok = 0 THEN 0 ELSE length(bin(n_tok)) END
      |    AS INTEGER) AS bucket,
      |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  min(n_tok) AS min_tok, max(n_tok) AS max_tok
      |FROM toks GROUP BY 1, 2""".stripMargin

  // ----------------------------- hybrid retrieval, RRF fusion (§2.10 ext)
  // Lexical (BM25 over documents.text) and semantic (cosine over the
  // doc's embedding row — vec_id ≡ doc_id for embedded docs) arms at
  // depth 20, fused per query by reciprocal-rank fusion in exact 1e12
  // fixed-point (`Retrieval.rrfFuse`). The three text queries pair with
  // query vectors 0/1/2; docs present in only one arm contribute that
  // arm's term alone — the standard RRF treatment of unranked docs.
  private[queries] lazy val q124Arms = Seq(("narrow", 0L), ("mixed", 1L), ("stop", 2L))
  private[queries] lazy val q124Depth = 20
  private[queries] lazy val q124C = 60
  private[queries] lazy val q124TopK = 10

  private[queries] def q124HybridRrf(s: SparkSession, d: String): DataFrame = {
    val bm = graft.operators.Bm25.topK(Tables.documents(s, d),
      col("doc_id"), col("text"), q68Queries, q68K1, q68B, q124Depth)
      .select(col("query_id"), col("rank"), col("doc_id"))
    val embs = Tables.embeddings(s, d)
    val qvecs = embs.filter(col("vec_id").isin(q124Arms.map(_._2): _*))
    val nameOf = q124Arms.tail.foldLeft(
      when(col("query_id") === lit(q124Arms.head._2), lit(q124Arms.head._1))) {
      case (acc, (name, vid)) => acc.when(col("query_id") === lit(vid), lit(name))
    }
    val co = graft.operators.Similarity
      .bruteForceTopK(embs, qvecs, "vec_id", "embedding", q124Depth)
      .select(nameOf.as("query_id"), col("rank"),
        col("neighbor_id").as("doc_id"))
    graft.operators.Retrieval.rrfFuse(Seq(bm, co), q124C, q124TopK)
  }

  private[queries] lazy val q124Sql = {
    val vecIds = q124Arms.map(_._2).mkString(", ")
    val caseArm = q124Arms.map { case (n, v) =>
      s"WHEN $v THEN '$n'" }.mkString(" ")
    s"""WITH bm AS (
       |  SELECT query_id, rank, doc_id
       |  FROM (${bm25SqlFor(q68Queries, q68K1, q68B, q124Depth)})),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |qv AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN ($vecIds)),
       |cs AS (
       |  SELECT qv.qid, e.vec_id AS doc_id,
       |    list_inner_product(qv.qv, e.v) /
       |      (sqrt(list_inner_product(qv.qv, qv.qv)) *
       |       sqrt(list_inner_product(e.v, e.v))) AS c
       |  FROM e CROSS JOIN qv WHERE qv.qid <> e.vec_id),
       |co AS (
       |  SELECT CASE qid $caseArm END AS query_id, rank, doc_id
       |  FROM (SELECT qid, doc_id, row_number() OVER (
       |          PARTITION BY qid ORDER BY c DESC, doc_id) AS rank FROM cs)
       |  WHERE rank <= $q124Depth),
       |u AS (
       |  SELECT query_id, doc_id, 1000000000000 // ($q124C + rank) AS contrib
       |  FROM bm
       |  UNION ALL
       |  SELECT query_id, doc_id, 1000000000000 // ($q124C + rank) FROM co),
       |f AS (SELECT query_id, doc_id, sum(contrib) AS rrf FROM u GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, rrf, row_number() OVER (
       |        PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
       |      FROM f)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id,
       |  CAST(rrf AS BIGINT) AS rrf_e12
       |FROM r WHERE rank <= $q124TopK""".stripMargin
  }

  // ----------------------- logistic-regression training (§2.10 ext)
  // The TRAIN step of the hashed linear filter q77 serves: full-batch
  // gradient descent on hashed token-count features, label = "is the
  // doc English" — a language/quality-filter trained on-cluster. Every
  // gradient is snapped to 1e-8 fixed-point before the cross-doc sum
  // (exact BIGINT aggregate), so the oracle replays all `q125Iters`
  // iterations bit-for-bit as unrolled CTEs: per-iteration weights are
  // SQL expressions over the previous iteration's, not copied literals.
  private[queries] lazy val q125D = 16
  private[queries] lazy val q125Lr = 0.5
  private[queries] lazy val q125Iters = 3

  private[queries] def q125LogregTrain(s: SparkSession, d: String): DataFrame =
    graft.operators.Classify.trainLogReg(Tables.documents(s, d),
      col("doc_id"), col("text"), (col("lang") === "en").cast("int"),
      q125D, q125Lr, q125Iters)

  private[queries] lazy val q125Sql = {
    def poly(v: String) = "list_reduce(list_transform(string_split(" + v +
      ", ''), c -> CAST(ascii(c) AS BIGINT)), (a, c) -> (a * 31 + c) % 1000000007)"
    def wCase(alias: String) =
      s"CASE (${poly("t")}) % $q125D " +
        (0 until q125D).map(j => s"WHEN $j THEN $alias.w_$j").mkString(" ") +
        " END"
    def wRow(i: Int): String =
      if (i == 0)
        "w0 AS (SELECT CAST(0.0 AS DOUBLE) AS b, " +
          (0 until q125D).map(j => s"CAST(0.0 AS DOUBLE) AS w_$j")
            .mkString(", ") + ")"
      else {
        val g = s"g${i - 1}"
        val upd = (0 until q125D).map(j =>
          s"w.w_$j - $q125Lr * ((CAST($g.g_$j AS DOUBLE) / 100000000.0) / " +
            s"CAST(nd.n_docs AS DOUBLE)) AS w_$j").mkString(",\n        ")
        s"""w$i AS (SELECT
           |        w.b - $q125Lr * ((CAST($g.g_b AS DOUBLE) / 100000000.0) /
           |          CAST(nd.n_docs AS DOUBLE)) AS b,
           |        $upd
           |      FROM w${i - 1} w CROSS JOIN $g CROSS JOIN nd)""".stripMargin
      }
    def gRow(i: Int): String = {
      val gAggs = (0 until q125D).map(j =>
        s"sum(CASE WHEN bucket = $j THEN g ELSE 0 END) AS g_$j")
        .mkString(",\n        ")
      s"""p$i AS (SELECT ts, y, n,
         |        1.0 / (1.0 + exp(-(w.b + (list_reduce(list_transform(ts,
         |          t -> ${wCase("w")}), (za, zb) -> za + zb) /
         |          CAST(n AS DOUBLE))))) AS p
         |      FROM ft CROSS JOIN w$i w),
         |g$i AS (SELECT
         |        (SELECT sum(CAST(round((p - y) * 100000000.0) AS BIGINT))
         |         FROM p$i) AS g_b,
         |        $gAggs
         |      FROM (SELECT (${poly("tok")}) % $q125D AS bucket,
         |              CAST(round(((p - y) / CAST(n AS DOUBLE)) *
         |                100000000.0) AS BIGINT) AS g
         |            FROM (SELECT p, y, n, unnest(ts) AS tok FROM p$i)))""".stripMargin
    }
    val iterCtes = (0 until q125Iters)
      .map(i => s"${wRow(i)},\n${gRow(i)}").mkString(",\n")
    val finalW = wRow(q125Iters).stripPrefix(s"w$q125Iters AS (")
      .stripSuffix(")")
    val out = (s"SELECT -1 AS idx, round(b, 9) AS weight FROM wf" +:
      (0 until q125D).map(j =>
        s"SELECT $j AS idx, round(w_$j, 9) AS weight FROM wf"))
      .mkString("\n UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS yl
       |  FROM documents WHERE length(trim(text)) > 0),
       |ft AS (SELECT ts, CAST(yl AS DOUBLE) AS y, len(ts) AS n
       |       FROM toks WHERE len(ts) > 0),
       |nd AS (SELECT count(*) AS n_docs FROM ft),
       |$iterCtes,
       |wf AS ($finalW)
       |SELECT CAST(idx AS INTEGER) AS idx, weight FROM ($out)""".stripMargin
  }


  // ------------------- per-source dataset card (§2.10 ext)
  // The "datasheets for datasets" panel, one query: volume, dup load,
  // mean quality, HLL distinct tokens per source — each column its
  // existing operator's shape, fused by sources-sized joins. The HLL
  // column reuses q127's full oracle as a subquery.
  private[queries] def q135DatasheetCard(s: SparkSession, d: String): DataFrame =
    graft.operators.Datasheet.perSourceCard(Tables.documents(s, d),
      col("doc_id"), col("text"), col("source"), q127P)
      .select(col("src").as("source"), col("n_docs"), col("n_tokens"),
        col("n_dup_docs"), col("mean_quality"),
        col("est_distinct_tokens"))

  private[queries] lazy val q135Sql =
    s"""WITH base AS (
       |  SELECT doc_id, source, text,
       |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts
       |  FROM documents),
       |vol AS (SELECT source, count(*) AS n_docs,
       |      CAST(sum(len(ts)) AS BIGINT) AS n_tokens
       |    FROM base GROUP BY source),
       |qual AS (SELECT source, round(
       |      CAST(sum(CAST(round($qualitySqlBody, 6) AS DECIMAL(18,6)))
       |        AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_quality
       |    FROM documents WHERE length(trim(text)) > 0 GROUP BY source),
       |dup AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_dup_docs
       |    FROM (SELECT source, text, count(*) AS c
       |          FROM base GROUP BY source, text)
       |    WHERE c >= 2 GROUP BY source),
       |hll AS (SELECT source, est_distinct AS est_distinct_tokens
       |        FROM ($q127Sql))
       |SELECT vol.source, n_docs, n_tokens,
       |  coalesce(n_dup_docs, 0) AS n_dup_docs, mean_quality,
       |  est_distinct_tokens
       |FROM vol LEFT JOIN qual USING (source)
       |  LEFT JOIN dup USING (source) LEFT JOIN hll USING (source)""".stripMargin

  // ------------------- binary-filter evaluation (§2.10 ext)
  // The threshold-sweep precision/recall panel over q77's scores with
  // label = "is English" — where to cut the classifier before it gates
  // a mixture. One scan, one metadata row, exact counts, snap-6 ratios.
  private[queries] lazy val q136Thresholds = Seq(0.3, 0.5, 0.7)

  /** q77's scores (`id`, `score`) joined to the label `y` = "is English"
    * and any `extra` document columns — the labeled table every
    * filter-eval query below reads (its oracles' `lb` CTE). */
  private[queries] def q77Labeled(s: SparkSession, d: String,
                                  extra: Column*): DataFrame =
    graft.operators.Classify.hashedLinearScore(
        Tables.documents(s, d), col("doc_id"), col("text"),
        q77Weights, q77Bias)
      .join(Tables.documents(s, d).select((col("doc_id").as("id") +: extra) :+
        (col("lang") === "en").cast("int").as("y"): _*), Seq("id"))

  private[queries] def q136FilterEval(s: SparkSession, d: String): DataFrame =
    graft.operators.Classify.evalBinary(q77Labeled(s, d), col("score"),
      col("y"), q136Thresholds)

  private[queries] lazy val q136Sql = {
    val aggs = q136Thresholds.zipWithIndex.map { case (t, i) =>
      s"""sum(CASE WHEN score >= CAST($t AS DOUBLE) AND y = 1 THEN 1 ELSE 0 END) AS tp_$i,
         |  sum(CASE WHEN score >= CAST($t AS DOUBLE) AND y = 0 THEN 1 ELSE 0 END) AS fp_$i,
         |  sum(CASE WHEN score < CAST($t AS DOUBLE) AND y = 1 THEN 1 ELSE 0 END) AS fn_$i,
         |  sum(CASE WHEN score < CAST($t AS DOUBLE) AND y = 0 THEN 1 ELSE 0 END) AS tn_$i""".stripMargin
    }.mkString(",\n  ")
    val rows = q136Thresholds.zipWithIndex.map { case (t, i) =>
      val (tp, fp, fn, tn) = (s"CAST(tp_$i AS DOUBLE)",
        s"CAST(fp_$i AS DOUBLE)", s"CAST(fn_$i AS DOUBLE)",
        s"CAST(tn_$i AS DOUBLE)")
      s"""SELECT CAST($t AS DOUBLE) AS threshold,
         |  CAST(tp_$i AS BIGINT) AS tp, CAST(fp_$i AS BIGINT) AS fp,
         |  CAST(fn_$i AS BIGINT) AS fn, CAST(tn_$i AS BIGINT) AS tn,
         |  CASE WHEN $tp + $fp > 0 THEN round($tp / ($tp + $fp), 6) END AS precision,
         |  CASE WHEN $tp + $fn > 0 THEN round($tp / ($tp + $fn), 6) END AS recall,
         |  CASE WHEN $tp + $tp + $fp + $fn > 0
         |       THEN round(($tp + $tp) / ($tp + $tp + $fp + $fn), 6) END AS f1
         |FROM c""".stripMargin
    }.mkString("\n UNION ALL ")
    s"""WITH sc AS (SELECT doc_id, score FROM ($q77Sql)),
       |lb AS (SELECT sc.score,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM sc JOIN documents d USING (doc_id)),
       |c AS (SELECT
       |  $aggs
       |FROM lb)
       |$rows""".stripMargin
  }

  // ------------------- exact ROC-AUC (§2.10 ext)
  // Threshold-free filter quality over q77's scores: Mann–Whitney pair
  // statistic via the distinct-score count table (score grain bounds
  // it), integer 2×-scaled numerator, one snap-6 division.
  private[queries] def q137Auc(s: SparkSession, d: String): DataFrame =
    graft.operators.Classify.aucRoc(q77Labeled(s, d), col("score"), col("y"))

  private[queries] lazy val q137Sql =
    s"""WITH sc AS (SELECT doc_id, score FROM ($q77Sql)),
       |lb AS (SELECT sc.score AS s,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM sc JOIN documents d USING (doc_id)),
       |g AS (SELECT s,
       |    sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS np,
       |    sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS nn
       |  FROM lb GROUP BY s),
       |c AS (SELECT s, np, nn,
       |    sum(nn) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nn AS cum_nn
       |  FROM g),
       |a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       |    CAST(sum(nn) AS BIGINT) AS n_neg,
       |    CAST(sum(np * (2 * cum_nn + nn)) AS BIGINT) AS num2 FROM c)
       |SELECT n_pos, n_neg,
       |  CASE WHEN n_pos > 0 AND n_neg > 0
       |    THEN round(CAST(num2 AS DOUBLE) /
       |      (CAST(2.0 AS DOUBLE) * CAST(n_pos * n_neg AS DOUBLE)), 6)
       |  END AS auc
       |FROM a""".stripMargin

  // ------------------- calibration bins (§2.10 ext)
  // Reliability diagram over q77's scores vs the English label —
  // completes the filter-eval family (q136 sweep, q137 AUC).
  private[queries] lazy val q138Bins = 10

  private[queries] def q138Calibration(s: SparkSession, d: String): DataFrame =
    graft.operators.Classify.calibrationBins(q77Labeled(s, d), col("score"),
      col("y"), q138Bins)

  private[queries] lazy val q138Sql =
    s"""WITH sc AS (SELECT doc_id, score FROM ($q77Sql)),
       |lb AS (SELECT sc.score AS s,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM sc JOIN documents d USING (doc_id)),
       |b AS (SELECT least(CAST(floor(s * CAST($q138Bins.0 AS DOUBLE))
       |        AS INT), ${q138Bins - 1}) AS bin, s, y FROM lb)
       |SELECT bin, count(*) AS n,
       |  CAST(sum(y) AS BIGINT) AS n_pos,
       |  round(CAST(sum(CAST(s AS DECIMAL(18,4))) AS DOUBLE) /
       |    CAST(count(*) AS DOUBLE), 6) AS mean_score,
       |  round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |    AS frac_pos
       |FROM b GROUP BY bin""".stripMargin

  // ------------------- per-source AUC (§2.10 ext)
  // q137 sliced by source — the filter-bias diagnostic: a classifier
  // ranking well globally can be near-random on one source.
  private[queries] def q142AucBySource(s: SparkSession, d: String): DataFrame =
    graft.operators.Classify.aucRocByGroup(q77Labeled(s, d, col("source")),
        col("score"), col("y"), col("source"))
      .select(col("grp").as("source"), col("n_pos"), col("n_neg"),
        col("auc"))

  private[queries] lazy val q142Sql =
    s"""WITH sc AS (SELECT doc_id, score FROM ($q77Sql)),
       |lb AS (SELECT d.source, sc.score AS s,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM sc JOIN documents d USING (doc_id)),
       |g AS (SELECT source, s,
       |    sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS np,
       |    sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS nn
       |  FROM lb GROUP BY source, s),
       |c AS (SELECT source, s, np, nn,
       |    sum(nn) OVER (PARTITION BY source ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nn AS cum_nn
       |  FROM g),
       |a AS (SELECT source, CAST(sum(np) AS BIGINT) AS n_pos,
       |    CAST(sum(nn) AS BIGINT) AS n_neg,
       |    CAST(sum(np * (2 * cum_nn + nn)) AS BIGINT) AS num2
       |  FROM c GROUP BY source)
       |SELECT source, n_pos, n_neg,
       |  CASE WHEN n_pos > 0 AND n_neg > 0
       |    THEN round(CAST(num2 AS DOUBLE) /
       |      (CAST(2.0 AS DOUBLE) * CAST(n_pos * n_neg AS DOUBLE)), 6)
       |  END AS auc
       |FROM a""".stripMargin

  // ------------------- filter agreement, Cohen's kappa (§2.10 ext)
  // Does the learned gate (q77 score >= 0.5) agree with the rule gate
  // (q101 Gopher keep) beyond what their keep rates force? The
  // redundancy diagnostic for stacked quality filters.
  private[queries] def q143FilterKappa(s: SparkSession, d: String): DataFrame = {
    val scores = graft.operators.Classify.hashedLinearScore(
      Tables.documents(s, d), col("doc_id"), col("text"),
      q77Weights, q77Bias)
      .select(col("id").as("doc_id"),
        (col("score") >= 0.5).as("pa"))
    val gopher = q101GopherRules(s, d)
      .select(col("doc_id"), col("keep").as("pb"))
    graft.operators.Classify.agreementKappa(
      scores.join(gopher, Seq("doc_id")), col("pa"), col("pb"))
  }

  private[queries] lazy val q143Sql =
    s"""WITH sc AS (SELECT doc_id, score >= CAST(0.5 AS DOUBLE) AS pa
       |           FROM ($q77Sql)),
       |gp AS (SELECT doc_id, keep AS pb FROM ($q101Sql)),
       |j AS (SELECT pa, pb FROM sc JOIN gp USING (doc_id)),
       |c AS (SELECT
       |    sum(CASE WHEN pa AND pb THEN 1 ELSE 0 END) AS n_both,
       |    sum(CASE WHEN pa AND NOT pb THEN 1 ELSE 0 END) AS n_only_a,
       |    sum(CASE WHEN NOT pa AND pb THEN 1 ELSE 0 END) AS n_only_b,
       |    sum(CASE WHEN NOT pa AND NOT pb THEN 1 ELSE 0 END) AS n_neither
       |  FROM j)
       |SELECT CAST(n_both AS BIGINT) AS n_both, CAST(n_only_a AS BIGINT) AS n_only_a,
       |  CAST(n_only_b AS BIGINT) AS n_only_b, CAST(n_neither AS BIGINT) AS n_neither,
       |  round(CAST(n_both + n_neither AS DOUBLE) /
       |    CAST(n_both + n_only_a + n_only_b + n_neither AS DOUBLE), 6) AS po,
       |  CASE WHEN CAST((n_both + n_only_a) * (n_both + n_only_b) +
       |        (n_only_b + n_neither) * (n_only_a + n_neither) AS DOUBLE) /
       |      (CAST(n_both + n_only_a + n_only_b + n_neither AS DOUBLE) *
       |       CAST(n_both + n_only_a + n_only_b + n_neither AS DOUBLE)) < 1.0
       |    THEN round((CAST(n_both + n_neither AS DOUBLE) /
       |        CAST(n_both + n_only_a + n_only_b + n_neither AS DOUBLE) -
       |      CAST((n_both + n_only_a) * (n_both + n_only_b) +
       |        (n_only_b + n_neither) * (n_only_a + n_neither) AS DOUBLE) /
       |      (CAST(n_both + n_only_a + n_only_b + n_neither AS DOUBLE) *
       |       CAST(n_both + n_only_a + n_only_b + n_neither AS DOUBLE))) /
       |      (1.0 - CAST((n_both + n_only_a) * (n_both + n_only_b) +
       |        (n_only_b + n_neither) * (n_only_a + n_neither) AS DOUBLE) /
       |      (CAST(n_both + n_only_a + n_only_b + n_neither AS DOUBLE) *
       |       CAST(n_both + n_only_a + n_only_b + n_neither AS DOUBLE))), 6)
       |  END AS kappa
       |FROM c""".stripMargin

  // ------------------- average precision / PR-AUC (§2.10 ext)
  // The class-imbalance companion of q137: precision–recall area by the
  // threshold-step sum over q77's scores vs the English label. Same
  // distinct-score count-table shape as q137; per-threshold precision
  // is one IEEE division, terms snap to 9 and sum in DECIMAL, one
  // snap-6 division by n_pos.
  private[queries] def q144AvgPrecision(s: SparkSession, d: String): DataFrame =
    graft.operators.Classify.averagePrecision(q77Labeled(s, d), col("score"),
      col("y"))

  private[queries] lazy val q144Sql =
    s"""WITH sc AS (SELECT doc_id, score FROM ($q77Sql)),
       |lb AS (SELECT sc.score AS s,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM sc JOIN documents d USING (doc_id)),
       |g AS (SELECT s,
       |    sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS np,
       |    sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS nn
       |  FROM lb GROUP BY s),
       |c AS (SELECT s, np, nn,
       |    sum(np) OVER (ORDER BY s DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tp,
       |    sum(np + nn) OVER (ORDER BY s DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
       |  FROM g),
       |a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       |    CAST(sum(nn) AS BIGINT) AS n_neg,
       |    sum(CAST(round(CAST(np AS DOUBLE) *
       |      (CAST(cum_tp AS DOUBLE) / CAST(cum_n AS DOUBLE)), 9)
       |      AS DECIMAL(38,9))) AS num FROM c)
       |SELECT n_pos, n_neg,
       |  CASE WHEN n_pos > 0
       |    THEN round(CAST(num AS DOUBLE) / CAST(n_pos AS DOUBLE), 6)
       |  END AS ap
       |FROM a""".stripMargin

  // ------------------- per-source average precision (§2.10 ext)
  // q144 sliced by source — AP is prevalence-sensitive by design, so the
  // only fair read of a source's ranking quality compares its AP to its
  // OWN prevalence; that needs the per-group table.
  private[queries] def q149ApBySource(s: SparkSession, d: String): DataFrame =
    graft.operators.Classify.averagePrecisionByGroup(
        q77Labeled(s, d, col("source")), col("score"), col("y"), col("source"))
      .select(col("grp").as("source"), col("n_pos"), col("n_neg"), col("ap"))

  private[queries] lazy val q149Sql =
    s"""WITH sc AS (SELECT doc_id, score FROM ($q77Sql)),
       |lb AS (SELECT d.source, sc.score AS s,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM sc JOIN documents d USING (doc_id)),
       |g AS (SELECT source, s,
       |    sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS np,
       |    sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS nn
       |  FROM lb GROUP BY source, s),
       |c AS (SELECT source, s, np, nn,
       |    sum(np) OVER (PARTITION BY source ORDER BY s DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tp,
       |    sum(np + nn) OVER (PARTITION BY source ORDER BY s DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
       |  FROM g),
       |a AS (SELECT source, CAST(sum(np) AS BIGINT) AS n_pos,
       |    CAST(sum(nn) AS BIGINT) AS n_neg,
       |    sum(CAST(round(CAST(np AS DOUBLE) *
       |      (CAST(cum_tp AS DOUBLE) / CAST(cum_n AS DOUBLE)), 9)
       |      AS DECIMAL(38,9))) AS num FROM c GROUP BY source)
       |SELECT source, n_pos, n_neg,
       |  CASE WHEN n_pos > 0
       |    THEN round(CAST(num AS DOUBLE) / CAST(n_pos AS DOUBLE), 6)
       |  END AS ap
       |FROM a""".stripMargin

  // ------------------- retrieval eval: nDCG@k and RR@k (§2.10 ext)
  // The retrieval-side companion of the classifier eval family: the
  // multi-probe LSH IVF arm (q22) evaluated against GRADED relevance
  // derived from the exact cosine top-5 (q21: rel = 6 − exact rank).
  // Both arms are the registered queries' own plans, so the oracles are
  // exact compositions (q141 pattern); the transcendental DCG terms
  // snap to 1e-9 fixed-point per position before any sum.
  private[queries] def q150Ranked(s: SparkSession, d: String): DataFrame =
    q22CosineIvf(s, d).select(col("query_id"), col("rank"),
      col("neighbor_id").as("doc_id"))

  private[queries] def q150Qrels(s: SparkSession, d: String): DataFrame =
    q21CosineTopK(s, d).select(col("query_id"),
      col("neighbor_id").as("doc_id"), (lit(6) - col("rank")).as("rel"))

  private[queries] def q150NdcgIvf(s: SparkSession, d: String): DataFrame =
    graft.operators.Retrieval.ndcgAtK(q150Ranked(s, d), q150Qrels(s, d),
      k = 5)

  private[queries] lazy val q150Sql =
    s"""WITH rk AS (SELECT query_id, rank, neighbor_id AS doc_id FROM ($q22Sql)),
       |qr AS (SELECT query_id, neighbor_id AS doc_id, 6 - rank AS rel
       |       FROM ($q21Sql)),
       |j AS (SELECT r.query_id, r.rank, COALESCE(q.rel, 0) AS rel
       |      FROM rk r LEFT JOIN qr q
       |        ON r.query_id = q.query_id AND r.doc_id = q.doc_id),
       |dcg AS (SELECT query_id,
       |    CAST(sum(CAST(round((pow(2.0, rel) - 1) / log2(rank + 1.0) * 1e9)
       |      AS BIGINT)) AS BIGINT) AS dcg_e9
       |  FROM j GROUP BY query_id),
       |ir AS (SELECT query_id, rel,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, doc_id) AS irank
       |  FROM qr WHERE rel > 0),
       |idcg AS (SELECT query_id,
       |    CAST(sum(CAST(round((pow(2.0, rel) - 1) / log2(irank + 1.0) * 1e9)
       |      AS BIGINT)) AS BIGINT) AS idcg_e9
       |  FROM ir WHERE irank <= 5 GROUP BY query_id),
       |qq AS (SELECT DISTINCT query_id FROM rk)
       |SELECT q.query_id, COALESCE(dcg_e9, 0) AS dcg_e9,
       |  COALESCE(idcg_e9, 0) AS idcg_e9,
       |  CASE WHEN COALESCE(idcg_e9, 0) > 0
       |    THEN round(CAST(COALESCE(dcg_e9, 0) AS DOUBLE) /
       |      CAST(idcg_e9 AS DOUBLE), 6)
       |  END AS ndcg
       |FROM qq q LEFT JOIN dcg USING (query_id)
       |LEFT JOIN idcg USING (query_id)""".stripMargin

  private[queries] def q151RrIvf(s: SparkSession, d: String): DataFrame =
    graft.operators.Retrieval.reciprocalRankAtK(q150Ranked(s, d),
      q150Qrels(s, d), k = 5)

  private[queries] lazy val q151Sql =
    s"""WITH rk AS (SELECT query_id, rank, neighbor_id AS doc_id FROM ($q22Sql)),
       |qr AS (SELECT query_id, neighbor_id AS doc_id, 6 - rank AS rel
       |       FROM ($q21Sql)),
       |hit AS (SELECT query_id, min(rank) AS first_rel_rank
       |  FROM rk JOIN qr USING (query_id, doc_id)
       |  WHERE rel > 0 GROUP BY query_id),
       |qq AS (SELECT DISTINCT query_id FROM rk)
       |SELECT q.query_id, first_rel_rank,
       |  COALESCE(round(1.0 / first_rel_rank, 6), 0.0) AS rr
       |FROM qq q LEFT JOIN hit USING (query_id)""".stripMargin

  // ------------------- expected calibration error (§2.10 ext)
  // q138's reliability diagram reduced to the standard scalar:
  // ECE = Σ_b (n_b/N)·|frac_pos − mean_score| over the same exact bins
  // (snap-6 per-bin values, snap-9 weighted gaps, one snap-6 division).
  private[queries] def q154Ece(s: SparkSession, d: String): DataFrame =
    graft.operators.Classify.calibrationError(q77Labeled(s, d), col("score"),
      col("y"), q138Bins)

  private[queries] lazy val q154Sql =
    s"""WITH bins AS ($q138Sql)
       |SELECT CAST(sum(n) AS BIGINT) AS n,
       |  round(CAST(sum(CAST(round(CAST(n AS DOUBLE) *
       |      abs(frac_pos - mean_score) * 1e9) AS BIGINT)) AS DOUBLE)
       |    / 1e9 / CAST(sum(n) AS DOUBLE), 6) AS ece
       |FROM bins""".stripMargin

  // ------------------- per-source contamination rate (§2.10 ext)
  // q62's datasheet rollup: which FEED is leaking eval data. Contaminated-
  // doc rate and micro-averaged gram overlap share per source — exact
  // long sums, one division each at the end (order-free, cross-engine
  // exact).
  private[queries] def q157ContamBySource(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.operators.Contamination.rateBySource(
      q62Decontaminate(s, d).withColumnRenamed("doc_id", "id"),
      docs.select(col("doc_id").as("id"), col("source")))
  }

  private[queries] lazy val q157Sql =
    s"""WITH c AS ($q62Sql)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_contaminated,
       |  round(CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) AS contam_rate,
       |  CAST(sum(n_shingles) AS BIGINT) AS n_shingles,
       |  CAST(sum(n_overlap) AS BIGINT) AS n_overlap,
       |  round(CAST(sum(n_overlap) AS DOUBLE)
       |    / CAST(sum(n_shingles) AS DOUBLE), 6) AS overlap_share
       |FROM c JOIN documents d ON c.doc_id = d.doc_id
       |GROUP BY d.source""".stripMargin

  // ------------------- score-distribution drift (§2.10 ext)
  // The deployed-filter monitor: the q77 classifier is FROZEN, so a
  // moved score histogram between the reference corpus and the q152
  // "newer" snapshot means the DATA changed and every mixture cut tuned
  // on the old distribution is re-based. Per-bin JS contributions on the
  // calibration-bin grid (PSI's job without PSI's empty-bin epsilon
  // hack), q152's 1e-9 fixed-point discipline.
  private[queries] def q160ScoreDrift(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    def scored(df: DataFrame) = graft.operators.Classify.hashedLinearScore(
      df, col("doc_id"), col("text"), q77Weights, q77Bias)
    val newer = docs.filter(col("source") =!= "src3" &&
      !(col("source") === "src7" && col("doc_id") % 2 === 0))
    graft.operators.Classify.scoreDrift(scored(docs), scored(newer),
      col("score"), q138Bins)
  }

  private[queries] lazy val q160Sql =
    s"""WITH sc AS (SELECT doc_id, score FROM ($q77Sql)),
       |bb AS (SELECT doc_id,
       |    least(CAST(floor(score * CAST($q138Bins.0 AS DOUBLE)) AS INTEGER),
       |      ${q138Bins - 1}) AS bin FROM sc),
       |rb AS (SELECT bin, count(*) AS ref_n FROM bb GROUP BY bin),
       |cb AS (SELECT bin, count(*) AS cur_n FROM bb
       |  JOIN documents d USING (doc_id)
       |  WHERE d.source <> 'src3'
       |    AND NOT (d.source = 'src7' AND d.doc_id % 2 = 0)
       |  GROUP BY bin),
       |j AS (SELECT coalesce(rb.bin, cb.bin) AS bin,
       |    coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
       |  FROM rb FULL OUTER JOIN cb ON rb.bin = cb.bin),
       |t AS (SELECT CAST(sum(ref_n) AS BIGINT) AS rt,
       |    CAST(sum(cur_n) AS BIGINT) AS ct FROM j),
       |x AS (SELECT j.*,
       |    CAST(ref_n AS DOUBLE) / CAST(greatest(rt, 1) AS DOUBLE) AS p,
       |    CAST(cur_n AS DOUBLE) / CAST(greatest(ct, 1) AS DOUBLE) AS q
       |  FROM j CROSS JOIN t)
       |SELECT bin, CAST(ref_n AS BIGINT) AS ref_n,
       |  CAST(cur_n AS BIGINT) AS cur_n,
       |  round(p, 6) AS ref_share, round(q, 6) AS cur_share,
       |  round(q - p, 6) AS delta_share,
       |  CAST(round((CASE WHEN ref_n = 0 AND cur_n = 0 THEN 0.0
       |    ELSE (CASE WHEN ref_n > 0
       |            THEN 0.5 * p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END) +
       |         (CASE WHEN cur_n > 0
       |            THEN 0.5 * q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END)
       |    END) * 1e9) AS BIGINT) AS js_e9
       |FROM x""".stripMargin

  // ------------------- exact KS drift on token counts (§2.10 ext)
  // Bin-free distribution drift beside the histogram monitors: exact
  // two-sample Kolmogorov–Smirnov on the per-doc token count between
  // the corpus and the q152 "newer" snapshot — max CDF gap and where it
  // occurs, integer cross-product numerators in DECIMAL(38,0).
  private[queries] def q165KsDrift(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val newer = docs.filter(col("source") =!= "src3" &&
      !(col("source") === "src7" && col("doc_id") % 2 === 0))
    graft.operators.Datasheet.ksDrift(docs, newer,
      TextExprs.tokenCount(col("text")))
  }

  private[queries] lazy val q165Sql =
    """WITH tok AS (SELECT source, doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS v
      |  FROM documents),
      |r AS (SELECT v, count(*) AS rn FROM tok GROUP BY v),
      |c AS (SELECT v, count(*) AS cn FROM tok
      |  WHERE source <> 'src3' AND NOT (source = 'src7' AND doc_id % 2 = 0)
      |  GROUP BY v),
      |j AS (SELECT coalesce(r.v, c.v) AS v, coalesce(rn, 0) AS rn,
      |    coalesce(cn, 0) AS cn
      |  FROM r FULL OUTER JOIN c ON r.v = c.v),
      |t AS (SELECT CAST(sum(rn) AS BIGINT) AS nr,
      |    CAST(sum(cn) AS BIGINT) AS nc FROM j),
      |cum AS (SELECT v,
      |    sum(rn) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
      |    sum(cn) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      |  FROM j),
      |g AS (SELECT v, nr, nc,
      |    abs(CAST(cr AS HUGEINT) * nc - CAST(cc AS HUGEINT) * nr) AS gap
      |  FROM cum CROSS JOIN t),
      |m AS (SELECT max(gap) AS mg FROM g)
      |SELECT nr AS n_ref, nc AS n_cur,
      |  CASE WHEN nr > 0 AND nc > 0 THEN
      |    round(CAST(mg AS DOUBLE) /
      |      (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE)), 6)
      |  END AS ks,
      |  CAST(min(v) AS BIGINT) AS ks_at
      |FROM g CROSS JOIN m WHERE gap = mg
      |GROUP BY nr, nc, mg""".stripMargin

  // ------------------- per-source KS drift (§2.10 ext)
  // q165 sliced: a token-count distribution can hold globally while one
  // feed's collapses (truncation bug, format change). Window PROPERLY
  // partitioned by source; src3 (absent from the newer snapshot) yields
  // null ks by contract.
  private[queries] def q171KsBySource(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val newer = docs.filter(col("source") =!= "src3" &&
      !(col("source") === "src7" && col("doc_id") % 2 === 0))
    graft.operators.Datasheet.ksDriftByGroup(docs, newer,
        TextExprs.tokenCount(col("text")), col("source"))
      .withColumnRenamed("grp", "source")
  }

  private[queries] lazy val q171Sql =
    """WITH tok AS (SELECT source, doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS v
      |  FROM documents),
      |r AS (SELECT source AS grp, v, count(*) AS rn FROM tok GROUP BY 1, 2),
      |c AS (SELECT source AS grp, v, count(*) AS cn FROM tok
      |  WHERE source <> 'src3' AND NOT (source = 'src7' AND doc_id % 2 = 0)
      |  GROUP BY 1, 2),
      |j AS (SELECT coalesce(r.grp, c.grp) AS grp, coalesce(r.v, c.v) AS v,
      |    coalesce(rn, 0) AS rn, coalesce(cn, 0) AS cn
      |  FROM r FULL OUTER JOIN c ON r.grp = c.grp AND r.v = c.v),
      |t AS (SELECT grp, CAST(sum(rn) AS BIGINT) AS nr,
      |    CAST(sum(cn) AS BIGINT) AS nc FROM j GROUP BY grp),
      |cum AS (SELECT grp, v,
      |    sum(rn) OVER (PARTITION BY grp ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
      |    sum(cn) OVER (PARTITION BY grp ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      |  FROM j),
      |g AS (SELECT cum.grp, v, nr, nc,
      |    abs(CAST(cr AS HUGEINT) * nc - CAST(cc AS HUGEINT) * nr) AS gap
      |  FROM cum JOIN t ON cum.grp = t.grp),
      |m AS (SELECT grp, max(gap) AS mg FROM g GROUP BY grp)
      |SELECT g.grp AS source, nr AS n_ref, nc AS n_cur,
      |  CASE WHEN nr > 0 AND nc > 0 THEN
      |    round(CAST(mg AS DOUBLE) /
      |      (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE)), 6)
      |  END AS ks,
      |  CAST(min(v) AS BIGINT) AS ks_at
      |FROM g JOIN m ON g.grp = m.grp AND g.gap = m.mg
      |GROUP BY g.grp, nr, nc, mg""".stripMargin

  // ------------------- per-source novel-gram rate (§2.10 ext)
  // Which feed brings NEW content vs re-crawls what the corpus already
  // has: distinct grams per source of the full (new) snapshot, counted
  // novel when absent from the q152 "newer" reference snapshot — so the
  // novelty here is exactly the dropped src3 + half-src7 content
  // resurfacing.
  private[queries] def q166NovelGrams(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val ref = docs.filter(col("source") =!= "src3" &&
      !(col("source") === "src7" && col("doc_id") % 2 === 0))
    graft.operators.Datasheet.novelGramsBySource(ref, docs,
      col("text"), col("source"))
  }

  private[queries] lazy val q166Sql =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS ts
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, source, unnest(list_distinct(
      |    [array_to_string(ts[i:i+2], ' ') for i in range(1, greatest(len(ts)-3, 0) + 2)]
      |  )) AS g FROM toks WHERE len(ts) > 0),
      |old AS (SELECT DISTINCT g FROM sh
      |  WHERE source <> 'src3' AND NOT (source = 'src7' AND doc_id % 2 = 0)),
      |nw AS (SELECT DISTINCT source AS src, g FROM sh)
      |SELECT src, CAST(count(*) AS BIGINT) AS n_grams,
      |  CAST(sum(CASE WHEN o.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  round(CAST(sum(CASE WHEN o.g IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS novelty_rate
      |FROM nw LEFT JOIN old o USING (g)
      |GROUP BY src""".stripMargin

  // ------------------- RM3 pseudo-relevance feedback (§2.10 ext)
  // The query-expansion step of the lexical stack: retrieve, mine the
  // top feedback docs' term distribution (RM1), rescore with the
  // interpolated weighted query. Scores here are DATA-DRIVEN sums, so
  // the dsum discipline applies end to end: decimal feedback mass,
  // 1e-9-snapped RM1 terms and weighted contributions, exact-Long
  // ranking keys. Interpolation constants are embedded from the SAME
  // Scala doubles the operator uses (shortest-round-trip repr + CAST
  // AS DOUBLE), so both engines parse identical IEEE values.
  private[queries] lazy val q189FbDocs = 3
  private[queries] lazy val q189FbTerms = 5
  private[queries] lazy val q189Alpha = 0.6
  private[queries] lazy val q189K = 5

  private[queries] def q189Rm3(s: SparkSession, d: String): DataFrame =
    graft.operators.Bm25.rm3TopK(Tables.documents(s, d), col("doc_id"),
      col("text"), q68Queries, q68K1, q68B, q189FbDocs, q189FbTerms,
      q189Alpha, q189K)

  private[queries] lazy val q189Sql = {
    val origRows = q68Queries.flatMap { case (qid, ts) =>
      val u = q189Alpha / ts.distinct.size
      ts.distinct.map(t => s"('$qid', '$t', CAST($u AS DOUBLE))")
    }.mkString(",\n      ")
    val oneMinusAlpha = (1.0 - q189Alpha).toString
    val k1p1 = (q68K1 + 1.0).toString
    val oneMinusB = (1.0 - q68B).toString
    val avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    val idf = "ln(((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / " +
      "(CAST(df AS DOUBLE) + 0.5)) + 1.0)"
    val sat = s"((CAST(tf AS DOUBLE) * $k1p1) / (CAST(tf AS DOUBLE) + " +
      s"${q68K1} * ($oneMinusB + ${q68B} * (CAST(dl AS DOUBLE) / $avgdl))))"
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts
       |  FROM documents),
       |fb AS (SELECT query_id, doc_id, score
       |  FROM (${bm25SqlFor(q68Queries, q68K1, q68B, q189FbDocs)})
       |  WHERE score > 0),
       |ft AS (SELECT query_id, sum(CAST(score AS DECIMAL(18,4))) AS tot
       |  FROM fb GROUP BY 1),
       |fbw AS (SELECT fb.query_id, fb.doc_id,
       |    score / CAST(tot AS DOUBLE) AS w_d
       |  FROM fb JOIN ft USING (query_id)),
       |fbtf AS (SELECT query_id, doc_id, w_d, dl, t,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT f.query_id, f.doc_id, f.w_d, len(k.ts) AS dl,
       |      unnest(k.ts) AS t
       |    FROM fbw f JOIN toks k ON f.doc_id = k.doc_id)
       |  GROUP BY 1, 2, 3, 4, 5),
       |rm1 AS (SELECT query_id, t, CAST(sum(CAST(round(
       |      w_d * CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE) * 1e9)
       |      AS BIGINT)) AS BIGINT) AS rm1_e9
       |  FROM fbtf GROUP BY 1, 2
       |  HAVING CAST(sum(CAST(round(w_d * CAST(tf AS DOUBLE) /
       |    CAST(dl AS DOUBLE) * 1e9) AS BIGINT)) AS BIGINT) > 0),
       |sel AS (SELECT query_id, t, rm1_e9 FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY query_id ORDER BY rm1_e9 DESC, t) AS r FROM rm1)
       |  WHERE r <= $q189FbTerms),
       |st2 AS (SELECT query_id, CAST(sum(rm1_e9) AS BIGINT) AS sel_tot
       |  FROM sel GROUP BY 1),
       |expn AS (SELECT sel.query_id, t,
       |    CAST($oneMinusAlpha AS DOUBLE) * CAST(rm1_e9 AS DOUBLE) /
       |      CAST(sel_tot AS DOUBLE) AS w
       |  FROM sel JOIN st2 USING (query_id)),
       |orig AS (SELECT * FROM (VALUES
       |      $origRows) AS o(query_id, t, w)),
       |comb AS (SELECT query_id, t, CAST(sum(w) AS DOUBLE) AS w
       |  FROM (SELECT * FROM orig UNION ALL SELECT * FROM expn)
       |  GROUP BY 1, 2),
       |tset AS (SELECT DISTINCT t FROM comb),
       |dfx AS (SELECT t, CAST(count(*) AS BIGINT) AS df
       |  FROM (SELECT doc_id, unnest(list_distinct(ts)) AS t FROM toks)
       |  WHERE t IN (SELECT t FROM tset) GROUP BY 1),
       |st3 AS (SELECT count(*) AS n_docs,
       |    sum(CAST(len(ts) AS BIGINT)) AS sum_dl FROM toks),
       |tft AS (SELECT doc_id, dl, t, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, len(ts) AS dl, unnest(ts) AS t FROM toks)
       |  WHERE t IN (SELECT t FROM tset) GROUP BY 1, 2, 3),
       |contrib AS (SELECT c.query_id, tft.doc_id, CAST(round(
       |      c.w * $idf * $sat * 1e9) AS BIGINT) AS e9
       |  FROM tft JOIN comb c USING (t) JOIN dfx USING (t)
       |    CROSS JOIN st3),
       |sc2 AS (SELECT query_id, doc_id,
       |    CAST(sum(e9) AS BIGINT) AS score_e9
       |  FROM contrib GROUP BY 1, 2)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id,
       |  round(CAST(score_e9 AS DOUBLE) / 1e9, 6) AS score
       |FROM (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score_e9 DESC, doc_id) AS rank
       |  FROM sc2)
       |WHERE rank <= $q189K""".stripMargin
  }

  // ------------------- per-source rank normalization (§2.10 ext)
  // Quantile normalization of quality scores: within-source percentile
  // makes thresholds comparable across sources with different score
  // scales. The Spark side builds the CDF on the distinct-(src, score)
  // count table (no per-source corpus sort — the low-cardinality window
  // skew trap); the oracle runs the textbook percent_rank() window, so
  // the hash match proves the decomposition.
  private[queries] def q182RankNormalize(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
    graft.operators.Classify.rankNormalize(docs, col("doc_id"),
        round(graft.functions.TextExprs.qualityScore(col("text")), 6),
        col("source"))
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("grp", "src")
      .withColumnRenamed("score", "quality")
  }

  private[queries] lazy val q182Sql =
    s"""WITH q AS (SELECT doc_id, source AS src, round(
       |    $qualitySqlBody,
       |    6) AS quality
       |  FROM documents
       |  WHERE length(trim(text)) > 0 AND source IS NOT NULL)
       |SELECT doc_id, src, quality,
       |  round(CAST(percent_rank() OVER (
       |    PARTITION BY src ORDER BY quality) AS DOUBLE), 6) AS pr
       |FROM q""".stripMargin

  // ------------------- robust outlier panel (§2.10 ext)
  // Hampel filter per source on document token counts: median/MAD, not
  // mean/sigma, so the screen isn't dragged by what it hunts. Integer
  // token counts make every interpolated median, deviation, and
  // threshold product exact IEEE — the oracle's percentile_cont replays
  // Spark's exact percentile bit-for-bit.
  private[queries] lazy val q177Z = 3.0

  private[queries] def q177RobustOutliers(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.operators.Datasheet.robustOutliers(docs,
      graft.functions.TextExprs.tokenCount(col("text")), col("source"),
      z = q177Z)
  }

  private[queries] lazy val q177Sql =
    s"""WITH tok AS (SELECT source AS src, CAST(
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
       |    AS DOUBLE) AS v
       |  FROM documents WHERE source IS NOT NULL),
       |md AS (SELECT src, percentile_cont(0.5) WITHIN GROUP (ORDER BY v)
       |    AS med FROM tok GROUP BY 1),
       |dv AS (SELECT tok.src, v, med, abs(v - med) AS dev
       |  FROM tok JOIN md USING (src)),
       |md2 AS (SELECT src, percentile_cont(0.5) WITHIN GROUP (ORDER BY dev)
       |    AS mad FROM dv GROUP BY 1)
       |SELECT dv.src, CAST(count(*) AS BIGINT) AS n_docs,
       |  round(dv.med, 6) AS median_v, round(md2.mad, 6) AS mad_v,
       |  CAST(sum(CASE WHEN dev > $q177Z * greatest(md2.mad, 1e-9)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       |  round(CAST(sum(CASE WHEN dev > $q177Z * greatest(md2.mad, 1e-9)
       |      THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |    AS outlier_share
       |FROM dv JOIN md2 USING (src)
       |GROUP BY dv.src, dv.med, md2.mad""".stripMargin

  // ------------------- prediction churn between filter versions (§2.10 ext)
  // The pre-rollout review artifact for a filter version bump: not "do
  // v1 and v2 agree" (q143's kappa) but WHAT v2 changes and WHERE —
  // directional flip counts per source at the production threshold. The
  // v2 model is a deterministic perturbation of q77's literals (a
  // zero-mean alternating ±0.6 weight nudge, 6-decimal snapped — exactly
  // representable, rendered into both plans), non-monotone vs v1 so both
  // flip directions occur (sf0.01: 31 enters / 5 exits — a bias-only or
  // scale-only "v2" is monotone in z and can never produce exits).
  private[queries] lazy val q162WeightsB: Seq[Double] = q77Weights.zipWithIndex.map {
    case (w, i) =>
      math.rint((w + (if (i % 2 == 0) 0.6 else -0.6)) * 1e6) / 1e6
  }
  private[queries] lazy val q162BiasB = q77Bias

  private[queries] def q162PredictionChurn(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val a = graft.operators.Classify.hashedLinearScore(docs, col("doc_id"),
      col("text"), q77Weights, q77Bias)
      .select(col("id"), (col("score") >= 0.5).as("ka"))
    val b = graft.operators.Classify.hashedLinearScore(docs, col("doc_id"),
      col("text"), q162WeightsB, q162BiasB)
      .select(col("id"), (col("score") >= 0.5).as("kb"))
    val joined = a.join(b, Seq("id"))
      .join(docs.select(col("doc_id").as("id"), col("source")), Seq("id"))
    graft.operators.Classify.predictionChurn(joined, col("ka"), col("kb"),
        col("source"))
      .withColumnRenamed("grp", "source")
  }

  private[queries] lazy val q162Sql =
    s"""WITH sa AS (SELECT doc_id, score FROM (${linearScoreSql(q77Weights, q77Bias)})),
       |sb AS (SELECT doc_id, score FROM (${linearScoreSql(q162WeightsB, q162BiasB)})),
       |j AS (SELECT d.source, sa.score >= 0.5 AS a, sb.score >= 0.5 AS b
       |  FROM sa JOIN sb USING (doc_id) JOIN documents d USING (doc_id))
       |SELECT source, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_a,
       |  CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_b,
       |  CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_enter,
       |  CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_exit,
       |  round(CAST(sum(CASE WHEN a <> b THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) AS churn_rate
       |FROM j GROUP BY source""".stripMargin

  // ------------------- query-likelihood Dirichlet retrieval (§2.10 ext)
  // The language-modeling member of the lexical trio (BM25 q68, RM3
  // q189): Dirichlet-smoothed unigram doc LMs scored by query
  // log-likelihood, plus one term absent from the whole collection to
  // pin the cf=0 drop. Same one-scan/one-stats-row/literal-chain
  // discipline as q68.
  private[queries] lazy val q204Queries: Seq[(String, Seq[String])] = Seq(
    "narrow" -> Seq("spark", "window"),
    "mixed" -> Seq("customer", "fast", "join"),
    "oov" -> Seq("scan", "zzzunseen"))
  private[queries] lazy val q204Mu = 500.0
  private[queries] lazy val q204K = 5

  private[queries] def q204QlTopK(s: SparkSession, d: String): DataFrame =
    graft.operators.Bm25.qlTopK(Tables.documents(s, d), col("doc_id"),
      col("text"), q204Queries, q204Mu, q204K)

  private[queries] lazy val q204Sql = {
    val terms = q204Queries.flatMap(_._2).distinct
    val cfIdx = terms.zipWithIndex.toMap
    val mu = q204Mu.toString
    val cfAggs = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CAST(len(list_filter(ts, x -> x = '$t')) AS BIGINT)) AS cf_$i"
    }.mkString(",\n      ")
    def contrib(t: String): String = {
      val cf = s"cf_${cfIdx(t)}"
      val tf = s"CAST(len(list_filter(ts, x -> x = '$t')) AS DOUBLE)"
      s"CASE WHEN $cf > 0 THEN ln(($tf + $mu * (CAST($cf AS DOUBLE) / " +
        s"CAST(sum_dl AS DOUBLE))) / (CAST(len(ts) AS DOUBLE) + $mu)) " +
        s"ELSE 0.0 END"
    }
    val scoreCols = q204Queries.zipWithIndex.map { case ((_, ts), i) =>
      ts.map(contrib).mkString(" + ") + s" AS s$i"
    }.mkString(",\n      ")
    val union = q204Queries.zipWithIndex.map { case ((qid, _), i) =>
      s"SELECT '$qid' AS query_id, doc_id, round(s$i, 4) AS score FROM sc"
    }.mkString(" UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts
       |  FROM documents),
       |st AS (SELECT sum(CAST(len(ts) AS BIGINT)) AS sum_dl,
       |      $cfAggs
       |    FROM toks),
       |sc AS (SELECT doc_id,
       |      $scoreCols
       |    FROM toks CROSS JOIN st),
       |u AS ($union),
       |r AS (SELECT query_id, doc_id, score, row_number() OVER (
       |        PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
       |      FROM u)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score
       |FROM r WHERE rank <= $q204K""".stripMargin
  }

  // ------------------- Fleiss' kappa, 3 filter gates (§2.10 ext)
  // q143's agreement diagnostic generalized to the real stacked-filter
  // case: learned gate (q77 >= 0.5), Gopher rule gate (q101), and a
  // length gate. One scan, one metadata row, exact integer pair counts.
  private[queries] lazy val q214LenGate = 200L

  private[queries] def q214FleissKappa(s: SparkSession, d: String): DataFrame = {
    val scores = graft.operators.Classify.hashedLinearScore(
      Tables.documents(s, d), col("doc_id"), col("text"),
      q77Weights, q77Bias)
      .select(col("id").as("doc_id"), (col("score") >= 0.5).as("pa"))
    val gopher = q101GopherRules(s, d)
      .select(col("doc_id"), col("keep").as("pb"))
    val len = Tables.documents(s, d)
      .select(col("doc_id"), (col("n_chars") >= q214LenGate).as("pc"))
    graft.operators.Classify.fleissKappa(
      scores.join(gopher, Seq("doc_id")).join(len, Seq("doc_id")),
      Seq(col("pa"), col("pb"), col("pc")))
  }

  private[queries] lazy val q214Sql =
    s"""WITH sc AS (SELECT doc_id, score >= CAST(0.5 AS DOUBLE) AS pa
       |           FROM ($q77Sql)),
       |gp AS (SELECT doc_id, keep AS pb FROM ($q101Sql)),
       |lg AS (SELECT doc_id, n_chars >= $q214LenGate AS pc
       |       FROM documents),
       |j AS (SELECT CAST(pa AS INT) + CAST(pb AS INT) + CAST(pc AS INT)
       |        AS k
       |      FROM sc JOIN gp USING (doc_id) JOIN lg USING (doc_id)
       |      WHERE pa IS NOT NULL AND pb IS NOT NULL AND pc IS NOT NULL),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
       |    CAST(sum(k) AS BIGINT) AS s_keep,
       |    CAST(sum(k * (k - 1) + (3 - k) * (3 - k - 1)) AS BIGINT)
       |      AS s_pairs
       |  FROM j),
       |d AS (SELECT n_items,
       |    CAST(s_keep AS DOUBLE) / CAST(n_items * 3 AS DOUBLE) AS p1,
       |    CAST(s_pairs AS DOUBLE) / CAST(n_items * 6 AS DOUBLE) AS pbar
       |  FROM c)
       |SELECT n_items, CAST(3 AS BIGINT) AS n_raters,
       |  round(p1, 6) AS p_keep, round(pbar, 6) AS p_bar,
       |  round(p1 * p1 + (1.0 - p1) * (1.0 - p1), 6) AS p_e,
       |  CASE WHEN p1 * p1 + (1.0 - p1) * (1.0 - p1) < 1.0
       |    THEN round((pbar - (p1 * p1 + (1.0 - p1) * (1.0 - p1))) /
       |      (1.0 - (p1 * p1 + (1.0 - p1) * (1.0 - p1))), 6)
       |  END AS kappa
       |FROM d""".stripMargin
}
