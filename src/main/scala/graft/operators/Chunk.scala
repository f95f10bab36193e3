package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextExprs

/** Document chunking (§2.10 extension surface): split long documents into
  * fixed-size token windows with overlap — the context-length preparation
  * stage that precedes sequence packing in a training-data pipeline
  * (chunk → filter → pack), and the retrieval-index unit for RAG corpora.
  *
  * Pure map-side: tokens are materialized ONCE per row (the HOF
  * let-binding discipline — see Vocab.pairRows), the chunk index range is
  * integer arithmetic on the token count, and the explode emits one row
  * per chunk with `slice` windows over the materialized array. No
  * shuffle, no UDF; the corpus scan streams through a single projection.
  */
object Chunk {

  /** One row per chunk: `(id, chunk_idx, n_tokens, chunk_text)`.
    * Chunk i covers tokens `[i·stride, i·stride + size)` with
    * `stride = size − overlap`; the final chunk may be short, and a doc
    * with ≤ `size` tokens yields exactly one chunk (its whole self). Docs
    * with zero tokens yield nothing. `chunk_text` re-joins the window
    * with single spaces — a normalization both engines reproduce
    * identically, so the operator is fully oracle-expressible. */
  def tokenChunks(df: DataFrame, id: Column, text: Column,
      size: Int, overlap: Int): DataFrame = {
    require(size >= 1, s"chunk size must be >= 1, got $size")
    require(overlap >= 0 && overlap < size,
      s"overlap must be in [0, size), got $overlap for size $size")
    val stride = size - overlap
    val ts = col("__ts")
    val n = org.apache.spark.sql.functions.size(ts)
    // n <= size → 1 chunk; else 1 + ceil((n - size) / stride), in exact
    // integer form: 1 + (n - size + stride - 1) div stride
    val nChunks = when(n <= size, lit(1))
      .otherwise(lit(1) + floor((n - size + stride - 1) / lit(stride))
        .cast("int"))
    df.select(id.as("id"), TextExprs.tokens(text).as("__ts"))
      .filter(n > 0)
      .select(col("id"), ts,
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .select(col("id"), col("chunk_idx"),
        slice(ts, col("chunk_idx") * stride + 1, lit(size)).as("__w"))
      .select(col("id"), col("chunk_idx"),
        org.apache.spark.sql.functions.size(col("__w")).as("n_tokens"),
        concat_ws(" ", col("__w")).as("chunk_text"))
  }

  /** Content-defined chunking — the dedup-friendly alternative to
    * [[tokenChunks]]: a chunk boundary falls AFTER every token whose
    * portable hash ≡ `remainder` (mod `divisor`), so boundaries are a
    * function of the CONTENT, not of token offsets. Insert a paragraph
    * at the head of a document and fixed windows all shift (every chunk
    * hash changes); content-defined chunks realign at the first
    * boundary after the edit, so all downstream chunks keep their
    * hashes — the Rabin-fingerprint chunking invariant (LBFS,
    * Muthitacharoen et al. 2001) that makes chunk-hash dedup robust to
    * shifted content. Expected chunk length is `divisor` tokens (no
    * min/max clamp: the clamps of storage-CDC exist to bound the block
    * index, which a relational engine doesn't carry — the raw geometric
    * length law is documented instead of hidden).
    *
    * Pure map-side like [[tokenChunks]]: cut positions come from ONE
    * codegen'd kernel call per row ([[graft.functions.HashKernels
    * .cdcCuts]] — NOT a filter/transform HOF, which evaluates
    * interpreted per element and benched 34× slower at sf0.1), chunk
    * spans from zipping `[0, cuts+1]` with `[cuts, n-1]`, and the
    * explode emits `slice` windows — no shuffle, no window function,
    * the corpus streams through one projection. The hash is the
    * oracle-portable polynomial fold ([[graft.functions.HashKernels
    * .polyHash]] — cdc_cuts evaluates exactly it per token), so every
    * boundary decision AND every chunk hash replays relationally (the
    * oracle formulates the same chunking as an exclusive prefix sum
    * over cut flags — provably the same partition of each doc).
    *
    * Output: `(id, chunk_idx, n_tokens, chunk_text, chunk_hash)`; docs
    * with zero tokens yield nothing; a doc whose LAST token is a cut
    * yields no empty trailing chunk. */
  def cdcChunks(df: DataFrame, id: Column, text: Column,
      divisor: Int, remainder: Int): DataFrame = {
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    require(remainder >= 0 && remainder < divisor,
      s"remainder must be in [0, divisor), got $remainder")
    import graft.functions.HashKernels
    val mult = 31L
    val mod = 1000000007L
    val ts = col("__ts")
    val n = org.apache.spark.sql.functions.size(ts)
    // cut scan is ONE codegen'd kernel call per row (HashKernels.cdcCuts)
    // — the equivalent filter-HOF form runs interpreted per element and
    // benched 34x slower at sf0.1
    val base = df.select(id.as("id"), TextExprs.tokens(text).as("__ts"))
      .filter(n > 0)
      .withColumn("__cuts",
        HashKernels.cdcCuts(ts, mult, mod, divisor, remainder))
    val starts = concat(array(lit(0)),
      transform(col("__cuts"), c => c + 1))
    val ends = concat(col("__cuts"), array(n - 1))
    val st = col("__starts")
    val en = col("__ends")
    base.select(col("id"), ts, starts.as("__starts"), ends.as("__ends"))
      .select(col("id"), ts, st, en,
        explode(sequence(lit(0),
          org.apache.spark.sql.functions.size(st) - 1)).as("chunk_idx"))
      // only the trailing span can be empty (last token was a cut)
      .filter(element_at(st, col("chunk_idx") + 1) <=
        element_at(en, col("chunk_idx") + 1))
      .select(col("id"), col("chunk_idx"),
        slice(ts, element_at(st, col("chunk_idx") + 1) + 1,
          element_at(en, col("chunk_idx") + 1) -
            element_at(st, col("chunk_idx") + 1) + 1).as("__w"))
      .select(col("id"), col("chunk_idx"),
        org.apache.spark.sql.functions.size(col("__w")).as("n_tokens"),
        concat_ws(" ", col("__w")).as("chunk_text"))
      .withColumn("chunk_hash",
        HashKernels.polyHash(col("chunk_text"), mult, mod))
  }
}
