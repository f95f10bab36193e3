package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Quantize, SketchState}

/** Incremental IVF-PQ index maintenance over micro-batches — the
  * streaming counterpart of [[graft.operators.Quantize.ivfPqResidualTopK]]
  * in the same foreachBatch-plus-on-disk-state architecture as
  * [[SegDedupStream]] / [[NearDupStream]].
  *
  * Each batch of new vectors is residual-PQ-encoded MAP-SIDE (codebooks
  * are fixed at index-build time, the standard IVF contract — re-training
  * is a rebuild, not an increment) and appended as ONE flat file-set to a
  * hidden LSM delta segment (`codes/_delta`, r19). The r18 layout wrote
  * every batch `partitionBy(list_id)` straight into the serving layout:
  * that costs a shuffle plus one file and one commit per TOUCHED LIST per
  * batch — O(partitions) small files and commit work per poll, the
  * classic small-file wall (guide §6) once batches touch 10⁵ lists. The
  * delta append is shuffle-free and O(batch bytes) in files; the
  * excess-triggered [[SketchState.foldDelta]] then clusters accumulated
  * delta rows into the `partitionBy(list_id)` serving layout in one
  * O(delta) job (crash-safe file-level renames through the tiered-merge
  * manifest), and [[SketchState.compactIfNeeded]] keeps the folded
  * layout's per-partition file bands merged, exactly as before. The
  * serving property is unchanged where it matters: the folded BULK of the
  * index is DPP-pruned to the probed lists at query time; only the
  * bounded un-folded tail (≤ foldAfter delta files) is scanned whole.
  *
  * BATCH EQUIVALENCE: encoding is a pure per-row function of the vector
  * and the fixed codebooks, so for ANY split of a corpus into batches the
  * accumulated index (folded ∪ delta) holds exactly the batch operator's
  * codes, and [[topK]] returns exactly what `ivfPqResidualTopK` returns
  * over the whole corpus (spec-pinned; q97's oracle is q95's SQL
  * verbatim). No ordering requirement at all — unlike dedup streams,
  * there is no cross-row decision to order. */
object IvfPqStream {

  case class BatchResult(added: Long, stateFiles: Int)

  private def codesPath(stateDir: String) = s"$stateDir/codes"
  private def deltaPath(codes: String) = s"$codes/${SketchState.deltaDir}"

  /** The un-folded delta tail's part files. The segment is read by this
    * EXPLICIT list: its dir name is `_`-prefixed (hidden from the
    * partitioned read by design), and a hidden root path is
    * DataSource-filtered — part files by name are not. */
  private def deltaFiles(spark: SparkSession, codes: String): Seq[String] = {
    val delta = new org.apache.hadoop.fs.Path(deltaPath(codes))
    val fs = delta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(delta)) Seq.empty
    else fs.listStatus(delta).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString)
  }

  /** One micro-batch of new vectors. `newVecs` must carry the id and
    * vector under the given columns; ids must be unique stream-wide
    * (re-sent ids would index duplicate rows — dedup upstream). */
  def ingestBatch(spark: SparkSession, newVecs: DataFrame, stateDir: String,
                  id: Column, vec: Column,
                  coarse: Seq[(Int, Seq[Double])],
                  resCentroids: Seq[(Int, Seq[Double])], m: Int, dim: Int,
                  compactAfterFiles: Int = 64): BatchResult = {
    val path = codesPath(stateDir)
    SketchState.exists(spark, path) // adopt an interrupted fold/compaction
    // emptiness gate (stops at row 1, before any encode work): an empty
    // batch must not append an empty file-set into the state — but
    // pending maintenance still runs (compaction-on-idle, r19: the r18
    // early return skipped it)
    if (newVecs.isEmpty) {
      maintain(spark, path, compactAfterFiles)
      return BatchResult(0, countFiles(spark, path))
    }
    val listC = Quantize.ivfListCol(vec, coarse)
    // `added` rides the append as an observed metric — the write is the
    // encode's only consumer, so a materializing count() would pay a
    // whole extra plan/job per poll for a number the write's tasks see.
    val obs = new org.apache.spark.sql.Observation()
    val codes = Quantize.pqEncode(newVecs, id,
        Quantize.ivfResidualCol(vec, coarse),
        resCentroids, m, dim, keep = Seq(listC.as("list_id")))
      .drop("distortion")
      .observe(obs, count(lit(1)).as("n"))
    // flat delta append: no shuffle, no per-list files — list_id rides as
    // a regular column until the fold clusters it into the serving layout.
    // Raw, not SketchState.append: the hidden `_delta` belongs to
    // foldDelta (maintain, below), which the gate above already replayed
    codes.write.mode("append").parquet(deltaPath(path))
    val added = obs.get.get("n").flatMap(Option(_))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    maintain(spark, path, compactAfterFiles)
    BatchResult(added, countFiles(spark, path))
  }

  /** Excess-triggered maintenance, in the only safe order: fold the delta
    * into the partitioned layout FIRST (empties `_delta`), band-compact
    * the partitioned layout after. The folded layout only grows at folds,
    * so compaction need not be re-checked on fold-less polls — and the
    * whole-dir compaction fallback can then never observe (and drop) an
    * un-folded delta. */
  private def maintain(spark: SparkSession, path: String,
                       compactAfterFiles: Int): Unit = {
    val foldAfter = math.max(4, compactAfterFiles / 4)
    if (SketchState.foldDelta(spark, path, Seq("list_id"), foldAfter)) {
      SketchState.compactIfNeeded(spark, path, compactAfterFiles,
        Seq("list_id"))
      ()
    }
  }

  /** The accumulated index codes — folded partitioned bulk ∪ un-folded
    * delta tail — exactly the batch operator's `pqEncode` rows under any
    * arrival split. Recovers an interrupted fold/compaction swap first:
    * a crashed maintenance step must never serve duplicated (mid-fold)
    * or stale (unadopted swap) rows. */
  def indexCodes(spark: SparkSession, stateDir: String): DataFrame = {
    val path = codesPath(stateDir)
    SketchState.exists(spark, path)
    val main = SketchState.listPartFiles(spark, path) // delta is hidden
    val tail = deltaFiles(spark, path)
    (main.nonEmpty, tail.nonEmpty) match {
      case (true, true) =>
        // unionByName: the partitioned read appends list_id last, the
        // delta read carries it where pqEncode put it
        spark.read.parquet(path)
          .unionByName(spark.read.parquet(tail: _*))
      case (true, false) => spark.read.parquet(path)
      case (false, true) => spark.read.parquet(tail: _*)
      case (false, false) =>
        spark.read.parquet(path) // throws the standard missing-state error
    }
  }

  /** Serve top-k from the accumulated index — exactly the batch
    * operator over the index's rows; the folded bulk is read through the
    * list_id partition layout (DPP prunes to the probed lists), the
    * bounded delta tail rides along un-pruned. */
  def topK(spark: SparkSession, stateDir: String, queries: DataFrame,
           id: String, vec: String, coarse: Seq[(Int, Seq[Double])],
           resCentroids: Seq[(Int, Seq[Double])], m: Int, dim: Int,
           nProbe: Int, k: Int): DataFrame =
    Quantize.ivfPqResidualTopK(indexCodes(spark, stateDir),
      queries, id, vec, coarse, resCentroids, m, dim, nProbe, k)

  private def countFiles(spark: SparkSession, path: String): Int =
    SketchState.listPartFiles(spark, path).size + // skips _delta
      deltaFiles(spark, path).size
}
