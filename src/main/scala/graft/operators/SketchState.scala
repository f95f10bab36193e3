package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe persistence for the tiny driver-merged sketch state
  * directories (KMV / quantile / count-min / Misra–Gries incremental
  * ingest). The state is metadata-sized (≤ k, depth×width, or counters+1
  * rows), but a `mode("overwrite")` write straight onto the live path is
  * delete-then-write: a crash between the two loses the ENTIRE accumulated
  * sketch, i.e. every batch ingested so far.
  *
  * Protocol (single writer assumed — these are driver-side ingest steps of
  * one streaming job; concurrent ingests to one path are out of contract
  * and would race whichever storage layer they run on):
  *  1. write the new state to `<path>.__swap` (overwrite — a dead previous
  *     swap is clobbered);
  *  2. delete the live path;
  *  3. rename the swap dir onto the live path.
  * A crash in (1) leaves the live state untouched; a crash between (2)
  * and (3) leaves a COMPLETE swap dir (parquet's `_SUCCESS` marker is the
  * completeness witness) that [[exists]]/[[readOpt]] adopt on the next
  * call, so the accumulated state survives every crash point. A complete
  * swap alongside a live dir (crash inside (2), or before it) is NOT
  * adopted: the writer never reported success for that batch, so
  * at-most-once is the correct recovery.
  *
  * No other module knows this protocol: ingests open prior state through
  * [[readOpt]] (one recovery gate, then the read), rewrite-fold streams
  * commit through [[fold]] (state ∪ increment → merge → swap), append
  * stores through [[append]] (gate → append → [[compactIfNeeded]]), and
  * every other commit is a [[swapReplace]]/[[swapReplaceMany]]. Four
  * stores append raw, each for a reason named at its site: a sink that
  * stands in for a topic, an LSM delta owned by [[foldDelta]], a log with
  * its own rewrite, and a partitioned index that must relayout before it
  * compacts. Layout parameters live in the layout itself (a hive
  * partition level such as ContamStream's `nb=`), so every swap carries
  * them with the data in its one rename.
  */
object SketchState {

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def swapPath(statePath: String) = new Path(statePath + ".__swap")

  /** The hidden delta segment (`<path>/_delta`) an LSM-style store
    * appends to between [[foldDelta]]s. */
  private[graft] val deltaDir = "_delta"

  private def mergeLogPath(statePath: String) = new Path(statePath + ".__mlog")
  private def mergeStagePath(statePath: String) = new Path(statePath + ".__mstage")

  /** True when state exists, first completing an interrupted swap (live
    * missing + complete swap present → rename swap into place) and any
    * interrupted tiered merge (manifest present → finish the file-level
    * renames + retirements idempotently — see [[compactIfNeeded]]). */
  def exists(spark: SparkSession, statePath: String): Boolean = {
    val live = new Path(statePath)
    val fs = fsOf(spark, live)
    if (!fs.exists(live)) {
      val swap = swapPath(statePath)
      // a failed adoption rename must THROW (as write() does): swallowing
      // it makes the accumulated state look absent, so the caller restarts
      // from empty and the next write() clobbers the only surviving copy
      if (fs.exists(new Path(swap, "_SUCCESS")) && !fs.rename(swap, live))
        throw new java.io.IOException(
          s"SketchState: swap adoption rename $swap -> $live failed")
      // a merge manifest without a live dir is stale residue (a later
      // full swap replaced the dir wholesale); drop it so it can never
      // retire files of the adopted state
      dropPendingMerge(fs, statePath)
    } else completeMerge(fs, statePath)
    fs.exists(live)
  }

  /** Discard a pending tiered-merge plan (manifest, its uncommitted tmp,
    * and the staging dir). Safe whenever the live dir is about to be (or
    * was) replaced wholesale — the plan describes a layout that no longer
    * exists, so replaying it would inject retired rows into fresh state. */
  private def dropPendingMerge(fs: org.apache.hadoop.fs.FileSystem,
                               statePath: String): Unit = {
    fs.delete(new Path(mergeLogPath(statePath).toString + ".tmp"), false)
    fs.delete(mergeLogPath(statePath), false)
    fs.delete(mergeStagePath(statePath), true)
    ()
  }

  /** Finish an interrupted tiered merge: every staged file still in the
    * staging dir renames into the live layout, every retired original is
    * deleted, then manifest + staging go. Idempotent at every crash
    * point — a staged file already renamed is skipped (its staging copy
    * is gone), a retired file already deleted is skipped. Runs from
    * [[exists]], so every reader/writer that opens state through the
    * SketchState gate recovers before it can observe duplicates. */
  private def completeMerge(fs: org.apache.hadoop.fs.FileSystem,
                            statePath: String): Unit = {
    val mlog = mergeLogPath(statePath)
    if (!fs.exists(mlog)) return
    val stage = mergeStagePath(statePath)
    val lines = {
      val in = fs.open(mlog)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    }
    lines.foreach { line =>
      if (line.startsWith("S\t")) {
        val rel = line.drop(2)
        val src = new Path(stage, rel)
        if (fs.exists(src)) {
          val dst = new Path(statePath, rel)
          fs.mkdirs(dst.getParent)
          if (!fs.rename(src, dst))
            throw new java.io.IOException(
              s"SketchState: merge publish rename $src -> $dst failed")
        }
      }
    }
    lines.foreach { line =>
      if (line.startsWith("R\t"))
        fs.delete(new Path(statePath, line.drop(2)), false)
    }
    fs.delete(mlog, false)
    fs.delete(stage, true)
  }

  /** The live state, or None when no state was ever written: ONE
    * [[exists]] (which recovers an interrupted swap or merge first), then
    * the read. The gate every ingest opens its prior state through. */
  def readOpt(spark: SparkSession, statePath: String): Option[DataFrame] =
    if (exists(spark, statePath)) Some(spark.read.parquet(statePath))
    else None

  /** The live state as a DataFrame (recovers an interrupted swap first).
    * Throws like `spark.read.parquet` when no state was ever written. */
  def read(spark: SparkSession, statePath: String): DataFrame =
    readOpt(spark, statePath).getOrElse(spark.read.parquet(statePath))

  /** [[readOpt]] for a [[swapReplaceMany]] state: the gate runs once on
    * the PARENT path (subtables have no swap of their own), and the
    * returned reader opens one subtable by name. */
  def readManyOpt(spark: SparkSession,
                  statePath: String): Option[String => DataFrame] =
    if (exists(spark, statePath))
      Some(name => spark.read.parquet(new Path(statePath, name).toString))
    else None

  /** One subtable of a [[swapReplaceMany]] state (recovers the parent
    * first). Throws like `spark.read.parquet` when no state was ever
    * written. */
  def readPart(spark: SparkSession, statePath: String,
               name: String): DataFrame = {
    exists(spark, statePath)
    spark.read.parquet(new Path(statePath, name).toString)
  }

  /** The one rewrite fold of a mergeable state: with no state yet the
    * increment IS the state; otherwise `merge` collapses state ∪ `inc`
    * (unioned by name, state first) back to one row per key, and the
    * result replaces the state through [[swapReplace]] — crash-safe, the
    * caller's layout. `merge` must be associative over the union (sum,
    * max, min, distinct — mergeable summaries), which is what makes every
    * arrival split fold to the one-shot table. */
  def fold(inc: DataFrame, statePath: String)(
      merge: DataFrame => DataFrame): Unit =
    swapReplace(readOpt(inc.sparkSession, statePath)
      .fold(inc)(st => merge(st.unionByName(inc))), statePath)

  /** Replace the state with `df` (state is metadata-sized, so the
    * single-partition layout IS the right one). */
  def write(df: DataFrame, statePath: String): Unit =
    swapReplace(df.coalesce(1), statePath)

  /** The raw write-swap-delete-rename protocol with the CALLER's layout
    * (hive-partitioned by `partitionCols` when given) — the crash-safe
    * replace for state that is NOT metadata-sized (e.g.
    * NearDupStream's corpus-scale band-index/doc-store compaction, which
    * repartitions by bytes). `df` may read from `statePath` itself: the
    * swap write materializes the full copy before the live dir is
    * touched. Same single-writer contract as [[write]]. */
  def swapReplace(df: DataFrame, statePath: String,
                  partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    // the parquet job writes swap/_SUCCESS, the witness [[exists]] adopts
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .parquet(swapPath(statePath).toString)
    publishSwap(df.sparkSession, statePath)
  }

  /** Atomic MULTI-TABLE replace: writes each `(name, df)` as a parquet
    * subdirectory of ONE swap parent, stamps a parent-level `_SUCCESS`
    * only after every subtable write completed, then delete+rename the
    * parent in the usual protocol. For state that is a PAIR (or more) of
    * tables whose consistency is joint — e.g. a rollup plus the per-key
    * state that produced it — where two independent [[swapReplace]]s
    * could crash between commits and leave the pair split (one table
    * including a batch the other lacks).
    *
    * Crash points: during subtable writes → no parent `_SUCCESS`, swap
    * never adopted, live pair untouched; between delete and rename →
    * the complete swap (witnessed by the parent `_SUCCESS` that only
    * exists once ALL subtables finished) is adopted by [[exists]] as one
    * unit. The pair is never observable half-committed.
    *
    * Read subtables through [[readManyOpt]] or [[readPart]], which gate
    * on the PARENT path (subpaths have no swap of their own). */
  def swapReplaceMany(spark: SparkSession, parts: Seq[(String, DataFrame)],
                      statePath: String): Unit = {
    require(parts.nonEmpty, "swapReplaceMany needs at least one table")
    val swap = swapPath(statePath)
    val fs = fsOf(spark, swap)
    if (fs.exists(swap)) fs.delete(swap, true) // dead previous swap
    // caller's layout per table (rollups are metadata-sized and arrive
    // pre-coalesced; keyed tables may legitimately be many partitions)
    parts.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(new Path(swap, name).toString)
    }
    fs.create(new Path(swap, "_SUCCESS"), true).close() // joint witness
    publishSwap(spark, statePath)
  }

  /** Recursive `part-*` listing of a state/sink dir as (path, length),
    * skipping HIDDEN (`_`/`.`-prefixed) subdirectories — the same
    * visibility rule Spark's own file index applies, so the listing sees
    * exactly what `spark.read.parquet(path)` would (LSM delta segments
    * like [[foldDelta]]'s `_delta` are invisible here and managed by
    * their owner). This is the listing every per-poll maintenance check
    * performs, so it is on the poll hot path: on `file:` filesystems it
    * walks via java.nio — the Hadoop local-FS listing stats each entry
    * through the checksum/shell shims at multiple ms per file (measured
    * 0.6–0.9 s per ~200-file poll on this box, pure overhead); any other
    * scheme takes the portable Hadoop listing. */
  def listPartFiles(spark: SparkSession, path: String)
      : Seq[(org.apache.hadoop.fs.Path, Long)] = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(org.apache.hadoop.fs.Path, Long)]
    if (fs.getScheme == "file") {
      val root = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.walkFileTree(root,
        new java.nio.file.SimpleFileVisitor[java.nio.file.Path] {
          override def preVisitDirectory(d: java.nio.file.Path,
              a: java.nio.file.attribute.BasicFileAttributes)
              : java.nio.file.FileVisitResult = {
            val n = d.getFileName
            if (n != null && (n.toString.startsWith("_") ||
                n.toString.startsWith(".")))
              java.nio.file.FileVisitResult.SKIP_SUBTREE
            else java.nio.file.FileVisitResult.CONTINUE
          }
          override def visitFile(f: java.nio.file.Path,
              a: java.nio.file.attribute.BasicFileAttributes)
              : java.nio.file.FileVisitResult = {
            if (f.getFileName.toString.startsWith("part-"))
              out += ((new Path(f.toUri), a.size()))
            java.nio.file.FileVisitResult.CONTINUE
          }
        })
    } else {
      def walk(dir: Path): Unit = fs.listStatus(dir).foreach { s =>
        val n = s.getPath.getName
        if (s.isDirectory) {
          if (!n.startsWith("_") && !n.startsWith(".")) walk(s.getPath)
        } else if (n.startsWith("part-")) out += ((s.getPath, s.getLen))
      }
      walk(p)
    }
    out.toSeq
  }

  /** The one gated append of an append-accumulated store or sink: the
    * [[exists]] gate first — it adopts a crash-interrupted compaction
    * swap or merge, which an append landing first would orphan by
    * recreating the live dir, silently losing the accumulated state —
    * then the append, then [[compactIfNeeded]]. An interrupted append may
    * land a partial file-set (Spark moves files at job commit), and the
    * recovery is re-running the batch; the gate only ever repairs
    * compaction crashes, which rewrite rows and never add them. */
  def append(df: DataFrame, path: String, maxFiles: Int): Unit = {
    val spark = df.sparkSession
    exists(spark, path)
    df.write.mode("append").parquet(path)
    compactIfNeeded(spark, path, maxFiles)
    ()
  }

  /** Excess-triggered compaction of an append-accumulated state or sink
    * directory — THE one implementation every streaming store uses
    * (near-dup band index/doc store, segment store, semantic-dedup
    * vectors, sinks, and the hive-partitioned IVF-PQ codes index via
    * `partitionCols`). Rewrites `path` when its part-file count exceeds
    * the EXCESS trigger max(`maxFiles`, 2 × ideal), where ideal =
    * ceil(bytes / files.maxPartitionBytes) is the file count a fresh
    * scan would want: read, repartition to ideal, [[swapReplace]] (so a
    * crash mid-compaction never loses state — a complete swap is adopted
    * by [[exists]]). Returns true when a rewrite happened (the specs'
    * witness).
    *
    * The trigger must be excess-based, not the flat ceiling alone: a
    * dataset whose ideal file count EXCEEDS `maxFiles` (any text-carrying
    * store or sink past ~`maxFiles` × maxPartitionBytes) would otherwise
    * re-trigger a full O(accumulated) rewrite on EVERY batch — compaction
    * can never get the count under a ceiling smaller than ideal. With the
    * excess form a freshly-compacted dataset sits at ideal files and must
    * roughly DOUBLE its file count before the next rewrite, so rewrites
    * space out geometrically as the dataset grows and total rewrite cost
    * over a stream's life stays O(accumulated × log batches).
    *
    * With `partitionCols` the rewrite hash-clusters on those columns
    * before the partitioned write so each partition's rows arrive at one
    * task — the rewrite emits O(max(ideal, partitions)) files, not
    * tasks × partitions — and file counting recurses into the partition
    * directories. The excess trigger then uses the PARTITION-DIR floor,
    * not just the byte-ideal: a hive-partitioned state can never hold
    * fewer files than its non-empty partition dirs, so a byte-ideal
    * below that count would re-trigger a full rewrite on every batch
    * (the same pathology the excess form exists to prevent, resurfacing
    * through the directory floor instead of the flat ceiling). */
  def compactIfNeeded(spark: SparkSession, path: String, maxFiles: Int,
                      partitionCols: Seq[String] = Nil): Boolean = {
    if (maxFiles <= 0 || !exists(spark, path)) return false
    val files = scala.collection.mutable.ArrayBuffer
      .empty[(org.apache.hadoop.fs.Path, Long)]
    files ++= listPartFiles(spark, path)
    var nParts = 0L
    var totalBytes = 0L
    val partDirs = scala.collection.mutable.HashSet.empty[String]
    files.foreach { case (f, len) =>
      nParts += 1; totalBytes += len
      partDirs += f.getParent.toString
    }
    val targetBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val byteIdeal = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
    val ideal =
      if (partitionCols.isEmpty) byteIdeal
      else math.max(byteIdeal, partDirs.size.toLong)
    if (nParts <= math.max(maxFiles.toLong, 2L * ideal)) return false
    // TIERED pass first (the r17 ops30 fix): the old whole-dir rewrite
    // made per-poll cost GROW with the accumulated state — a
    // hive-partitioned store appends O(partitions) files per poll
    // regardless of bytes, so the excess trigger fired every few polls
    // and each firing rewrote the ENTIRE index (measured: ContamStream's
    // poll wall 4.3 → 9.0 s across 220 polls, SCALE.md ops30). Instead,
    // merge only the OVER-FULL size bands: files group by
    // floor(log4(size)) per partition dir, and a (dir, band) group past
    // `bandMax` files merges into ONE output file — recent small appends
    // consolidate geometrically into ever-larger chunks while the big
    // consolidated chunks are left alone. Per-compaction work is bounded
    // by the merged groups (≈ the recent arrivals), each byte is
    // rewritten O(log₄(state/append)) times over the stream's life, and
    // the file count is structurally bounded by dirs × bands × bandMax.
    if (tieredMerge(spark, path, partitionCols, files.toSeq)) return true
    // fallback whole-dir swap: only when the count is over-trigger with
    // NO over-full band AND genuinely above twice the tiered structural
    // floor (occupied (dir, band) groups) — i.e. fragmentation the bands
    // cannot express, which a one-off full consolidation retires. The
    // floor guard keeps the tiered steady state (legitimately more files
    // than `maxFiles`) from re-triggering the full rewrite every poll —
    // the exact pathology the tiered pass exists to prevent.
    val occupied = files.iterator
      .map { case (f, len) => (f.getParent.toString, band(len)) }.toSet.size
    if (nParts <= 2L * occupied) return false
    val n = ideal.min(nParts).toInt
    val all = spark.read.parquet(path)
    swapReplace(
      if (partitionCols.isEmpty) all.repartition(n)
      else all.repartition(n,
        partitionCols.map(org.apache.spark.sql.functions.col): _*),
      path, partitionCols)
    true
  }

  /** 4×-spaced size band of a part file: files of similar magnitude
    * merge together (size-tiered compaction's grouping). */
  private def band(len: Long): Int =
    (63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, len))) / 2

  /** A (dir, band) group with more files than this merges. 4 ≈ each
    * merge roughly quadruples the chunk, matching the band spacing. */
  private val bandMax = 4

  /** Merge every over-full (partition dir, size band) group into one
    * file per group's partition dir, crash-safely WITHOUT rewriting the
    * untouched chunks (a whole-dir swap must copy every byte; this
    * publishes by file-level rename): ONE Spark job reads exactly the
    * merge-set files (basePath keeps hive partition columns) and stages
    * them — clustered one file per partition dir — for [[publishStaged]],
    * which retires the merge set. Returns false when no group is
    * over-full. */
  private def tieredMerge(spark: SparkSession, path: String,
      partitionCols: Seq[String],
      files: Seq[(org.apache.hadoop.fs.Path, Long)]): Boolean = {
    val mergeSet = files
      .groupBy { case (f, len) => (f.getParent.toString, band(len)) }
      .valuesIterator
      .filter(_.size > bandMax)
      .flatten
      .map(_._1)
      .toVector
    if (mergeSet.isEmpty) return false
    val mergeKeys = mergeSet.toSet
    val live = new Path(path)
    publishStaged(spark, path, mergeSet) { stage =>
      val df = spark.read
        .option("basePath", fsOf(spark, live).makeQualified(live).toString)
        .parquet(mergeSet.map(_.toString): _*)
      if (partitionCols.isEmpty) {
        val bytes = files.collect {
          case (f, len) if mergeKeys.contains(f) => len }.sum
        val target = spark.sessionState.conf.filesMaxPartitionBytes
        df.coalesce(math.max(1L, (bytes + target - 1) / target).toInt)
          .write.mode("overwrite").parquet(stage)
      } else
        df.repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
          .write.mode("overwrite").partitionBy(partitionCols: _*)
          .parquet(stage)
    }
    true
  }

  /** The one manifest commit both file-level publishers share
    * ([[tieredMerge]], [[foldDelta]]):
    *  1. clear an orphan staging dir (a pre-manifest crash's), then
    *     `stageWrite` runs ONE Spark job writing the new files into
    *     `.__mstage`, mirroring the live layout;
    *  2. the `.__mlog` manifest commits the plan — staged relpaths (S)
    *     and the `retired` originals (R). It IS the commit point, so its
    *     creation must be atomic: a direct create+write can crash
    *     mid-stream and leave a TRUNCATED manifest whose surviving S lines
    *     publish staged files while the lost R lines never retire the
    *     originals — [[completeMerge]] would then commit duplicate rows
    *     with no later repair possible. So the full bytes go to a temp
    *     sibling and rename; a crash before the rename is a clean
    *     no-commit (orphan staging dir, clobbered by the next publish);
    *  3. [[completeMerge]] executes it — rename staged files into the
    *     live layout, delete retired ones, drop manifest + staging — and
    *     stale listings of the path are invalidated (the renames bypass
    *     Spark's writer path, as in [[publishSwap]]).
    * After (2), a crash is repaired by [[exists]], which replays (3)
    * idempotently before any SketchState-gated read can observe the
    * directory, so no reader sees duplicates. */
  private def publishStaged(spark: SparkSession, path: String,
      retired: Seq[Path])(stageWrite: String => Unit): Unit = {
    val live = new Path(path)
    val fs = fsOf(spark, live)
    val stage = mergeStagePath(path)
    val mlog = mergeLogPath(path)
    fs.delete(stage, true) // orphan of a pre-manifest crash
    stageWrite(stage.toString)
    def rel(base: Path, f: Path): String = {
      val b = fs.makeQualified(base).toString + "/"
      val s = fs.makeQualified(f).toString
      require(s.startsWith(b), s"$f not under $base")
      s.drop(b.length)
    }
    val staged = {
      val sit = fs.listFiles(stage, true)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (sit.hasNext) {
        val s = sit.next()
        if (s.getPath.getName.startsWith("part-"))
          out += rel(stage, s.getPath)
      }
      out.toVector
    }
    val manifest = (staged.map("S\t" + _) ++
      retired.map(f => "R\t" + rel(live, f))).mkString("\n")
    val mlogTmp = new Path(mlog.toString + ".tmp")
    val out = fs.create(mlogTmp, true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(mlogTmp, mlog))
      throw new java.io.IOException(
        s"SketchState: manifest commit rename $mlogTmp -> $mlog failed")
    completeMerge(fs, path)
    spark.catalog.refreshByPath(path)
  }

  /** LSM fold of a flat hidden delta segment (`<path>/_delta`) into the
    * hive-partitioned live layout — the ingest-side complement of
    * [[compactIfNeeded]] for partitioned streaming stores whose batches
    * APPEND one flat file-set instead of writing one sliver into every
    * touched partition (per-batch small-file pressure O(batch bytes),
    * not O(partitions touched) — guide §6; see IvfPqStream).
    *
    * Crash-safe through the SAME manifest commit as the tiered merge:
    * ONE Spark job reads exactly the delta part files (the partition key
    * rides as a regular column there), clusters by `partitionCols` and
    * stages the partition-dir layout for [[publishStaged]], which retires
    * the `_delta/...` files; [[exists]] replays an interrupted fold
    * idempotently before any SketchState-gated read can observe
    * duplicates.
    * Cost is O(delta), never O(accumulated): the live partitions are not
    * read or rewritten (their band compaction remains [[compactIfNeeded]]'s
    * job, which the caller should run AFTER a fold — the live layout only
    * ever grows at folds).
    *
    * Returns false (no job) while the delta holds ≤ `maxDeltaFiles` part
    * files. Single-writer contract, like everything here. */
  def foldDelta(spark: SparkSession, path: String,
                partitionCols: Seq[String], maxDeltaFiles: Int): Boolean = {
    if (!exists(spark, path)) return false // also replays a pending fold
    val live = new Path(path)
    val fs = fsOf(spark, live)
    val delta = new Path(live, deltaDir)
    if (!fs.exists(delta)) return false
    val deltaFiles = fs.listStatus(delta).iterator
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath).toVector
    if (deltaFiles.size <= maxDeltaFiles) return false
    publishStaged(spark, path, deltaFiles) { stage =>
      spark.read.parquet(deltaFiles.map(_.toString): _*)
        .repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
        .write.mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(stage)
    }
    true
  }

  /** The publish tail every swap shares, once `<path>.__swap` holds a
    * complete replacement (its `_SUCCESS` witness written): drop any
    * pending merge, delete the live dir, rename the swap onto it, and
    * refresh Spark's caches of the path. */
  private def publishSwap(spark: SparkSession, statePath: String): Unit = {
    val live = new Path(statePath)
    val swap = swapPath(statePath)
    val fs = fsOf(spark, live)
    // a crashed tiered merge's pending manifest must die WITH the dir it
    // describes: replaying it against the freshly-swapped state would
    // rename stale staged files into the NEW layout (injecting old rows).
    // Today every writer reaches here through an exists() that already
    // replayed the manifest, but that is convention — enforce it at the
    // swap itself.
    dropPendingMerge(fs, statePath)
    if (fs.exists(live)) fs.delete(live, true)
    if (!fs.rename(swap, live))
      throw new java.io.IOException(
        s"SketchState: rename $swap -> $live failed")
    // the delete+rename bypasses Spark's writer path, so cached file
    // listings / cached plan fragments keyed on this path (or, for a
    // [[swapReplaceMany]] state, on a subtable under it) still name the
    // deleted part files — any later plan that CacheManager matches by
    // root path would resurrect them (FAILED_READ_FILE.FILE_NOT_EXIST
    // mid-poll). Invalidate both caches at the swap point.
    spark.catalog.refreshByPath(statePath)
  }
}
