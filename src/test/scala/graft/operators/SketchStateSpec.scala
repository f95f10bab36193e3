package graft.operators

import graft.SparkSpec

/** Crash-safety of the incremental-sketch state swap: every crash point
  * of the write protocol leaves either the prior or the new state fully
  * readable — never an empty/missing directory. */
class SketchStateSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(): String =
    CacheHygiene.tempDir("sketchstate") + "/state"

  test("write then read round-trips, and a rewrite replaces the state") {
    val p = freshPath()
    SketchState.write(Seq(1L, 2L).toDF("h"), p)
    assert(SketchState.exists(spark, p))
    assert(SketchState.read(spark, p).as[Long].collect().sorted.toSeq
      === Seq(1L, 2L))
    SketchState.write(Seq(7L).toDF("h"), p)
    assert(SketchState.read(spark, p).as[Long].collect().toSeq === Seq(7L))
  }

  test("crash during the swap write leaves the prior state untouched") {
    val p = freshPath()
    SketchState.write(Seq(1L).toDF("h"), p)
    // simulate a writer that died mid-write: an INCOMPLETE swap dir
    // (no _SUCCESS marker) next to the live state
    val swap = new java.io.File(p + ".__swap")
    swap.mkdirs()
    java.nio.file.Files.write(swap.toPath.resolve("part-garbage"),
      Array[Byte](1, 2, 3))
    assert(SketchState.exists(spark, p))
    assert(SketchState.read(spark, p).as[Long].collect().toSeq === Seq(1L))
    // and the next write clobbers the dead swap instead of tripping on it
    SketchState.write(Seq(2L).toDF("h"), p)
    assert(SketchState.read(spark, p).as[Long].collect().toSeq === Seq(2L))
  }

  test("crash between delete and rename is recovered from the complete swap") {
    val p = freshPath()
    // simulate the post-delete pre-rename window: live path missing, swap
    // dir COMPLETE (parquet commit wrote _SUCCESS)
    Seq(42L).toDF("h").coalesce(1)
      .write.mode("overwrite").parquet(p + ".__swap")
    assert(new java.io.File(p + ".__swap", "_SUCCESS").exists(),
      "test setup: parquet commit must leave a _SUCCESS marker")
    assert(SketchState.exists(spark, p), "complete swap must be adopted")
    assert(SketchState.read(spark, p).as[Long].collect().toSeq === Seq(42L))
    assert(!new java.io.File(p + ".__swap").exists(),
      "adopted swap dir must have been renamed into place")
  }

  test("append adopts a complete swap before it appends, so an " +
    "interrupted compaction's state is never orphaned") {
    val p = freshPath()
    SketchState.append(Seq(1L, 2L).toDF("h"), p, maxFiles = 64)
    // the post-delete pre-rename window of a compaction swap
    java.nio.file.Files.move(java.nio.file.Paths.get(p),
      java.nio.file.Paths.get(p + ".__swap"))
    SketchState.append(Seq(3L).toDF("h"), p, maxFiles = 64)
    assert(SketchState.read(spark, p).as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L), "the append orphaned the accumulated state")
    assert(!new java.io.File(p + ".__swap").exists())
  }

  test("swapReplaceMany: both subtables publish under one rename; an " +
    "incomplete multi-table swap is never adopted") {
    val p = freshPath()
    SketchState.swapReplaceMany(spark,
      Seq("a" -> Seq(1L).toDF("h"), "b" -> Seq(2L, 3L).toDF("h")), p)
    assert(SketchState.exists(spark, p))
    assert(spark.read.parquet(s"$p/a").as[Long].collect().toSeq === Seq(1L))
    assert(spark.read.parquet(s"$p/b").as[Long].collect().sorted.toSeq
      === Seq(2L, 3L))
    // crash AFTER table "a" committed but before "b" finished: the swap
    // parent has a's _SUCCESS but no PARENT-level _SUCCESS — live pair
    // must survive untouched and the dead swap must not be adopted
    Seq(9L).toDF("h").write.mode("overwrite").parquet(p + ".__swap/a")
    val live = new java.io.File(p)
    def del(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(del)); f.delete(); ()
    }
    del(live)
    assert(!SketchState.exists(spark, p),
      "a swap missing the parent-level witness must not be adopted")
    // next commit clobbers the dead swap and publishes a consistent pair
    SketchState.swapReplaceMany(spark,
      Seq("a" -> Seq(4L).toDF("h"), "b" -> Seq(5L).toDF("h")), p)
    assert(spark.read.parquet(s"$p/a").as[Long].collect().toSeq === Seq(4L))
    assert(spark.read.parquet(s"$p/b").as[Long].collect().toSeq === Seq(5L))
  }

  test("tiered compaction merges only the over-full size band and leaves " +
    "consolidated chunks untouched") {
    val p = freshPath()
    // one big consolidated chunk (band of ~800 rows) ...
    Seq.range(0L, 800L).toDF("h").coalesce(1)
      .write.mode("overwrite").parquet(p)
    val bigFile = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSeq
    assert(bigFile.size === 1)
    // ... plus 8 tiny appends (a much smaller band)
    (0 until 8).foreach { i =>
      Seq(1000L + i).toDF("h").coalesce(1).write.mode("append").parquet(p)
    }
    assert(SketchState.compactIfNeeded(spark, p, maxFiles = 4),
      "9 files over maxFiles=4 must compact")
    val after = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSeq
    assert(after.contains(bigFile.head),
      "the consolidated chunk must survive BY NAME (never rewritten)")
    assert(after.size <= 3,
      s"tiny band must have merged to ~1 file, got ${after.size}")
    assert(SketchState.read(spark, p).count() === 808L,
      "merge must preserve every row exactly once")
  }

  test("tiered compaction on a hive-partitioned layout merges per " +
    "partition dir and keeps partition values") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val p = freshPath()
    def append(lo: Long, n: Long): Unit =
      Seq.range(lo, lo + n).toDF("h")
        .withColumn("b", pmod(col("h"), lit(4L)).cast("int"))
        .repartition(col("b"))
        .write.mode("append").partitionBy("b").parquet(p)
    (0 until 6).foreach(i => append(i * 100L, 100L)) // 6 files per b dir
    assert(SketchState.compactIfNeeded(spark, p, maxFiles = 8,
      partitionCols = Seq("b")))
    val perDir = (0 until 4).map { b =>
      Option(new java.io.File(s"$p/b=$b").listFiles()).toSeq.flatten
        .count(_.getName.startsWith("part-"))
    }
    assert(perDir.forall(_ <= 2), s"per-dir counts after merge: $perDir")
    val rows = spark.read.parquet(p)
    assert(rows.count() === 600L)
    assert(rows.selectExpr("sum(case when pmod(h,4) = b then 0 else 1 end)")
      .head().getLong(0) === 0L, "partition values must survive the merge")
  }

  test("an interrupted tiered merge recovers through exists() with no " +
    "duplicate and no lost row, from every manifest-era crash point") {
    val p = freshPath()
    Seq.range(0L, 100000L).toDF("h").coalesce(1).write.mode("overwrite").parquet(p)
    (0 until 8).foreach { i =>
      Seq(100L + i).toDF("h").coalesce(1).write.mode("append").parquet(p)
    }
    // run the merge for real, then REWIND it into the crash window:
    // stage a manifest-equivalent state by hand — staged file present,
    // originals present, manifest present (= crash right after commit)
    val live = new java.io.File(p)
    val origSmall = live.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.length() < 10000)
      .map(_.getName).sorted.toSeq
    val stage = new java.io.File(p + ".__mstage")
    stage.mkdirs()
    // staged merged file = the 8 tiny rows re-written as one parquet
    Seq.range(100L, 108L).toDF("h").coalesce(1)
      .write.mode("overwrite").parquet(stage.getAbsolutePath + "/tmp")
    val stagedSrc = new java.io.File(stage, "tmp").listFiles()
      .filter(_.getName.startsWith("part-")).head
    val stagedName = "part-merged-test.snappy.parquet"
    assert(stagedSrc.renameTo(new java.io.File(stage, stagedName)))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(stage, "tmp"))
    val manifest = (s"S\t$stagedName" +: origSmall.map("R\t" + _))
      .mkString("\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(p + ".__mlog"), manifest.getBytes("UTF-8"))
    // crash point A: nothing executed yet → exists() completes all of it
    assert(SketchState.exists(spark, p))
    assert(!new java.io.File(p + ".__mlog").exists(), "manifest must clear")
    assert(!stage.exists(), "staging dir must clear")
    assert(SketchState.read(spark, p).count() === 100008L,
      "recovered state must have every row exactly once")
    // crash point B: staged file already renamed in, retirements pending
    (0 until 8).foreach { i =>
      Seq(200L + i).toDF("h").coalesce(1).write.mode("append").parquet(p)
    }
    val small2 = live.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.length() < 10000 &&
        !f.getName.contains("merged-test")) // crash-A's chunk stays live
      .map(_.getName).sorted.toSeq
    Seq.range(200L, 208L).toDF("h").coalesce(1)
      .write.mode("overwrite").parquet(stage.getAbsolutePath + "/tmp")
    val src2 = new java.io.File(stage, "tmp").listFiles()
      .filter(_.getName.startsWith("part-")).head
    val staged2 = "part-merged-test2.snappy.parquet"
    // "already renamed in": the staged file sits in the LIVE dir and is
    // gone from staging — the manifest still lists it as S
    assert(src2.renameTo(new java.io.File(live, staged2)))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(stage, "tmp"))
    java.nio.file.Files.write(java.nio.file.Paths.get(p + ".__mlog"),
      ((s"S\t$staged2" +: small2.map("R\t" + _)).mkString("\n"))
        .getBytes("UTF-8"))
    assert(SketchState.exists(spark, p))
    assert(SketchState.read(spark, p).count() === 100016L,
      "crash-after-publish recovery must retire originals exactly once")
  }

  test("a crash before the manifest rename is a clean no-commit: an " +
    "orphan .__mlog.tmp never publishes or retires anything") {
    val p = freshPath()
    Seq.range(0L, 100L).toDF("h").coalesce(1).write.mode("overwrite").parquet(p)
    val before = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSet
    // simulate the crash window: staged file + a (possibly truncated)
    // manifest TMP — the commit rename never happened
    val stage = new java.io.File(p + ".__mstage")
    stage.mkdirs()
    Seq(999L).toDF("h").coalesce(1)
      .write.mode("overwrite").parquet(stage.getAbsolutePath + "/tmp")
    java.nio.file.Files.write(java.nio.file.Paths.get(p + ".__mlog.tmp"),
      "S\tpart-truncat".getBytes("UTF-8")) // torn write, R lines lost
    assert(SketchState.exists(spark, p))
    assert(SketchState.read(spark, p).count() === 100L,
      "no-commit: row set unchanged")
    val after = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSet
    assert(after === before, "no staged file may publish without a manifest")
  }

  test("a whole-dir swapReplace drops a pending merge plan so it can " +
    "never replay stale rows into the new state") {
    val p = freshPath()
    Seq.range(0L, 100L).toDF("h").coalesce(1).write.mode("overwrite").parquet(p)
    // plant a pending merge plan: staged file + committed manifest that
    // publishes it (as if a merge crashed right after its commit point)
    val stage = new java.io.File(p + ".__mstage")
    stage.mkdirs()
    Seq(777L).toDF("h").coalesce(1)
      .write.mode("overwrite").parquet(stage.getAbsolutePath + "/tmp")
    val src = new java.io.File(stage, "tmp").listFiles()
      .filter(_.getName.startsWith("part-")).head
    val stagedName = "part-stale-merge.snappy.parquet"
    assert(src.renameTo(new java.io.File(stage, stagedName)))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(stage, "tmp"))
    java.nio.file.Files.write(java.nio.file.Paths.get(p + ".__mlog"),
      s"S\t$stagedName".getBytes("UTF-8"))
    // a writer that (against convention) skips exists() and replaces the
    // dir wholesale — the swap itself must retire the stale plan
    SketchState.swapReplace(Seq(1L, 2L).toDF("h").coalesce(1), p)
    assert(!new java.io.File(p + ".__mlog").exists(),
      "pending manifest must die with the dir it described")
    assert(!stage.exists(), "staging dir must die with it")
    assert(SketchState.read(spark, p).as[Long].collect().sorted.toSeq
      === Seq(1L, 2L), "stale staged rows must never reach the new state")
  }

  test("tiered compaction's amortization law holds under unit-scale deep " +
    "aging: file count stays structurally bounded and cumulative rewrite " +
    "bytes stay O(log) of the appended volume") {
    // 60 appended chunks with per-poll compaction — enough for band-k
    // merges to CASCADE (merged outputs graduate bands and re-merge),
    // the regime the 1000-poll ops32 probe ages at fixture scale. Here
    // the two laws are asserted, not eyeballed:
    //  (1) live part-file count never exceeds occupied-bands × bandMax
    //      plus the in-flight appends (the structural bound);
    //  (2) every byte is rewritten O(log₄(total/append)) times, so the
    //      sum of retired-file bytes across all merges stays a small
    //      multiple of the bytes ever appended — NOT O(polls × state)
    //      like the whole-dir rewrite it replaced.
    val p = freshPath()
    def liveSizes(): Map[String, Long] =
      Option(new java.io.File(p).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("part-"))
        .map(f => f.getName -> f.length()).toMap
    var cumRetired = 0L
    var maxFiles = 0
    val polls = 60
    (0 until polls).foreach { i =>
      Seq.range(i * 1000L, i * 1000L + 1000L).toDF("h").coalesce(1)
        .write.mode("append").parquet(p)
      val before = liveSizes()
      SketchState.compactIfNeeded(spark, p, maxFiles = 4)
      val after = liveSizes()
      // bytes rewritten this poll = retired originals' bytes
      cumRetired += before.collect {
        case (name, len) if !after.contains(name) => len }.sum
      maxFiles = math.max(maxFiles, after.size)
    }
    // the appended volume is bounded below by the final live bytes
    // (merges only shrink parquet overhead, never grow data), so the
    // amplification law is asserted against liveBytes
    val finalSizes = liveSizes()
    val liveBytes = finalSizes.valuesIterator.sum
    assert(SketchState.read(spark, p).count() === polls * 1000L,
      "no merge may lose or duplicate a row")
    // (1) structural file bound: occupied bands × bandMax + bandMax
    // in-flight appends; 60 unmerged appends would be 60 files
    assert(maxFiles <= 24,
      s"file count must stay near bands×bandMax, saw max $maxFiles")
    assert(finalSizes.size <= 16, s"steady state: ${finalSizes.size} files")
    // (2) amortization: log₄(60 chunks) ≈ 3 graduations/byte in the
    // ideal model; at unit scale parquet re-encode shrinkage makes a
    // merged output sometimes land back in its inputs' band (measured:
    // ~7.3× here), so the bound is 10×. The whole-dir rewrite this
    // replaced retires ≈ every poll's FULL state — measured ≈ 28× live
    // bytes on this exact fixture — so 10× still separates the two
    // regimes by ~3× and any O(polls × state) regression trips it.
    assert(cumRetired <= 10L * math.max(1L, liveBytes) + (polls * 2000L),
      s"rewrite amplification blew the O(log) law: retired $cumRetired " +
        s"bytes over $polls polls against $liveBytes live bytes")
    // deep consolidation actually happened: the biggest live chunk holds
    // a large multiple of one append's bytes (band graduated ≥ 2 levels)
    val appendBytesFloor = 2000L // 1000 longs encode well above 2 KB
    assert(finalSizes.valuesIterator.max >= 4L * appendBytesFloor,
      s"no band graduation witnessed: ${finalSizes.values.toSeq.sorted}")
  }

  test("kmv ingest state survives a simulated interrupted swap mid-stream") {
    val p = freshPath()
    Sketch.kmvIngestBatch(Seq("a", "b", "c").toDF("s"),
      org.apache.spark.sql.functions.col("s"), k = 8, statePath = p)
    // interrupted second ingest: its COMPLETE swap sits there, live deleted
    val live = new java.io.File(p)
    val merged = SketchState.read(spark, p)
    merged.coalesce(1).write.mode("overwrite").parquet(p + ".__swap")
    def del(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(del)); f.delete(); ()
    }
    del(live)
    // the third ingest recovers the state and keeps accumulating
    Sketch.kmvIngestBatch(Seq("d").toDF("s"),
      org.apache.spark.sql.functions.col("s"), k = 8, statePath = p)
    val est = Sketch.kmvFromState(spark, p, k = 8).collect()(0)
    assert(est.getLong(est.fieldIndex("n_in_sketch")) === 4L,
      "all 4 distinct keys must be present after recovery")
  }
}
