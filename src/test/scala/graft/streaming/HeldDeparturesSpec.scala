package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.omm.{CancellationPipeline => P, OmmFixtures => F}
import graft.operators.CacheHygiene
import graft.sources.ParquetContract

/** The departure dimension `pollOnce` holds across polls: kept while the
  * timetable files are the same, rebuilt when they change or the copy is
  * dropped, never held for a relation without file versions. Every case
  * compares the poll's sink rows with a cold `CancellationPipeline.run`
  * over the same tables. */
class HeldDeparturesSpec extends SparkSpec {

  // 2024-05-15 12:00 Helsinki: trips 601, 602, 603, 604, 613
  private val now = Instant.parse("2024-05-15T09:00:00Z")

  private def copyTree(from: Path, to: Path, link: Boolean): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else if (link) Files.createLink(q, p)
      else Files.copy(p, q)
    }

  /** A private copy of the fixture tables. */
  private def fixtureCopy(name: String): String = {
    F.ensure(spark)
    val dir = s"${CacheHygiene.tempDir(name)}/tables"
    copyTree(Paths.get(F.dir), Paths.get(dir), link = false)
    dir
  }

  /** Replace one table's files in place, outside Spark (as an external
    * loader would): `f` maps the fixture table to the new version. */
  private def rewrite(dir: String, table: String)(f: DataFrame => DataFrame): Unit = {
    val staged = s"${CacheHygiene.tempDir("heldstage")}/$table"
    f(spark.read.parquet(s"${F.dir}/$table.parquet")).coalesce(1)
      .write.parquet(staged)
    val target = Paths.get(s"$dir/$table.parquet")
    Files.list(target).iterator().asScala.toSeq.foreach(Files.delete)
    copyTree(Paths.get(staged), target, link = false)
  }

  /** DVJ `id` marked replaced (F6 drops it). */
  private def replaced(id: Long)(dvj: DataFrame): DataFrame =
    dvj.withColumn("IsReplacedById",
      when(col("Id") === id, lit(999L)).otherwise(col("IsReplacedById")))

  /** One poll into its own sink dir (the state dir is shared), returning
    * the sink rows. */
  private def poll(state: String, dir: String,
      loader: Option[SparkSession => P.OmmTables] = None): Seq[String] = {
    val sink = s"${CacheHygiene.tempDir("heldsink")}/sink"
    CancellationStream.pollOnce(spark, dir, sink, state, P.FromNow, now,
      F.lookbackSeconds, F.zone, loader)
    rows(spark.read.parquet(sink))
  }

  private def rows(sink: DataFrame): Seq[String] =
    sink.select(col("key"), col("event_time_ms"), col("payload"),
      hex(col("value"))).collect().map(_.toString).sorted.toSeq

  private def cold(deduped: DataFrame): Seq[String] = rows(P.envelope(deduped))

  private def coldRun(dir: String): Seq[String] = {
    val (nowS, today) = CancellationStream.localNowStrings(now, F.zone)
    cold(P.run(spark, dir, P.FromNow, nowS, today, F.lookbackSeconds, F.zone))
  }

  private def trips(sinkRows: Seq[String]): Set[String] =
    sinkRows.map(_.drop(1).takeWhile(_ != ',')).toSet

  private def scanned(execs: Seq[(String, Seq[String])]): Set[String] =
    execs.flatMap(_._2).toSet.intersect(ScansRun.timetable)

  test("a timetable table rewritten in place shows in the next poll") {
    val dir = fixtureCopy("heldrewrite")
    val state = s"${CacheHygiene.tempDir("heldrewrite")}/state"
    val first = poll(state, dir)
    assert(first === coldRun(dir))
    assert(trips(first) === Set("601", "602", "603", "604", "613"))
    rewrite(dir, "DatedVehicleJourney")(replaced(602L))
    // the cold run comes first: the held copy must not serve a fresh read
    // of the same paths once their files changed
    val expected = coldRun(dir)
    assert(trips(expected) === Set("601", "603", "604", "613"))
    assert(poll(state, dir) === expected)
  }

  test("a directory of hard links to the same files reuses the held copy") {
    val dir = fixtureCopy("heldlinks")
    val links = s"${CacheHygiene.tempDir("heldlinks")}/tables"
    copyTree(Paths.get(dir), Paths.get(links), link = true)
    val state = s"${CacheHygiene.tempDir("heldlinks")}/state"
    assert(poll(state, dir) === coldRun(dir))
    var out: Seq[String] = Nil
    val execs = ScansRun(spark) { out = poll(state, links) }
    assert(scanned(execs).isEmpty, s"the timetable was scanned: $execs")
    assert(out === coldRun(links))
  }

  test("an in-memory or a filtered timetable relation is never held: " +
    "the output follows its rows") {
    F.ensure(spark)
    val state = s"${CacheHygiene.tempDir("heldmem")}/state"
    var marked = Option.empty[Long]
    def inMemory(s: SparkSession): P.OmmTables = {
      val t = P.loadTables(s, F.dir)
      val dvj = marked.fold(t.dvj)(id => replaced(id)(t.dvj))
      t.copy(dvj = s.createDataFrame(dvj.collect().toSeq.asJava, dvj.schema))
    }
    def filtered(s: SparkSession): P.OmmTables = {
      val t = P.loadTables(s, F.dir)
      t.copy(dvj = t.dvj.filter(col("Id") =!= marked.getOrElse(-1L)))
    }
    def expected(t: P.OmmTables): Seq[String] = {
      val (nowS, today) = CancellationStream.localNowStrings(now, F.zone)
      cold(P.dedup(P.parse(P.snapshot(t, P.FromNow, nowS, today,
        P.lookbackBound(nowS, F.zone, F.lookbackSeconds)), F.zone)))
    }
    assert(ParquetContract.version(inMemory(spark).dvj).isEmpty)
    for ((name, loader) <- Seq("in-memory" -> inMemory _,
        "filtered" -> filtered _)) {
      marked = None
      val before = poll(state, F.dir, Some(loader))
      assert(before === expected(loader(spark)), name)
      assert(trips(before).contains("602"), name)
      marked = Some(602L)
      val after = poll(state, F.dir, Some(loader))
      assert(after === expected(loader(spark)), name)
      assert(!trips(after).contains("602"), s"$name: the change did not show")
    }
    assert(ParquetContract.version(filtered(spark).dvj).isEmpty)
  }

  test("clearCache between polls rebuilds the held copy, not a read-through") {
    val dir = fixtureCopy("heldclear")
    val state = s"${CacheHygiene.tempDir("heldclear")}/state"
    poll(state, dir)
    spark.catalog.clearCache()
    var out: Seq[String] = Nil
    val rebuild = ScansRun(spark) { out = poll(state, dir) }
    assert(out === coldRun(dir))
    assert(scanned(rebuild) === ScansRun.timetable,
      s"the poll after clearCache did not build the dimension: $rebuild")
    val held = ScansRun(spark) { out = poll(state, dir) }
    assert(scanned(held).isEmpty, s"the copy was not held again: $held")
    assert(out === coldRun(dir))
  }

  test("five timetable changes leave exactly one held dimension persisted") {
    val dir = fixtureCopy("heldfive")
    val state = s"${CacheHygiene.tempDir("heldfive")}/state"
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val baseline = sc.getPersistentRDDs.size
    for (id <- Seq(601L, 602L, 603L, 604L, 613L)) {
      rewrite(dir, "DatedVehicleJourney")(replaced(id))
      val out = poll(state, dir)
      assert(out === coldRun(dir))
      assert(!trips(out).contains(id.toString), s"trip $id still sent")
    }
    assert(sc.getPersistentRDDs.size === baseline + 1,
      s"persisted RDDs: ${sc.getPersistentRDDs.size}, baseline $baseline")
  }

  test("a warm poll with prior state runs at most 13 Spark jobs") {
    F.ensure(spark)
    val state = s"${CacheHygiene.tempDir("heldjobs")}/state"
    def pollOnce() = CancellationStream.pollOnce(spark, F.dir,
      s"${CacheHygiene.tempDir("heldjobs")}/sink", state, P.FromNow, now,
      F.lookbackSeconds, F.zone)
    pollOnce()
    pollOnce()
    val sc = spark.sparkContext
    val tag = "held-departures-warm-poll"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    @volatile var sentinel = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
        if (tags.contains(s"$tag-sentinel")) sentinel = true
        else if (tags.contains(tag)) jobs.add(e.jobId)
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      try pollOnce() finally sc.removeJobTag(tag)
      // the listener bus delivers in order: the sentinel's start follows
      // every job of the poll
      sc.addJobTag(s"$tag-sentinel")
      try spark.range(1).count() finally sc.removeJobTag(s"$tag-sentinel")
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!sentinel && System.nanoTime() < deadline) Thread.sleep(50)
      assert(sentinel, "the sentinel job never reached the listener")
    } finally sc.removeSparkListener(listener)
    assert(jobs.size <= 13, s"a warm poll ran ${jobs.size} jobs")
  }
}
