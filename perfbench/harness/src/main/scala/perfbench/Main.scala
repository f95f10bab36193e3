package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneId}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.omm.{CancellationPipeline => P}
import graft.sources.Tables
import graft.streaming.{ActiveStream, CancellationStream, NgramLmStream}

/** Drives one benchmark run through the program's public functions and
  * writes every raw measurement to `--out` as one JSON object. Statistics
  * and the DuckDB output checks are done by `perfbench/run.py`.
  *
  * Usage (normally started by run.py):
  *   perfbench.Main --workload omm|stream --inputs DIR --work DIR --out FILE
  *     --seconds S --cores C --trace 0|1
  *
  * A run is one cold set-up, from JVM start through a new SparkSession
  * completing the first unit of work on fresh state, then a closed loop of
  * units continuing that session and state until every generated input is
  * used or `--seconds` of unit time have passed. With `--trace 1` every
  * second unit is traced (see [[Trace]]); the others give the untraced
  * comparison for the tracing overhead. */
object Main {

  private val zone = "Europe/Helsinki"
  private val t0Wall = "2024-05-15 12:00:00" // perfbench/gen.py T0
  private val intervalS = 30L
  private val wallFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = a("work")
    val w = a("workload") match {
      case "omm" => new OmmWorkload(a("inputs"), work)
      case "stream" => new StreamWorkload(a("inputs"), work)
      case other => sys.error(s"unknown workload $other")
    }
    val traced = a("trace") == "1"
    val cores = a.int("cores")

    // set-up: JVM start through the first unit completed cold, which also
    // opens the measured loop. The session has the service's own settings
    // (graft.omm.ServiceMain: timezone only) on local[nproc], with
    // graft.Bench's one shuffle partition per core; everything the run
    // writes stays under `work`.
    val spark = {
      val s = SparkSession.builder()
        .appName("transitdata-omm-cancellation-source-spark")
        .master(s"local[$cores]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
        .config("spark.local.dir", s"$work/spark-local")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    val units = Vector.newBuilder[Json.Obj]
    val t0 = System.nanoTime()
    val info0 = w.unit(spark, 0, "main", noTrace)
    val setupEnd = System.currentTimeMillis()
    units += info0 ++ Map("i" -> 0, "start" -> jvmStart, "end" -> setupEnd,
      "ms" -> (System.nanoTime() - t0) / 1e6, "traced" -> false, "gc_ms" -> 0)

    val trace = new Trace(w.outputRoots("main"))
    if (traced) trace.attach(spark)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
    // CPU time of the whole JVM (all threads): the work a unit costs,
    // which CPU steal on a shared machine inflates far less than wall time
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuNs(): Long = os.getProcessCpuTime
    val budgetNs = (a("seconds").toDouble * 1e9).toLong
    var spentNs = 0L
    var k = 1
    while (k < w.maxUnits && spentNs < budgetNs) {
      val tracedUnit = traced && k % 2 == 1
      val before = if (tracedUnit) Some(w.stateFiles("main")) else None
      trace.on = tracedUnit
      val gc0 = gcMs()
      val cpu0 = cpuNs()
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val info = w.unit(spark, k, "main", trace)
      val ns = System.nanoTime() - t0
      val end = System.currentTimeMillis()
      val cpu = cpuNs() - cpu0
      val gc = gcMs() - gc0
      spentNs += ns
      if (traced) org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      trace.on = false
      val files = before.map(b => Map("files" -> fileDelta(b, w.stateFiles("main"),
        w.stateRoots("main"))))
      val read = if (w.readAfter(k)) Map("read_ms" -> w.read(spark, k, "main")) else Map.empty
      units += info ++ Map("i" -> k, "start" -> start, "end" -> end,
        "ms" -> ns / 1e6, "cpu_ms" -> cpu / 1e6, "traced" -> tracedUnit,
        "gc_ms" -> gc) ++ files.getOrElse(Map.empty) ++ read
      k += 1
    }
    val done = units.result()

    trace.on = traced
    val check = w.finish(spark, done.size, "main", trace)
    if (traced) org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    trace.on = false

    val out = Map(
      "setup_s" -> (setupEnd - jvmStart) / 1000.0,
      "units" -> done,
      "state_bytes" -> w.stateRoots("main").map(dirBytes).sum,
      "peak_rss_kb" -> vmHwmKb(),
      "check" -> check,
      "trace" -> (if (traced) trace.toJson else Map.empty))
    Files.writeString(Paths.get(a("out")), Json.write(out))
    spark.stop()
  }

  private val noTrace = new Trace(Nil)

  // ----------------------------------------------------------------- files
  private def walk(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def dirBytes(root: String): Long = walk(root).values.sum

  /** State-layer counts of one unit from before/after listings: data
    * files written, state files and bytes after it, and the bytes of
    * state files it removed (state that had to be rewritten). */
  private def fileDelta(before: Map[String, Long], after: Map[String, Long],
                        stateRoots: Seq[String]): Json.Obj = {
    def data(p: String) = !new File(p).getName.startsWith(".")
    def inState(p: String) = stateRoots.exists(r => p.startsWith(r))
    val added = after.keySet -- before.keySet
    val removed = before.keySet -- after.keySet
    val state = after.filter { case (p, _) => inState(p) }
    Map(
      "files_written" -> added.count(data),
      "state_files" -> state.keys.count(data),
      "state_bytes" -> state.values.sum,
      "bytes_rewritten" -> removed.filter(inState).toSeq.map(before).sum,
      "tables_rewritten" -> stateRoots.flatMap(r => new File(r).listFiles() match {
        case null => Nil
        case subs => subs.filter(_.isDirectory).map(_.getPath).toSeq
      }).count(t => removed.exists(_.startsWith(t + "/"))))
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  // -------------------------------------------------------------- workloads
  trait Workload {
    def maxUnits: Int
    def outputRoots(tag: String): Seq[(String, String)]
    def stateRoots(tag: String): Seq[String]
    def stateFiles(tag: String): Map[String, Long] =
      outputRoots(tag).map(_._2).flatMap(walk).toMap
    /** One unit of work (a poll); returns what the output checks need. */
    def unit(spark: SparkSession, k: Int, tag: String, t: Trace): Json.Obj
    /** Whether a timed read of the output follows unit k. */
    def readAfter(k: Int): Boolean
    /** A timed read of what the units produced, in ms. */
    def read(spark: SparkSession, k: Int, tag: String): Double
    /** After the loop: in-JVM checks and files for run.py's checks. */
    def finish(spark: SparkSession, units: Int, tag: String, t: Trace): Json.Obj
  }

  /** The OMM service poll: `CancellationStream.pollOnce` in PAST mode
    * against poll k's version of the tables, `now` advancing by the
    * service interval per poll. */
  final class OmmWorkload(inputs: String, work: String) extends Workload {
    val maxUnits: Int = new File(inputs).list().count(_.startsWith("poll"))
    private val t0 = LocalDateTime.parse(t0Wall, wallFmt).atZone(ZoneId.of(zone)).toInstant
    def sink(tag: String) = s"$work/$tag/omm_sink"
    def state(tag: String) = s"$work/$tag/omm_state"
    def outputRoots(tag: String) = Seq("sink" -> sink(tag), "state" -> state(tag))
    def stateRoots(tag: String) = Seq(state(tag))

    def unit(spark: SparkSession, k: Int, tag: String, t: Trace): Json.Obj = {
      val now = t0.plusSeconds(intervalS * k)
      val dir = s"$inputs/poll$k"
      val load = (s: SparkSession) => t.span("sources.open", k)(P.loadTables(s, dir))
      val r = t.span("streaming.poll", k)(CancellationStream.pollOnce(spark, dir,
        sink(tag), state(tag), P.FromPast, now, intervalS, zone, Some(load)))
      val (nowS, today) = CancellationStream.localNowStrings(now, zone)
      Map("sent" -> r.sent, "new" -> r.newTrips, "repeated" -> r.repeatedTrips,
        "now" -> nowS, "today" -> today,
        "lookback" -> wallFmt.format(now.minusSeconds(intervalS).atZone(ZoneId.of(zone))),
        "tables" -> dir)
    }

    /** What a consumer of the service does: fold every envelope the sink
      * holds into the latest one per trip. */
    def readAfter(k: Int): Boolean = true
    def read(spark: SparkSession, k: Int, tag: String): Double = {
      val start = System.nanoTime()
      spark.read.parquet(sink(tag)).groupBy(col("key"))
        .agg(max(struct(col("event_time_ms"), col("poll_time"))).as("latest"))
        .count()
      (System.nanoTime() - start) / 1e6
    }

    def finish(spark: SparkSession, units: Int, tag: String, t: Trace): Json.Obj =
      Map("sink" -> sink(tag), "zone" -> zone)
  }

  /** Stream state aging: per poll one event batch into `ActiveStream` and
    * the batch's training documents into `NgramLmStream`; both read every
    * few polls. At the end both reads are compared with the registered
    * one-shot queries over every batch ingested. */
  final class StreamWorkload(inputs: String, work: String) extends Workload {
    val maxUnits: Int = new File(inputs).list().count(_.startsWith("batch"))
    def active(tag: String) = s"$work/$tag/active_state"
    def ngram(tag: String) = s"$work/$tag/ngram_state"
    def outputRoots(tag: String) = Seq("state" -> s"$work/$tag")
    def stateRoots(tag: String) = Seq(active(tag), ngram(tag))
    private def batch(k: Int) = s"$inputs/batch$k"
    private val held = pmod(col("doc_id"), lit(5)) === 0

    def unit(spark: SparkSession, k: Int, tag: String, t: Trace): Json.Obj = {
      val (events, docs) = t.span("sources.open", k)(
        (Tables.events(spark, batch(k)), Tables.documents(spark, batch(k))))
      t.span("streaming.active_ingest", k)(ActiveStream.ingestBatch(spark, events,
        col("user_id"), col("event_type"), col("ts"), active(tag)))
      t.span("streaming.ngram_ingest", k)(NgramLmStream.ingestBatch(spark,
        docs.filter(!held), col("doc_id"), col("text"), ngram(tag)))
      Map.empty
    }

    private def readBoth(spark: SparkSession, docs: DataFrame, tag: String)
        : (Array[Row], Array[Row]) =
      (ActiveStream.readActive(spark, 7, active(tag)).collect(),
        NgramLmStream.scoreFromState(spark, ngram(tag), docs.filter(held),
          col("doc_id"), col("text")).withColumnRenamed("id", "doc_id").collect())

    def readAfter(k: Int): Boolean = k % 4 == 3 // polls 3 and 7 of 10
    def read(spark: SparkSession, k: Int, tag: String): Double = {
      val t0 = System.nanoTime()
      readBoth(spark, Tables.documents(spark, batch(k)), tag)
      (System.nanoTime() - t0) / 1e6
    }

    def finish(spark: SparkSession, units: Int, tag: String, t: Trace): Json.Obj = {
      // the ingested batches as one table directory, for the registered
      // queries and the DuckDB oracle
      val data = s"$work/$tag/data"
      for (name <- Seq("events", "documents"); k <- 0 until units) {
        val dst = Paths.get(s"$data/$name.parquet/part-$k.parquet")
        Files.createDirectories(dst.getParent)
        Files.createLink(dst, Paths.get(s"${batch(k)}/$name.parquet"))
      }
      val (act, lm) = readBoth(spark, Tables.documents(spark, data), tag)
      def registered(name: String, q: Int): Array[Row] = {
        val df = t.span("queries.build", q)(SparkEntry.queries(name)(spark, data))
        t.span("queries.exec", q)(df.collect())
      }
      def same(x: Array[Row], y: Array[Row]) =
        x.map(_.toString).sorted.sameElements(y.map(_.toString).sorted)
      val checks = Seq(
        "q227_active_users" -> (act, registered("q227_active_users", 0)),
        "q98_stupid_backoff" -> (lm, registered("q98_stupid_backoff", 1)))
      val outDir = s"$work/$tag/reads"
      Seq("q227_active_users" -> act, "q98_stupid_backoff" -> lm).foreach {
        case (n, rows) if rows.nonEmpty =>
          spark.createDataFrame(rows.toSeq.asJava, rows.head.schema)
            .write.parquet(s"$outDir/$n")
        case _ =>
      }
      Map(
        "data" -> data, "reads" -> outDir,
        "oracle_sql" -> checks.map { case (n, _) => n -> SparkEntry.oracleSql(n) }.toMap,
        "rows" -> checks.map { case (n, (x, _)) => n -> x.length }.toMap,
        "same_as_registered" -> checks.map { case (n, (x, y)) => n -> same(x, y) }.toMap)
    }
  }
}
