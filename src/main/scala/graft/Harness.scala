package graft

import org.apache.spark.sql.SparkSession

/** What the measuring mains (`Bench`, `Verify`, `tools.JobProf`) share:
  * the untimed warm-up, the between-rep reset, the JSON string escape and
  * the /proc contention witnesses. */
object Harness {

  /** Untimed warm-up: JVM/codegen/parquet-footer costs land here, not on
    * whichever query happens to run first. OMM fixture generation and a
    * first read of every table family are warmed too — otherwise the
    * first omm_* query pays fixture generation for the whole family and
    * its figure misattributes the cost. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      graft.omm.OmmFixtures.ensure(spark)
      spark.read.parquet(graft.omm.OmmFixtures.path("deviation_cases"))
        .limit(1).count()
      Seq("lineitem", "orders", "events", "documents", "embeddings")
        .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count())
    } catch { case _: Throwable => () }

  /** Drop the cached state a query (or rep) can leave behind, so the next
    * one's figure does not depend on it: `clearCache` drops
    * catalog-tracked Dataset persists, and unpersisting
    * `getPersistentRDDs` drops what clearCache cannot see —
    * `localCheckpoint` RDDs and any RDD-level persist. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in hand-written oracle SQL would otherwise make a
    * reader's json.load fail (Verify's oracle_sql.json is one). */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** 1-minute loadavg: the contention witness for our own runqueue. */
  def loadavg(): Double =
    try proc("loadavg").split(' ')(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Cumulative CPU-steal jiffies (USER_HZ=100): aggregate "cpu" line,
    * field 8 after the label (user nice system idle iowait irq softirq
    * STEAL). Deltas across a query expose hypervisor co-tenancy that
    * loadavg cannot see. */
  def stealJiffies(): Long =
    try proc("stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")(8).toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }

  private def proc(file: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get("/proc", file))
}
