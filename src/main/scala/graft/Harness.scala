package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** What the measuring mains (`Bench`, `Verify`, `tools.JobProf`,
  * `tools.Explain`) share: the untimed warm-up, the between-rep reset,
  * the one timed rep and the rep count, the physical-plan walk, the JSON
  * string escape and the /proc contention witnesses. */
object Harness {

  /** Untimed warm-up: JVM/codegen/parquet-footer costs land here, not on
    * whichever query happens to run first. The flagship OMM pipeline
    * runs once (fixture generation if absent, the OMM tables' first
    * reads, the pipeline's codegen) and every table family gets a first
    * read — otherwise the first omm_* query in sorted order pays for the
    * whole family and its figure misattributes the cost. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      SparkEntry.entry(spark).count()
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

  /** Reps per query for every timing main (`Bench`, `tools.JobProf`), so
    * their figures are the same measurement; the middle rep is the median. */
  val Reps = 3

  /** One timed rep of a registered query: `reset`, build the DataFrame,
    * `count()` it. Returns the DataFrame (for its plan) and the wall
    * seconds of build plus count. The reset drops what a previous rep
    * persisted: cache lookup is by canonicalized plan, so without it reps
    * 2..n of a persist-using query would read rep 1's cache. */
  def rep(spark: SparkSession, sfDir: String,
      query: (SparkSession, String) => DataFrame): (DataFrame, Double) = {
    reset(spark)
    val t0 = System.nanoTime()
    val df = query(spark, sfDir)
    df.count()
    (df, (System.nanoTime() - t0) / 1e9)
  }

  /** The plan under the adaptive wrapper and its query stages: the FINAL
    * plan once the DataFrame's own plan has run (`collect()`), the
    * initial one otherwise (`count()` runs a different plan). Pass it
    * `queryExecution.executedPlan`: EnsureRequirements runs only in
    * preparation, so `sparkPlan` has no Exchange nodes. */
  def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case s: QueryStageExec => unwrap(s.plan)
    case other => other
  }

  /** Every node of `unwrap(p)` in preorder, subqueries included, each
    * child unwrapped the same way. */
  def planWalk(p: SparkPlan): Seq[SparkPlan] = {
    val h = unwrap(p)
    h +: (h.children.flatMap(planWalk) ++ h.subqueries.flatMap(planWalk))
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
