package graft.streaming

import org.apache.spark.sql.SparkSession

/** Per SQL execution `f` runs: its action call site and the tables whose
  * parquet scans produced rows in it, each named by the last segment of
  * the scan's location with `.parquet` dropped. The plan graph of an
  * execution that reads a cached relation also holds the cached plan's
  * scans, but their row metrics only count in the execution whose jobs
  * ran them. */
object ScansRun {

  private val location = """Location: \w+\(\d+ paths?\)\[([^\]]+)\]""".r

  def apply(spark: SparkSession)(f: => Unit): Seq[(String, Seq[String])] = {
    val store = spark.sharedState.statusStore
    val before = store.executionsList().map(_.executionId).toSet
    // the scan's location in full, not cut at the default 100 characters
    val limit = "spark.sql.maxMetadataStringLength"
    val saved = spark.conf.getOption(limit)
    spark.conf.set(limit, 10000)
    try f
    finally saved.fold(spark.conf.unset(limit))(spark.conf.set(limit, _))
    // the status listener consumes events in order: once a later
    // sentinel execution has ended, every execution of `f` has too
    spark.range(1).tail(1)
    val deadline = System.nanoTime() + 30_000_000_000L
    def ended = store.executionsList().filterNot(e => before(e.executionId))
      .filter(_.completionTime.isDefined)
    while (!ended.exists(_.description.startsWith("tail at")) &&
      System.nanoTime() < deadline) Thread.sleep(50)
    val execs = ended.filterNot(_.description.startsWith("tail at"))
    assert(execs.nonEmpty, "no SQL execution of `f` reached the status store")
    execs.map { e =>
      val values = store.executionMetrics(e.executionId)
      val ran = store.planGraph(e.executionId).allNodes
        .filter(_.name.startsWith("Scan parquet"))
        .filter(_.metrics.exists(m => m.name == "number of output rows" &&
          values.get(m.accumulatorId).exists(_ != "0")))
        .map(n => location.findFirstMatchIn(n.desc)
          .map(_.group(1).split('/').last.stripSuffix(".parquet"))
          .getOrElse(n.desc))
      (e.description, ran.toSeq)
    }.toSeq
  }

  /** The seven Jore timetable tables `CancellationPipeline.departures` reads. */
  val timetable: Set[String] = Set("DatedVehicleJourney", "VehicleJourney",
    "VehicleJourneyTemplate", "KeyVariantValue", "KeyVariantType", "KeyType",
    "ObjectType")
}
