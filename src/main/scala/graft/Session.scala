package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one way every entry point (the service, `Bench`, `Verify`, the
  * tools) and the specs build their SparkSession. A master given to
  * spark-submit (or as `-Dspark.master`) wins; anywhere else the session
  * runs `local[cores]`. Either way it shuffles into one partition per slot
  * the context offers (`defaultParallelism`), not Spark's fixed 200, and it
  * runs in UTC with the UI off, logging at WARN. Any other `spark.*` key
  * can be given as a `-D` system property, which SparkConf reads. */
object Session {

  /** `SPARK_GRAFT_CPUS`, else every processor of the machine. */
  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = Session.cores,
            conf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .appName("transitdata-omm-cancellation-source-spark")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (!new SparkConf().contains("spark.master"))
      builder.master(s"local[$cores]")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toLong)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
