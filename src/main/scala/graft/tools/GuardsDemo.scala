package graft.tools

/** End-to-end proof of the GraftGuards EXTENSION WIRING (the
  * GraftGuardsSpec tests the rule object directly; this drives the
  * `spark.sql.extensions` config path in a fresh session, which a unit
  * suite sharing one SparkSession cannot): builds a guarded session,
  * asserts a hint-less cartesian and a global window FAIL at planning,
  * the sanctioned forms pass, and the escape hatch works.
  * Run: sbt "runMain graft.tools.GuardsDemo" — exits non-zero on any
  * violation of the expected verdicts. */
object GuardsDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session(
      conf = Seq("spark.sql.extensions" -> "graft.plans.GraftGuards"))
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._

    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val b = Seq((10L, 1.0)).toDF("k", "w")

    def mustFail(what: String)(body: => Unit): Unit =
      try {
        body
        sys.error(s"guard DID NOT fire on $what")
      } catch {
        case e: Throwable if String.valueOf(e.getMessage)
            .contains("GRAFT_SCALE_GUARD") ||
          String.valueOf(String.valueOf(e.getCause))
            .contains("GRAFT_SCALE_GUARD") =>
          println(s"[guards] rejected as expected: $what")
      }

    mustFail("hint-less cartesian") { a.crossJoin(b).collect(); () }
    mustFail("global window") {
      a.withColumn("r",
        row_number().over(Window.orderBy(col("id")))).collect(); ()
    }

    // sanctioned forms pass through the SAME injected rule
    assert(a.crossJoin(broadcast(b)).count() == 2L)
    assert(a.withColumn("r", row_number().over(
      Window.partitionBy(pmod(col("id"), lit(1L))).orderBy(col("id"))))
      .count() == 2L)
    println("[guards] sanctioned forms pass")

    // escape hatch is per-session conf
    spark.conf.set(graft.plans.ScaleGuard.EnabledKey, "false")
    assert(a.crossJoin(b).count() == 2L)
    println("[guards] escape hatch works")
    spark.stop()
    println("[guards] OK")
  }
}
