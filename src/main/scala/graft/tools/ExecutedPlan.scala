package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** FINAL-adaptive-plan inspection: executes the named registered
  * queries and prints the post-AQE physical plan (the static
  * `explain` hides runtime exchange reuse and join re-planning behind
  * `AdaptiveSparkPlan isFinalPlan=false`). Also prints scan /
  * exchange / reuse node counts — the numbers plan-shape claims in
  * SURVEY/SCALE should cite. Usage:
  * `sbt "runMain graft.tools.ExecutedPlan [sfDir] [q1 q2 ...]"` */
object ExecutedPlan {
  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => finalPlan(a.executedPlan)
    case s: QueryStageExec => finalPlan(s.plan)
    case other => other
  }

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val here = finalPlan(p)
    here +: (here.children.flatMap(allNodes) ++
      here.subqueries.flatMap(allNodes))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q175_pmi_collocations")
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n######## $n ########")
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      df.collect()
      val nodes = allNodes(df.queryExecution.executedPlan)
      val names2 = nodes.map(_.nodeName)
      def c(s: String) = names2.count(_.contains(s))
      println(s"[executed] scans=${c("Scan")} " +
        s"shuffles=${c("Exchange") - c("ReusedExchange") - c("Broadcast")} " +
        s"broadcasts=${c("BroadcastExchange")} reused=${c("Reused")}")
      println(finalPlan(df.queryExecution.executedPlan).toString)
    }
    spark.stop()
  }
}
