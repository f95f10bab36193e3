package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Seq(sfDir, outDir, rest @ _*) = args.toSeq
    // optional: --only q1,q2 restricts the dump for local iteration; the
    // driver's 2-arg invocation always dumps everything
    val only: Option[Set[String]] = rest match {
      case Seq("--only", names) => Some(names.split(",").toSet)
      case _ => None
    }
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // per-query cache-hygiene check: a query that leaves NEW persistent
      // RDDs behind is named HERE, at the offender — not two suites later
      // by an unrelated global assertion (the round-8 DupClusters leak was
      // found that way). PlanShapeSpec asserts the same invariant; this
      // report is the driver-visible evidence.
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(rddsBefore)
      if (leaked.nonEmpty)
        System.err.println(s"[verify][hygiene] $name left ${leaked.size} " +
          s"persistent RDDs behind: ids=${leaked.toSeq.sorted.mkString(",")}")
      // release anything a query persisted/localCheckpointed: 101 queries
      // in one JVM otherwise accumulate cached relations (same residue
      // that distorted the round-5 bench tail)
      Harness.reset(spark)
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${Harness.json(k)}: ${Harness.json(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
