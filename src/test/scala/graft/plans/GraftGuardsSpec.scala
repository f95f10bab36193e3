package graft.plans

import java.util.concurrent.TimeUnit

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{ChildJvm, SparkSpec}
import graft.operators.CacheHygiene

/** The scale-guard rule: flags the banned shapes, admits the sanctioned
  * ones, and — the strong claim — every registered query's ANALYZED
  * plan passes, so the library obeys the rule it ships to users. The
  * `spark.sql.extensions` wiring needs a fresh session, so
  * `tools.GuardsDemo` proves it in a child JVM. */
class GraftGuardsSpec extends SparkSpec {
  import spark.implicits._

  // the rule injects into the optimizer (after EliminateResolvedHint
  // folds broadcast() markers into Join.hint), so the faithful test
  // surface is the optimized plan, not the analyzed one
  private def guard(df: DataFrame): Unit = {
    ScaleGuard(df.queryExecution.optimizedPlan); ()
  }

  private lazy val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
  private lazy val b = Seq((10L, 1.0), (20L, 2.0)).toDF("k", "w")

  test("condition-less cross join without broadcast hint is rejected; " +
      "the broadcast(tiny) pattern is admitted") {
    val e = intercept[SparkException] { guard(a.crossJoin(b)) }
    assert(e.getMessage.contains("GRAFT_SCALE_GUARD"))
    assert(e.getMessage.contains("broadcast"))
    guard(a.crossJoin(broadcast(b)))          // the 1-row-totals pattern
    guard(broadcast(a).crossJoin(b))          // either side may be the small one
    guard(a.join(b, a("id") === b("k")))      // keyed join untouched
    guard(a.join(b, a("id") =!= b("k")))     // non-equi WITH condition untouched
  }

  test("unpartitioned and foldable-key windows are rejected; the " +
      "non-foldable constant-key form is admitted") {
    val w = Window.orderBy(col("id"))
    val e = intercept[SparkException] {
      guard(a.withColumn("r", row_number().over(w)))
    }
    assert(e.getMessage.contains("GRAFT_SCALE_GUARD"))
    // foldable key: Catalyst strips it back to the empty spec — flagged
    intercept[SparkException] {
      guard(a.withColumn("r",
        row_number().over(Window.partitionBy(lit(0)).orderBy(col("id")))))
    }
    // the sanctioned input-bounded form (Sketch.quantilesFromSample)
    guard(a.withColumn("r", row_number().over(
      Window.partitionBy(pmod(col("id"), lit(1L))).orderBy(col("id")))))
    // ordinary keyed window untouched
    guard(a.withColumn("r", row_number().over(
      Window.partitionBy(col("v")).orderBy(col("id")))))
  }

  test("escape hatch: spark.graft.guards.enabled=false admits everything") {
    spark.conf.set(ScaleGuard.EnabledKey, "false")
    try guard(a.crossJoin(b))
    finally spark.conf.unset(ScaleGuard.EnabledKey)
  }

  test("registry-wide: every registered query's analyzed plan passes " +
      "the guard the library ships") {
    // r19: consumes the shared RegistrySweep pass (one instantiation of
    // the registry for all three registry-wide sweeps — this suite is
    // grouped into the same test JVM as PlanShapeSpec so the lazy pass
    // is computed once); the assertion is unchanged — ScaleGuard ran on
    // every query's optimized plan, instantiation failures count too.
    val offenders = graft.RegistrySweep.result.audits.toSeq.sortBy(_._1)
      .flatMap { case (name, a) =>
        a.error.map(e => s"$name: FAILED ($e)").toSeq ++
          a.guardError.map(g => s"$name: $g").toSeq
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("GuardsDemo: a session built with spark.sql.extensions = " +
      "GraftGuards rejects the banned shapes (child JVM)") {
    val proc = ChildJvm("graft.tools.GuardsDemo",
      CacheHygiene.tempDir("guards")).start()
    val out = Future(scala.io.Source.fromInputStream(proc.getInputStream).mkString)
    try {
      assert(proc.waitFor(4, TimeUnit.MINUTES), "GuardsDemo did not exit")
      val log = Await.result(out, 30.seconds)
      assert(proc.exitValue() === 0, log)
      assert(log.linesIterator.contains("[guards] OK"), log)
    } finally {
      proc.destroy()
      if (!proc.waitFor(30, TimeUnit.SECONDS)) proc.destroyForcibly().waitFor()
    }
  }
}
