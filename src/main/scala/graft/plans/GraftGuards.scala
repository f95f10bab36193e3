package graft.plans

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** The 100 TB seatbelt, as a Catalyst rule: the two plan shapes this
  * library bans repo-wide for itself (PlanShapeSpec's machine-enforced
  * sweeps) are just as fatal in USER code composed on top of it — and a
  * user only discovers them when the full-scale run hangs. Installing
  * this extension turns both into planning-time failures with a
  * pointed message instead:
  *
  *  - **Condition-less `Cross`/`Inner` join without a broadcast hint**:
  *    a cartesian product materializes |L|×|R| rows; at corpus scale
  *    that is the canonical never-finishes stage. The deliberate
  *    tiny-side pattern (`df.crossJoin(broadcast(totals))` — e.g.
  *    [[graft.operators.Datasheet.mixDrift]]'s 1-row totals) is
  *    allowed: the broadcast hint IS the author's statement that one
  *    side is bounded.
  *  - **Unpartitioned (or all-foldable-key) window**: demands the
  *    AllTuples distribution — every row through ONE task. A foldable
  *    partition key is flagged too (Catalyst's
  *    `EliminateWindowPartitions` strips it back to the empty spec
  *    this guard bans); the sanctioned input-bounded form keeps a
  *    NON-foldable constant key — `partitionBy(pmod(col, lit(1L)))`,
  *    see `Sketch.quantilesFromSample`.
  *
  * Install per session:
  * {{{
  * graft.Session(conf = Seq("spark.sql.extensions" -> "graft.plans.GraftGuards"))
  * }}}
  * Escape hatch (per session or per scope):
  * `spark.conf.set("spark.graft.guards.enabled", "false")`.
  *
  * Every registered query in this repo passes the guard — asserted
  * registry-wide by GraftGuardsSpec, so the library holds itself to
  * the rule it offers users. */
class GraftGuards extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(_ => ScaleGuard)
}

object ScaleGuard extends Rule[LogicalPlan] {

  val EnabledKey = "spark.graft.guards.enabled"

  private def fail(what: String, fix: String): Nothing =
    throw new SparkException(
      s"[GRAFT_SCALE_GUARD] $what — this plan shape cannot survive a " +
        s"large input. $fix (Escape hatch for a KNOWN-bounded case: " +
        s"set $EnabledKey=false around this query.)")

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(EnabledKey, "true").toBoolean) return plan
    plan.foreach {
      case Join(_, _, Cross | Inner, None, hint)
          if !hint.leftHint.exists(_.strategy.contains(BROADCAST)) &&
            !hint.rightHint.exists(_.strategy.contains(BROADCAST)) =>
        fail("condition-less join (cartesian product) with no broadcast" +
          " hint",
          "Join on a key, or mark the provably-small side with " +
            "broadcast(df) to state it is bounded.")
      case w: Window
          if w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable) =>
        fail("window function over the whole input (empty or foldable " +
          "partition spec)",
          "Partition the window by a real key; for a provably " +
            "input-bounded global rank use the non-foldable constant " +
            "key form partitionBy(pmod(<non-null col>, lit(1L))).")
      case _ => ()
    }
    plan
  }
}
