package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Auto-broadcast the interval side of a keyless range join.
  *
  * The one join in the reference's workload that can silently degenerate at
  * scale is the keyless as-of leg — facts joined to a global SCD2 series on
  * `ts >= valid_from AND ts < valid_to` with no equi key (the xlm_price
  * pattern, reference dags/ddls/queries/v_liquidity_pool_trade_volume.sql:83-91).
  * Planned naively as an inner join it becomes a shuffled CartesianProduct;
  * the correct physical shape is a BroadcastNestedLoopJoin over the (by
  * construction tiny) interval table.
  *
  * This rule recognizes the engine's own interval shape — a build side
  * exposing `valid_from`/`valid_to`, range predicates spanning both sides,
  * and no cross-side equality — and attaches a broadcast hint, so callers
  * who forget the explicit `broadcast()` still get the survivable plan.
  * Installed by GraftSession.tune through
  * `spark.experimental.extraOptimizations`.
  */
object IntervalBroadcastRule extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, jt, Some(cond), hint)
        if (jt == Inner || jt == LeftOuter) &&
          hint.rightHint.isEmpty &&
          hasIntervalShape(right) &&
          isKeylessRange(cond, left, right) &&
          broadcastSafe(right) =>
      j.copy(hint = hint.copy(rightHint = Some(HintInfo(strategy = Some(BROADCAST)))))
  }

  /** Only force the broadcast when plan statistics say the interval side is
    * genuinely small. A large SCD2 table in a keyless range join must degrade
    * to the (slow but finite) shuffled join rather than OOM the driver with
    * an unconditional broadcast. The cap is 8x autoBroadcastJoinThreshold:
    * the rule exists precisely for sides somewhat above the automatic
    * threshold, but bounded by what a driver/executor can hold.
    */
  private def broadcastSafe(p: LogicalPlan): Boolean = {
    val auto = conf.autoBroadcastJoinThreshold
    // threshold <= 0 (auto-broadcast disabled) does NOT disable this
    // rule — Spark's own broadcast() hint likewise bypasses the
    // threshold, and rescuing a keyless range join from a cartesian is
    // exactly why the hint/rule exists; the 256 MB fallback cap bounds
    // the forced side by what a driver holds (spec-pinned: the rule
    // fires under threshold=-1 for a tiny side, never for a huge one)
    val cap = if (auto > 0) BigInt(auto) * 8 else BigInt(256L << 20)
    p.stats.sizeInBytes <= cap
  }

  private def hasIntervalShape(p: LogicalPlan): Boolean = {
    val names = p.output.map(_.name).toSet
    names.contains("valid_from") && names.contains("valid_to")
  }

  private def isKeylessRange(cond: Expression, left: LogicalPlan, right: LogicalPlan): Boolean = {
    val conjuncts = splitConjunctivePredicates(cond)
    def spansBoth(e: Expression): Boolean =
      e.references.exists(left.outputSet.contains) &&
        e.references.exists(right.outputSet.contains)
    val crossEquality = conjuncts.exists {
      case eq: EqualTo       => spansBoth(eq)
      case eq: EqualNullSafe => spansBoth(eq)
      case _                 => false
    }
    val crossRange = conjuncts.count {
      case c @ (_: GreaterThan | _: GreaterThanOrEqual | _: LessThan | _: LessThanOrEqual) =>
        spansBoth(c)
      case _ => false
    }
    !crossEquality && crossRange >= 1
  }
}
