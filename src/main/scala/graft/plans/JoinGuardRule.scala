package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo, Expression, PredicateHelper}

/** Optimizer-injected unkeyed-join guard — the RUNTIME counterpart of
  * PlanGuardSpec for a shared cluster: with `spark.graft.joinGuard=true`,
  * any join that would execute without at least one equi key (cartesian,
  * pure-theta, or cross) fails AT PLAN TIME with an actionable message
  * instead of launching an O(n·m) job against 100 TB. Off by default —
  * fenced baselines (the documented O(n²) oracle paths) run with the guard
  * down, exactly like the test-side fence list.
  *
  * Runs in the operator-optimization batch, AFTER predicate pushdown has
  * moved every pushable conjunct into Join.condition — so a join written as
  * `a.join(b).where(a.k === b.k)` correctly passes.
  */
case class JoinGuardRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (spark.conf.getOption("spark.graft.joinGuard").contains("true")) {
      // the CONDITION decides, not the join type: an explicit crossJoin
      // whose filter pushed an equi key into the condition executes as an
      // equi join and passes; an inner join with no condition is a
      // cartesian and fails
      plan.foreach {
        case j: Join if !JoinGuardRule.hasEquiKey(j) =>
          throw new IllegalStateException(
            "graft join guard: join has no equi key and would execute as a " +
              s"nested loop / cartesian (type=${j.joinType}, condition=" +
              s"${j.condition.getOrElse("none")}). Band the predicate into an " +
              "equi-join, broadcast an explicitly tiny side, or unset " +
              "spark.graft.joinGuard for a fenced baseline.")
        case _ =>
      }
    }
    plan
  }
}

object JoinGuardRule extends PredicateHelper {
  // mirrors ExtractEquiJoinKeys: a conjunct only counts as an equi key if
  // each operand is evaluable against exactly one join side (either
  // orientation). `a.x + b.y === b.z` references both sides on the left
  // operand — NOT extractable, still a nested loop — and must not pass.
  private def isEquiKey(l: Expression, r: Expression, j: Join): Boolean =
    l.references.nonEmpty && r.references.nonEmpty &&
      ((canEvaluate(l, j.left) && canEvaluate(r, j.right)) ||
        (canEvaluate(l, j.right) && canEvaluate(r, j.left)))

  /** Whether `j` has a conjunct Spark plans as a hash/merge join key. */
  def hasEquiKey(j: Join): Boolean =
    j.condition.exists(splitConjunctivePredicates(_).exists {
      case EqualTo(l, r) => isEquiKey(l, r, j)
      case EqualNullSafe(l, r) => isEquiKey(l, r, j)
      case _ => false
    })
}
