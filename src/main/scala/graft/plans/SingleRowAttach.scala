package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, EqualTo, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.JOIN
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Always-on optimizer rule: an inner or cross join without an equi key
  * whose one side holds at most one row (a global aggregate, a LIMIT 1, a
  * filtered scalar) runs as a broadcast HASH join, never a nested loop.
  *
  * Spark plans every join without an equi key as BroadcastNestedLoopJoin
  * or CartesianProduct, even when one side is a single row. The rule gives
  * both sides one constant key and conjoins `k_l = k_r` with the join's
  * condition, so a residual predicate (a `>` cut against the attached
  * scalar) stays as the hash join's residual. Unless the query already
  * names a strategy for either side (`broadcast(x)`, `/*+ BROADCAST(x) */`),
  * the 1-row side is hinted broadcast: at most one row is always safe to
  * broadcast, and an unbroadcast join on a constant key would shuffle every
  * row of the other side into one partition. A projection above the join
  * drops the two keys, so the join's output is unchanged.
  *
  * The key is [[AttachKey]], the int 0 as an expression the optimizer
  * cannot fold. It is total: never null, and it reads no column, so no
  * input value can make it throw (a `double * 0` key is NaN for a NaN and
  * throws when cast under ANSI), and it keys a side whose columns were
  * all pruned away (q9's reason anchor contributes none). It survives
  * constant folding: a literal 0 would leave `0 = 0`, which references
  * neither side, so the join would plan as a nested loop again.
  *
  * Runs in the operator-optimization batch ahead of [[JoinGuardRule]]
  * (registered first by [[graft.functions.GraftExtensions]]), so the guard
  * sees the keyed join. A/B it off with Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.SingleRowAttach`.
  */
object SingleRowAttach extends Rule[LogicalPlan] {
  private def singleRow(p: LogicalPlan): Boolean = p.maxRows.exists(_ <= 1)

  /** `side` with the constant key column appended. */
  private def keyed(side: LogicalPlan): (LogicalPlan, Attribute) = {
    val k = Alias(AttachKey(), "attach_key")()
    (Project(side.output :+ k, side), k.toAttribute)
  }

  private val broadcastHint = Some(HintInfo(strategy = Some(BROADCAST)))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(JOIN)) {
      case j @ Join(l, r, Inner | Cross, cond, hint)
          if (singleRow(l) || singleRow(r)) && !JoinGuardRule.hasEquiKey(j) =>
        val ((kl, lk), (kr, rk)) = (keyed(l), keyed(r))
        val on = (EqualTo(lk, rk) +: cond.toSeq).reduce(And)
        val withHint =
          if (Seq(hint.leftHint, hint.rightHint).flatten.exists(_.strategy.nonEmpty)) hint
          else if (singleRow(r)) hint.copy(rightHint = broadcastHint)
          else hint.copy(leftHint = broadcastHint)
        Project(j.output, Join(kl, kr, Inner, Some(on), withHint))
    }
}

/** The int 0, never null, and not foldable: the constant join key of
  * [[SingleRowAttach]]. A foldable 0 would be folded into the condition
  * and stop being a key. */
case class AttachKey() extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = IntegerType
  override def eval(input: InternalRow): Any = 0
  override def prettyName: String = "attach_key"
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.literal("0", IntegerType))
}
