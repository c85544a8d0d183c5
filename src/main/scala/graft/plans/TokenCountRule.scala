package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Coalesce, Literal, Size, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{SpaceTokens, TokenCount}

/** Always-on optimizer rule: `size(split(x, ' '))` becomes
  * `token_count(x)` ([[graft.functions.TokenCount]]), which counts the
  * spaces of x's UTF-8 bytes instead of decoding x, splitting a `String`
  * and re-encoding every token into an array only to take its length.
  *
  * It rewrites exactly `Size(StringSplit(x, ' ', -1))` (the `split` of
  * SQL and of the Column API, with no limit) over a UTF8_BINARY x, whose
  * split on one space is byte-exact. Size's `legacySizeOfNull` is kept: a
  * null x counts -1 there, as `size` returns it. Registered with
  * [[graft.functions.GraftExtensions]] beside [[SingleRowAttach]]; A/B it
  * off with Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.TokenCountRule`.
  */
object TokenCountRule extends Rule[LogicalPlan] {
  private val space = UTF8String.fromString(" ")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Size(StringSplit(x, p @ Literal(`space`, _), Literal(-1, IntegerType)), legacy)
        if SpaceTokens.binaryString(x.dataType) && SpaceTokens.binaryString(p.dataType) =>
      if (legacy) Coalesce(Seq(TokenCount(x), Literal(-1))) else TokenCount(x)
  }
}
