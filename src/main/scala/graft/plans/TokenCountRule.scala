package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Add, ArrayFilter, Cast, Coalesce, EqualTo, Expression, GetArrayItem, LambdaFunction, Literal, NamedLambdaVariable, Or, Size, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{SpaceTokens, TermCounts, TokenCount}

/** Always-on optimizer rule that counts the space tokens of a string on its
  * UTF-8 bytes instead of decoding it, splitting a `String` and re-encoding
  * every token into an array only to take a length. Two shapes:
  *   - `size(split(x, ' '))` becomes `token_count(x)`
  *     ([[graft.functions.TokenCount]]), the spaces plus one;
  *   - the stop-word count `size(filter(split(x, ' '), t -> t = 'w1' OR
  *     t = 'w2' …))` becomes the int sum of `term_counts(x, [w1, w2, …])`
  *     ([[graft.functions.TermCounts]], one pass, no token array and no
  *     lambda per token) over the distinct words, so a word the OR repeats
  *     counts each token once.
  *
  * It rewrites exactly `Size(StringSplit(x, ' ', -1))` (the `split` of SQL
  * and of the Column API, with no limit), bare or under an `ArrayFilter`
  * whose one-argument lambda is an OR of equalities between its variable
  * and a non-null string literal (either side), over a UTF8_BINARY x, whose
  * split on one space and token equality are byte-exact. Any other lambda
  * is left to Spark. Size's `legacySizeOfNull` is kept: a null x counts -1
  * there, as `size` returns it. Registered with
  * [[graft.functions.GraftExtensions]] beside [[SingleRowAttach]]; A/B it
  * off with Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.TokenCountRule`.
  */
object TokenCountRule extends Rule[LogicalPlan] {
  private val space = UTF8String.fromString(" ")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Size(StopWords(x, ws), legacy) =>
      val counts = TermCounts(x, Literal.create(new GenericArrayData(ws.toArray[Any]),
        ArrayType(StringType, containsNull = false)))
      val n = Cast(ws.indices.map(i => GetArrayItem(counts, Literal(i)): Expression)
        .reduce(Add(_, _)), IntegerType)
      if (legacy) Coalesce(Seq(n, Literal(-1))) else n
    case Size(SpaceSplit(x), legacy) =>
      if (legacy) Coalesce(Seq(TokenCount(x), Literal(-1))) else TokenCount(x)
  }

  /** `x` of a `split(x, ' ')` with no limit, over a UTF8_BINARY x. */
  private object SpaceSplit {
    def unapply(e: Expression): Option[Expression] = e match {
      case StringSplit(x, p @ Literal(`space`, _), Literal(-1, IntegerType))
          if SpaceTokens.binaryString(x.dataType) && SpaceTokens.binaryString(p.dataType) => Some(x)
      case _ => None
    }
  }

  /** `x` and the distinct words of `filter(split(x, ' '), t -> t = 'w1' OR
    * …)`. */
  private object StopWords {
    def unapply(e: Expression): Option[(Expression, Seq[UTF8String])] = e match {
      case ArrayFilter(SpaceSplit(x), LambdaFunction(body, Seq(v: NamedLambdaVariable), _)) =>
        words(body, v).map(ws => (x, ws.distinct))
      case _ => None
    }

    /** The UTF8_BINARY string literals of `body` when it is an OR of
      * `v = literal` / `literal = v`. */
    private def words(body: Expression, v: NamedLambdaVariable): Option[Seq[UTF8String]] = body match {
      case Or(a, b) => for (l <- words(a, v); r <- words(b, v)) yield l ++ r
      case EqualTo(u: NamedLambdaVariable, w: Literal) if u.exprId == v.exprId => word(w)
      case EqualTo(w: Literal, u: NamedLambdaVariable) if u.exprId == v.exprId => word(w)
      case _ => None
    }

    private def word(w: Literal): Option[Seq[UTF8String]] = w.value match {
      case s: UTF8String if SpaceTokens.binaryString(w.dataType) => Some(Seq(s))
      case _ => None
    }
  }
}
