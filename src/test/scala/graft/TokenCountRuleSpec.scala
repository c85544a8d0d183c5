package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Literal, Size, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TokenCount
import graft.plans.TokenCountRule

/** graft.plans.TokenCountRule turns `size(split(x, ' '))` into
  * `token_count(x)` and leaves every result row as it was. Each case runs
  * with the rule and with Spark's own `spark.sql.optimizer.excludedRules`
  * naming it. */
class TokenCountRuleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withoutRule[T](body: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", TokenCountRule.ruleName)
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def holds(plan: LogicalPlan)(p: PartialFunction[Any, Boolean]): Boolean =
    plan.collectWithSubqueries { case n => n.expressions.exists(_.exists(e => p.applyOrElse(e, (_: Any) => false))) }
      .contains(true)

  private def splitSize(plan: LogicalPlan): Boolean = holds(plan) {
    case Size(StringSplit(_, Literal(sp, _), Literal(-1, _)), _) => String.valueOf(sp) == " "
  }
  private def counted(df: DataFrame): Boolean =
    holds(df.queryExecution.optimizedPlan) { case _: TokenCount => true }

  test("the rule is named as excludedRules names it") {
    assert(TokenCountRule.ruleName == "graft.plans.TokenCountRule")
    def df = spark.range(3).select(size(split(col("id").cast("string"), " ")).as("n"))
    assert(counted(df) && !withoutRule(counted(df)))
  }

  test("every declared query that sizes split(x, ' ') counts tokens, with the same rows") {
    val names = SparkEntry.queries.keys.toSeq.sorted.filter { n =>
      splitSize(SparkEntry.queries(n)(spark, TestSpark.sf0001).queryExecution.analyzed)
    }
    assert(Set("q_text_stats", "q_pack", "q_text_quality", "q_text_gopher",
      "q_text_repetition", "q_pipeline_clean").subsetOf(names.toSet), names)
    for (n <- names) {
      def query = SparkEntry.queries(n)(spark, TestSpark.sf0001)
      assert(counted(query), n)
      assert(rows(query) == withoutRule(rows(query)), n)
    }
  }

  test("a limit, another pattern or a non-binary collation is left alone") {
    import spark.implicits._
    val docs = Seq("a b  c", " ", "").toDF("text").repartition(2)
    for (df <- Seq(docs.select(size(split(col("text"), " ", 2))),
        docs.select(size(split(col("text"), "  "))),
        docs.select(size(split(col("text"), "b"))),
        docs.selectExpr("size(split(text COLLATE UTF8_LCASE, ' '))"))) {
      assert(!counted(df), df.queryExecution.optimizedPlan)
      assert(rows(df) == withoutRule(rows(df)))
    }
  }

  test("a null text counts -1 under legacySizeOfNull, as size does") {
    val legacy = spark.newSession()
    legacy.conf.set("spark.sql.ansi.enabled", "false")
    legacy.conf.set("spark.sql.legacy.sizeOfNull", "true")
    // a range, not a local relation, which the optimizer would evaluate
    val docs = legacy.range(2).select(when(col("id") === 1, lit("a b")).as("text"))
    def query = docs.select(size(split(col("text"), " ")).as("n")).orderBy("n")
    assert(counted(query))
    assert(query.collect().map(_.getInt(0)).toSeq == Seq(-1, 2))
    legacy.conf.set("spark.sql.optimizer.excludedRules", TokenCountRule.ruleName)
    assert(!counted(query) && query.collect().map(_.getInt(0)).toSeq == Seq(-1, 2))
  }
}
