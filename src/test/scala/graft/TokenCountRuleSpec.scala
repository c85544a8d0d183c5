package graft

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, Literal, Size, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{TermCounts, TokenCount}
import graft.plans.TokenCountRule

/** graft.plans.TokenCountRule turns `size(split(x, ' '))` into
  * `token_count(x)` and the stop-word count `size(filter(split(x, ' '),
  * t -> t = 'w1' OR …))` into a sum of `term_counts(x, words)`, and leaves
  * every result row as it was. Each case runs with the rule and with
  * Spark's own `spark.sql.optimizer.excludedRules` naming it. */
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

  private def stopWordCount(plan: LogicalPlan): Boolean = holds(plan) {
    case Size(ArrayFilter(StringSplit(_, Literal(sp, _), Literal(-1, _)), _), _) => String.valueOf(sp) == " "
  }
  private def filters(df: DataFrame): Boolean =
    holds(df.queryExecution.optimizedPlan) { case _: ArrayFilter => true }
  private def termCounted(df: DataFrame): Boolean =
    holds(df.queryExecution.optimizedPlan) { case _: TermCounts => true }

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

  test("every declared query that counts stop words counts them on the bytes, with the same rows") {
    val names = SparkEntry.queries.keys.toSeq.sorted.filter { n =>
      stopWordCount(SparkEntry.queries(n)(spark, TestSpark.sf0001).queryExecution.analyzed)
    }
    assert(Set("q_text_quality", "q_text_langid", "q_text_gopher", "q_pipeline_clean")
      .subsetOf(names.toSet), names)
    for (n <- names) {
      def query = SparkEntry.queries(n)(spark, TestSpark.sf0001)
      assert(!filters(query) && termCounted(query), n)
      assert(rows(query) == withoutRule(rows(query)), n)
    }
  }

  private lazy val words = {
    import spark.implicits._
    Seq("the the a of", "a  b a", "", " ", "café au lait café", "the-a a-the",
      "ünï  ünï x").toDF("text").withColumn("other", lit("a")).repartition(2)
  }

  test("a repeated word, a literal on the left, the empty word and a multi-byte word are counted") {
    for (lambda <- Seq("t -> t = 'a' OR t = 'the' OR 'a' = t", "t -> 'a' = t OR t = 'of'",
        "t -> t = ''", "t -> t = 'café' OR 'ünï' = t", "t -> t = 'the' OR (t = 'a' OR t = 'b')")) {
      val df = words.selectExpr(s"size(filter(split(text, ' '), $lambda)) AS n")
      assert(!filters(df) && termCounted(df), lambda)
      assert(rows(df) == withoutRule(rows(df)), lambda)
    }
  }

  test("a word the OR repeats counts each token once") {
    // applied to the analyzed plan, where no optimizer rule has merged the
    // repeat yet
    val df = words.selectExpr("size(filter(split(text, ' '), t -> t = 'a' OR 'a' = t OR t = 'of')) AS n")
    val direct = GraftColumnBridge.ofRows(spark, TokenCountRule(df.queryExecution.analyzed))
    assert(!filters(direct) && termCounted(direct))
    assert(rows(direct) == withoutRule(rows(df)))
  }

  test("any other lambda is left to Spark") {
    for (q <- Seq("size(filter(split(text, ' '), t -> t = 'a' AND length(t) = 1))",
        "size(filter(split(text, ' '), t -> t LIKE 'a%'))",
        "size(filter(split(text, ' '), t -> t = other))",
        "size(filter(split(text, ' '), (t, i) -> t = 'a'))",
        "size(filter(split(text, ' '), t -> t = 'a' OR t <> 'b'))",
        "size(filter(split(text COLLATE UTF8_LCASE, ' '), t -> t = 'a'))",
        "size(filter(split(text, ' ', 2), t -> t = 'a'))")) {
      val df = words.selectExpr(s"$q AS n")
      assert(filters(df) && !termCounted(df), q)
      assert(rows(df) == withoutRule(rows(df)), q)
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
    def stops = docs.select(size(filter(split(col("text"), " "), _ === "a")).as("n")).orderBy("n")
    assert(termCounted(stops))
    assert(stops.collect().map(_.getInt(0)).toSeq == Seq(-1, 1))
    legacy.conf.set("spark.sql.optimizer.excludedRules", TokenCountRule.ruleName)
    assert(!counted(query) && query.collect().map(_.getInt(0)).toSeq == Seq(-1, 2))
    assert(!termCounted(stops) && stops.collect().map(_.getInt(0)).toSeq == Seq(-1, 1))
  }
}
