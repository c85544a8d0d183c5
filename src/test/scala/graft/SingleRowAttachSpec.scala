package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{AttachKey, SingleRowAttach}

/** graft.plans.SingleRowAttach keys an inner join of a 1-row side, so it
  * plans a broadcast hash join, and leaves every result row as it was.
  * Each case runs twice: with the rule, and with Spark's own
  * `spark.sql.optimizer.excludedRules` naming it. */
class SingleRowAttachSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 40 rows in 4 partitions: never a single-row side. */
  private def many: DataFrame =
    spark.range(0, 40, 1, 4).select(col("id"), (col("id") * 1.5).as("v"))
  private def one: DataFrame = many.agg(max(col("v")).as("mx"), count(lit(1)).as("n"))

  private def withoutRule[T](body: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", SingleRowAttach.ruleName)
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def keyed(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(_.isInstanceOf[AttachKey])))

  /** `query` built and run with the rule and without it: the same rows;
    * with the rule a broadcast hash join and no nested loop. */
  private def attachesHashed(query: => DataFrame): Seq[String] = {
    val on = query
    val off = withoutRule(rows(query))
    assert(rows(on) == off)
    val p = plan(on)
    assert(keyed(on) && p.contains("BroadcastHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    off
  }

  test("the rule is named as excludedRules names it") {
    assert(SingleRowAttach.ruleName == "graft.plans.SingleRowAttach")
    assert(withoutRule(plan(many.crossJoin(one))).contains("BroadcastNestedLoopJoin"))
  }

  test("a 1-row side attaches by a hash join on either side") {
    assert(attachesHashed(many.crossJoin(one)).size == 40)
    assert(attachesHashed(one.crossJoin(many)).size == 40)
    assert(attachesHashed(many.join(one)).size == 40)
  }

  test("a residual non-equi condition stays on the keyed join") {
    val kept = attachesHashed(many.join(one, col("v") > col("mx") * 0.5))
    assert(kept.size == 20, kept)
  }

  test("a 1-row DOUBLE side that is null, NaN or infinite attaches under ANSI") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val values: Seq[Column] = Seq(lit(null), lit(Double.NaN), lit(Double.PositiveInfinity),
      lit(Double.NegativeInfinity))
    for (value <- values) {
      def side = spark.range(0, 3, 1, 2).agg(max(value.cast("double")).as("d"))
      assert(attachesHashed(many.crossJoin(side)).size == 40, value)
      attachesHashed(many.join(side, col("v") < col("d")))
    }
  }

  test("a 0-row global aggregate attaches to nothing") {
    val empty = one.where(col("n") < 0)
    assert(attachesHashed(many.crossJoin(empty)).isEmpty)
    val pruned = one.where(lit(false))
    assert(rows(many.crossJoin(pruned)).isEmpty)
    assert(withoutRule(rows(many.crossJoin(pruned))).isEmpty)
  }

  test("outer and semi joins, and joins of two multi-row sides, are left alone") {
    val other = spark.range(0, 5).select((col("id") * 7.0).as("w"))
    for (df <- Seq(
        many.join(one, col("v") > col("mx") * 0.5, "left_outer"),
        one.join(many, col("v") > col("mx") * 0.5, "right_outer"),
        many.join(one, col("v") > col("mx") * 0.5, "left_semi"),
        many.join(one, col("v") > col("mx") * 0.5, "left_anti"),
        many.join(other, col("v") > col("w")))) {
      assert(!keyed(df), df.queryExecution.optimizedPlan)
      assert(rows(df) == withoutRule(rows(df)))
    }
  }

  test("with the join guard armed, the 1-row TPC-DS texts build and run") {
    // each text attaches a 1-row aggregate by a comma join, which the rule
    // keys before the guard inspects the plan
    val texts = Seq("q_tpcds_q9", "q_tpcds_q44", "q_tpcds_q61", "q_tpcds_q77")
    spark.conf.set("spark.graft.joinGuard", "true")
    try {
      for (name <- texts)
        assert(SparkEntry.queries(name)(spark, TestSpark.sf0001).collect().nonEmpty, name)
      val e = intercept[Exception] {
        withoutRule(SparkEntry.queries("q_tpcds_q9")(spark, TestSpark.sf0001).collect())
      }
      assert(e.getMessage.contains("join guard"), e.getMessage)
    } finally spark.conf.unset("spark.graft.joinGuard")
  }
}
