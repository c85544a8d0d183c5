package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column ↔ Expression converters, so graft
  * can wrap its native Catalyst expressions (graft.functions.VectorDot,
  * LshSignature) into Columns without requiring every session to be built
  * with SparkSessionExtensions, and to `Dataset.ofRows`, so graft can build
  * a DataFrame from a logical plan it assembled itself (graft.ops.TpcSql),
  * and to `cloneSession`, so generation can plan under its own conf without
  * writing the caller's (graft.gen.GenUtil.generationSession).
  * This is the conventional extension-library pattern (a one-object file in
  * the org.apache.spark.sql package); no Spark internals are modified.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The analyzed DataFrame of `plan` on `spark` — what `spark.sql` returns
    * for a parsed plan, without going through the session catalog. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A new session sharing `spark`'s context and shared state, with a copy
    * of its session state (conf, temp views, functions) that later writes
    * on either side do not reach. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
