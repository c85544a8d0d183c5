package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** The fixture-adapted TPC-H queries that keep a hand-written DataFrame
  * form. The other TPC-H shapes over the fixture tables (Q1, Q3–Q8, Q10,
  * Q13, Q14, Q18, Q19, Q21, Q22) are one SQL text each in
  * `SparkEntry.fixtureSql`, run by both engines. The reference generates
  * TPC-H data so engines can run this workload over it
  * (the reference's README.md:3-6); the fixture tables hold a column subset
  * (TESTDATA.md — no partsupp, no l_commitdate/l_receiptdate/l_shipmode/
  * p_container/c_phone), so a query whose published predicate needs a
  * missing column keeps the published plan shape with an adapted predicate
  * and says so.
  *
  * Shared scale rules: money stays DECIMAL until one final cast to DOUBLE;
  * ratios divide two exact sums as doubles; a scalar subquery attaches as a
  * 1-row broadcast HASH join, never a nested-loop cross join (PlanGuardSpec
  * forbids those).
  */
object Tpch {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)
  private def dec(c: Column, p: Int = 12, s: Int = 2): Column = c.cast(DecimalType(p, s))
  /** SUM input at DECIMAL(8,2) — p ≤ 8 keeps the sum on Catalyst's
    * DecimalAggregates long path; see graft.ops.Relational.dec8 for the
    * full exactness/overflow rationale (r18). */
  private def dec8(c: Column): Column = c.cast(DecimalType(8, 2))
  private val D = DoubleType
  /** volume = l_extendedprice * (1 - l_discount), exact. */
  private def vol: Column = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"), 4, 2))

  /** [Q-tpch-q15] TPC-H Q15 (top supplier): quarter revenue per supplier,
    * then the suppliers matching the scalar MAX. The scalar subquery is a
    * 1-row aggregate joined back by VALUE EQUALITY (total_revenue = max) —
    * an equi-key, so it plans as a broadcast HASH join, and because both
    * sides are exact DECIMAL the equality can't flap in the last ulp the
    * way a double max would across partitionings.
    *
    * Kept as a hand form: the text runs 1.45x its time at sf0.1 (hand 0.29 s,
    * text 0.42 s) and 1.35x at sf1 (hand 0.82 s, text 1.11 s): its revenue
    * CTE feeds both the MAX and the equality filter, and the Materialize
    * barrier computes it once. Paired cross-commit timing: min over 3
    * alternating JVMs per side of the median of 5 warm reps (3 at sf1, the
    * 10x fixture replica), local[4]. */
  def q_tpch_q15(s: SparkSession, d: String): DataFrame = {
    // r19: rev is read by both the max gate and the equality filter — the
    // optimizer specialized the two copies and the quarter's lineitem was
    // scanned twice per execution. The supplier-grain aggregate
    // materializes once (graft.plans.Materialize scaladoc;
    // plans/r19/q_tpch_q15_{before,after}.txt: lineitem 2 → 1 scans).
    val rev = graft.plans.Materialize.concurrently(Seq(t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1997-04-01").cast(TimestampType))
      .groupBy(col("l_suppkey"))
      .agg(sum(vol).as("total")))).head
    val mx = rev.agg(max(col("total")).as("mx"))
    rev.join(broadcast(mx), col("total") === col("mx"))
      .join(t(s, d, "supplier"), col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total").cast(D).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** [Q-tpch-q17] TPC-H Q17 (small-quantity-order revenue): the correlated
    * per-part average decorrelated into a keyed aggregate joined back on
    * p_partkey (both sides broadcast-small after the selective part
    * filter). Adapted predicate: no p_container in the fixture, so the
    * part slice is (p_brand, p_size); the threshold stays the published
    * 0.2 × avg(l_quantity), computed as exact-sum ÷ count.
    *
    * Kept as a hand form: the text runs 2.57x its time at sf0.1 (hand 0.28 s,
    * text 0.72 s) and 3.26x at sf1 (hand 0.70 s, text 2.28 s); with its sums
    * narrowed to DECIMAL(8,2) it still runs 1.26x (0.34 s / 0.43 s) and 2.19x
    * (0.83 s / 1.82 s). The per-part average is computed over the whole
    * lineitem before the part slice applies. Paired cross-commit timing: min
    * over 3-4 alternating JVMs per side of the median of 5-9 warm reps (3 at
    * sf1, the 10x fixture replica), local[4]. */
  def q_tpch_q17(s: SparkSession, d: String): DataFrame = {
    val pts = t(s, d, "part")
      .filter(col("p_brand") === "Brand#23" && col("p_size") <= 15)
      .select("p_partkey")
    val li = t(s, d, "lineitem")
      .join(broadcast(pts), col("l_partkey") === col("p_partkey"))
    val avgQ = li.groupBy(col("p_partkey").as("ap_key"))
      .agg((sum(dec8(col("l_quantity"))).cast(D) / count(lit(1))).as("avg_qty"))
    li.join(broadcast(avgQ), col("p_partkey") === col("ap_key"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((sum(dec8(col("l_extendedprice"))).cast(D) / lit(7.0)).as("avg_yearly"))
  }
}
