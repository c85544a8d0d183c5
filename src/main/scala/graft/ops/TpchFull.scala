package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.gen.TpchGen
import graft.schema.TpchSchemas

/** Published TPC-H shapes that need tables/columns BEYOND the driver fixture
  * subset — partsupp above all — run over graft-GENERATED full-schema TPC-H
  * parquet (reference schemas /root/reference/src/tpch.rs:140-241; same
  * generate-once cache pattern as [[Tpcds]]). Q2, Q9, Q11, Q16 and Q20 are
  * the five published queries whose plans hinge on partsupp: min-cost-
  * supplier decorrelation, the profit join chain, the value-threshold scalar
  * subquery, the complaint anti-join, and the nested-IN promotion chain.
  *
  * Same exactness rules as [[Tpch]]: DECIMAL until one final DOUBLE cast,
  * scalar subqueries as 1-row aggregates attached by a broadcast hash join
  * ([[graft.plans.SingleRowAttach]] keys the cross join), LIMIT only on a
  * total order. The DuckDB oracle reads the
  * SAME generated parquet via paths pinned to the driver's correctness
  * scale.
  *
  * Each query is one SQL text ([[texts]]), run by DuckDB as the oracle and
  * by Spark through [[TpcSql]]; a hand DataFrame form stays only where its
  * doc gives a measured or plan-guard reason. The texts keep the published
  * comma joins and carry no broadcast hints: Spark does not reorder a
  * hinted join, so a hint on a comma-joined table leaves a cross join
  * (measured: q2 and q9 planned BroadcastNestedLoopJoins with hints). */
object TpchFull {
  /** SUM input at DECIMAL(8,2) — the generated TPC-H columns are (11,2)
    * (reference schema), whose sums run on BigDecimal-backed (21,2)
    * buffers; p ≤ 8 keeps the sum on Catalyst's DecimalAggregates long
    * path. Exact for the TPC-H value domains (quantity ≤ 50, prices
    * < $1M, acctbal ±11k); an out-of-domain value throws loudly under
    * ANSI. See graft.ops.Relational.dec8 (r18). */
  private def dec8(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast(DecimalType(8, 2))

  /** Default root anchors the pinned oracle paths; the live cache follows
    * `spark.graft.cacheRoot` ([[graft.gen.GenCache.rootFor]]) so cluster
    * deployments can point it at a shared filesystem. */
  private val root = s"/tmp/graft_tpchfull/gen${TpchGen.genVersion}"

  def ensure(spark: SparkSession, sfDir: String): String = {
    val dir = graft.gen.GenCache.ensure(spark,
      graft.gen.GenCache.rootFor(spark, s"graft_tpchfull/gen${TpchGen.genVersion}"),
      sfDir) { (s, sf, tmp) =>
      TpchGen.generateParquet(s, sf, 16, tmp)
    }
    // partitions ∝ data (see ShuffleScale — the r14 sf100 Q72 OOM finding)
    graft.plans.ShuffleScale.tuneFor(spark, dir)
    dir
  }

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.Catalog.table(spark, s"$dir/$name.parquet", TpchSchemas.stored(name))
  private val D = DoubleType

  /** [Q-tpch-q11] TPC-H Q11 (important stock): national partsupp value
    * over a scalar fraction-of-total threshold. The total is summed from the
    * same part-grain aggregate and cross-joined as one broadcast row, a
    * hash join under [[graft.plans.SingleRowAttach]]; both sides stay
    * DECIMAL so the threshold comparison is exact.
    * Kept as a hand form: Materialize barrier (one partsupp scan instead of
    * two), and the text runs 1.10-1.15x its time at sf0.1 (medians of 5 and
    * 11 interleaved runs, local[4]). */
  def q_tpch_q11(s: SparkSession, d: String): DataFrame = {
    val dir = ensure(s, d)
    val de = t(s, dir, "partsupp")
      .join(t(s, dir, "supplier"), col("ps_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "GERMANY")),
        col("s_nationkey") === col("n_nationkey"))
      .withColumn("v", col("ps_supplycost") * col("ps_availqty"))
    // r19: the threshold total now derives from the part-grain aggregate
    // itself (Σ of per-part sums — identical exact decimal value) instead
    // of re-running the whole German partsupp pipeline, and the aggregate
    // materializes once (graft.plans.Materialize scaladoc) so the two
    // consumers cannot be re-specialized into two scans
    // (plans/r19/q_tpch_q11_{before,after}.txt: partsupp 2 → 1 scans).
    val grouped = graft.plans.Materialize.concurrently(Seq(
      de.groupBy(col("ps_partkey")).agg(sum(col("v")).as("value_d")))).head
    val thr = grouped
      .agg((sum(col("value_d")) * lit(BigDecimal("0.0001"))).as("thr"))
    grouped.crossJoin(broadcast(thr))
      .filter(col("value_d") > col("thr"))
      .select(col("ps_partkey"), col("value_d").cast(D).as("value"))
  }

  /** [Q-tpch-q17-full] TPC-H Q17 with the PUBLISHED part slice (Brand#23,
    * MED BOX) — the published-predicate twin of the fixture-adapted
    * [[Tpch.q_tpch_q17]] (the fixture has no p_container). Same
    * decorrelation: the per-part 20%-of-average quantity threshold is a
    * keyed aggregate joined back on partkey; the filtered part dim
    * broadcasts into both the aggregate and the probe so lineitem is
    * sliced before either shuffle. One final DOUBLE division by 7.0.
    * Kept as a hand form: the text (the published correlated per-part
    * average) runs 1.44x its time at sf0.1 (hand 0.31 s, text 0.44 s,
    * median of 5 interleaved runs, local[4]). */
  def q_tpch_q17_full(s: SparkSession, d: String): DataFrame = {
    val dir = ensure(s, d)
    val pf = t(s, dir, "part")
      .filter(col("p_brand") === "Brand#23" && col("p_container") === "MED BOX")
      .select("p_partkey")
    val li = t(s, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(broadcast(pf), col("l_partkey") === col("p_partkey"), "left_semi")
    val thr = li.groupBy(col("l_partkey").as("t_key"))
      .agg((sum(dec8(col("l_quantity"))).cast(D) / count(col("l_quantity")) * 0.2)
        .as("t_avg"))
    li.join(thr, col("l_partkey") === col("t_key"))
      .filter(col("l_quantity").cast(D) < col("t_avg"))
      .agg((sum(dec8(col("l_extendedprice"))).cast(D) / 7.0).as("avg_yearly"))
  }

  /** [Q-tpch-q22-full] TPC-H Q22 with the PUBLISHED phone-prefix country
    * codes — the twin of the fixture-adapted `q_tpch_q22` text in
    * [[graft.SparkEntry.fixtureSql]] (the fixture has no c_phone; the
    * generated one carries the spec's 'CC-nnn-nnn-nnnn' shape). The
    * positive-balance average over the 7-code cohort is cross-joined as one
    * broadcast row, a hash join under [[graft.plans.SingleRowAttach]]; NOT
    * EXISTS folds to LEFT ANTI on the customer key.
    * Kept as a hand form: the text runs 1.15x its time at sf0.1 (hand 0.25
    * s, text 0.28 s, median of 5 interleaved runs, local[4]). */
  def q_tpch_q22_full(s: SparkSession, d: String): DataFrame = {
    val dir = ensure(s, d)
    val codes = Seq("13", "31", "23", "29", "30", "18", "17")
    val cohort = t(s, dir, "customer")
      .withColumn("cntrycode", substring(col("c_phone"), 1, 2))
      .filter(col("cntrycode").isin(codes: _*))
      .select("c_custkey", "c_acctbal", "cntrycode")
    val avgBal = cohort.filter(col("c_acctbal") > 0)
      .agg((sum(dec8(col("c_acctbal"))).cast(D) / count(col("c_acctbal"))).as("ab"))
    cohort
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal").cast(D) > col("ab"))
      .join(t(s, dir, "orders").select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        sum(dec8(col("c_acctbal"))).cast(D).as("totacctbal"))
  }

  /** `name`'s text run on Spark over the fixture-matched generated cache. */
  private def sql(name: String)(s: SparkSession, d: String): DataFrame =
    TpcSql.dataFrame(s, sparkTexts(name), TpcSql.catalog(s, ensure(s, d),
      n => Option.when(TpchSchemas.tableNames.contains(n))(TpchSchemas.stored(n))))

  /** Every declared query runs its one text ([[TpcSql]]) unless it keeps a
    * hand-written form below. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    oracle.keys.map(n => n -> hand.getOrElse(n, sql(n) _)).toMap

  /** The hand-written forms that stay, each for the reason in its doc. */
  private[graft] val hand: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tpch_q11" -> q_tpch_q11,
    "q_tpch_q17_full" -> q_tpch_q17_full,
    "q_tpch_q22_full" -> q_tpch_q22_full)

  /** DuckDB oracle SQL over the SAME generated parquet, path-pinned to the
    * correctness gate's scale ([[TpcSql.oracleScale]]). */
  val oracle: Map[String, String] = texts(TpcSql.duckdb(root, TpcSql.oracleScale))
  private lazy val sparkTexts = texts(TpcSql.spark)

  /** Every declared query's one SQL text, written against `d` ([[TpcSql]]). */
  private def texts(d: TpcSql.Dialect): Map[String, String] = {
    import d.P
    Map(
    // [Q-tpch-q2] TPC-H Q2 (minimum-cost supplier): Spark decorrelates the
    // correlated MIN subquery over region-local partsupp into a min
    // aggregate per part, joined back on (partkey, exact DECIMAL cost
    // equality). Top-100 on the published total order.
    "q_tpch_q2" ->
      s"""SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
         | p_partkey, p_mfgr, s_address, s_phone, s_comment
         |FROM ${P("part")}, ${P("supplier")}, ${P("partsupp")}, ${P("nation")}, ${P("region")}
         |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
         | AND p_size = 15 AND p_type LIKE '%BRASS'
         | AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         | AND r_name = 'EUROPE'
         | AND ps_supplycost = (
         |  SELECT min(ps_supplycost)
         |  FROM ${P("partsupp")} ps2, ${P("supplier")} s2, ${P("nation")} n2, ${P("region")} r2
         |  WHERE p_partkey = ps2.ps_partkey AND s2.s_suppkey = ps2.ps_suppkey
         |   AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
         |   AND r2.r_name = 'EUROPE')
         |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,
    // [Q-tpch-q9] TPC-H Q9 (product-type profit): the profit join chain —
    // lineitem ⋈ partsupp on the composite (partkey, suppkey) PK is the one
    // fact⋈fact shuffle; profit = revenue − supply cost stays DECIMAL until
    // the final cast.
    "q_tpch_q9" ->
      s"""SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
         |FROM (
         | SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
         |  l_extendedprice * (1 - l_discount) - ps_supplycost * l_quantity AS amount
         | FROM ${P("part")}, ${P("supplier")}, ${P("lineitem")}, ${P("partsupp")},
         |  ${P("orders")}, ${P("nation")}
         | WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
         |  AND ps_partkey = l_partkey AND p_partkey = l_partkey
         |  AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
         |  AND p_name LIKE '%blue%') profit
         |GROUP BY nation, o_year""".stripMargin,
    "q_tpch_q11" ->
      s"""SELECT ps_partkey, CAST(sum(ps_supplycost * ps_availqty) AS DOUBLE) AS value
         |FROM ${P("partsupp")}, ${P("supplier")}, ${P("nation")}
         |WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
         | AND n_name = 'GERMANY'
         |GROUP BY ps_partkey
         |HAVING sum(ps_supplycost * ps_availqty) > (
         | SELECT sum(ps_supplycost * ps_availqty) * 0.0001
         | FROM ${P("partsupp")}, ${P("supplier")}, ${P("nation")}
         | WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
         |  AND n_name = 'GERMANY')""".stripMargin,
    // [Q-tpch-q16] TPC-H Q16 (parts/supplier relationship): excluded-brand
    // part slice, complaint suppliers removed by a broadcast ANTI join, then a
    // distinct-supplier count per (brand, type, size).
    "q_tpch_q16" ->
      s"""SELECT p_brand, p_type, p_size,
         | count(DISTINCT ps_suppkey) AS supplier_cnt
         |FROM ${P("partsupp")}, ${P("part")}
         |WHERE p_partkey = ps_partkey AND p_brand <> 'Brand#45'
         | AND p_type NOT LIKE 'MEDIUM POLISHED%'
         | AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
         | AND ps_suppkey NOT IN (
         |  SELECT s_suppkey FROM ${P("supplier")}
         |  WHERE s_comment LIKE '%ironic%requests%')
         |GROUP BY p_brand, p_type, p_size""".stripMargin,
    // [Q-tpch-q20] TPC-H Q20 (potential part promotion): the nested-IN chain —
    // suppliers whose stock of forest parts exceeds half a year's shipments.
    "q_tpch_q20" ->
      s"""SELECT s_name, s_address FROM ${P("supplier")}, ${P("nation")}
         |WHERE s_suppkey IN (
         |  SELECT ps_suppkey FROM ${P("partsupp")}
         |  WHERE ps_partkey IN (
         |    SELECT p_partkey FROM ${P("part")} WHERE p_name LIKE 'almond%')
         |  AND ps_availqty > (
         |    SELECT 0.5 * sum(l_quantity) FROM ${P("lineitem")}
         |    WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey))
         | AND s_nationkey = n_nationkey AND n_name = 'CANADA'
         |ORDER BY s_name""".stripMargin,
    // [Q-tpch-q12] TPC-H Q12 (shipping modes and order priority), PUBLISHED
    // predicates — the last of the 22 published TPC-H queries to land, now
    // that the generator carries l_shipmode/l_commitdate/l_receiptdate
    // (reference cols src/tpch.rs:215-218).
    "q_tpch_q12" ->
      s"""SELECT l_shipmode,
         | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         | CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
         |   THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         |FROM ${P("orders")}, ${P("lineitem")}
         |WHERE o_orderkey = l_orderkey AND l_shipmode IN ('MAIL', 'SHIP')
         | AND l_commitdate < l_receiptdate AND l_shipdate < l_commitdate
         | AND l_receiptdate >= DATE '1994-01-01'
         | AND l_receiptdate < DATE '1995-01-01'
         |GROUP BY l_shipmode""".stripMargin,
    // [Q-tpch-q4-full] TPC-H Q4 with the PUBLISHED late-line predicate
    // (l_commitdate < l_receiptdate) over the generated full-schema parquet —
    // the published-predicate twin of the fixture-adapted `q_tpch_q4` text
    // in [[graft.SparkEntry.fixtureSql]].
    "q_tpch_q4_full" ->
      s"""SELECT o_orderpriority, count(*) AS order_count FROM ${P("orders")}
         |WHERE o_orderdate >= DATE '1993-07-01'
         | AND o_orderdate < DATE '1993-10-01'
         | AND EXISTS (SELECT 1 FROM ${P("lineitem")}
         |  WHERE l_orderkey = o_orderkey AND l_commitdate < l_receiptdate)
         |GROUP BY o_orderpriority""".stripMargin,
    // [Q-tpch-q21-full] TPC-H Q21 with the PUBLISHED fault predicate
    // (l_receiptdate > l_commitdate) and nation/status filters — the twin of
    // the fixture-adapted `q_tpch_q21` text (SparkEntry.fixtureSql); the
    // published correlated EXISTS (another supplier) AND NOT EXISTS (another
    // faulty supplier) decorrelate to semi/anti joins on the order key.
    "q_tpch_q21_full" ->
      s"""SELECT s_name, count(*) AS numwait
         |FROM ${P("lineitem")} l1, ${P("orders")}, ${P("supplier")}, ${P("nation")}
         |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
         | AND o_orderstatus = 'F' AND l1.l_receiptdate > l1.l_commitdate
         | AND EXISTS (SELECT 1 FROM ${P("lineitem")} l2
         |  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
         | AND NOT EXISTS (SELECT 1 FROM ${P("lineitem")} l3
         |  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
         |   AND l3.l_receiptdate > l3.l_commitdate)
         | AND s_nationkey = n_nationkey AND n_name = 'SAUDI ARABIA'
         |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    // the oracle keeps the published CORRELATED per-part average
    "q_tpch_q17_full" ->
      s"""SELECT CAST(sum(l_extendedprice) AS DOUBLE) / 7.0 AS avg_yearly
         |FROM ${P("lineitem")} l1, ${P("part")}
         |WHERE p_partkey = l1.l_partkey AND p_brand = 'Brand#23'
         | AND p_container = 'MED BOX'
         | AND CAST(l1.l_quantity AS DOUBLE) < (
         |  SELECT CAST(sum(l2.l_quantity) AS DOUBLE) / count(l2.l_quantity) * 0.2
         |  FROM ${P("lineitem")} l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,
    // [Q-tpch-q19-full] TPC-H Q19 with the PUBLISHED three-branch disjunction
    // (brand × container-class × quantity band × size band × air shipping, in
    // person) — the twin of the fixture-adapted `q_tpch_q19` text in
    // [[graft.SparkEntry.fixtureSql]].
    "q_tpch_q19_full" ->
      s"""SELECT CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS revenue
         |FROM ${P("lineitem")}, ${P("part")}
         |WHERE p_partkey = l_partkey
         | AND l_shipmode IN ('AIR', 'REG AIR')
         | AND l_shipinstruct = 'DELIVER IN PERSON'
         | AND ((p_brand = 'Brand#12'
         |   AND p_container IN ('SM CASE', 'SM BOX', 'SM PACK', 'SM PKG')
         |   AND l_quantity >= 1 AND l_quantity <= 11
         |   AND p_size BETWEEN 1 AND 5)
         |  OR (p_brand = 'Brand#23'
         |   AND p_container IN ('MED BAG', 'MED BOX', 'MED PKG', 'MED PACK')
         |   AND l_quantity >= 10 AND l_quantity <= 20
         |   AND p_size BETWEEN 1 AND 10)
         |  OR (p_brand = 'Brand#34'
         |   AND p_container IN ('LG CASE', 'LG BOX', 'LG PACK', 'LG PKG')
         |   AND l_quantity >= 20 AND l_quantity <= 30
         |   AND p_size BETWEEN 1 AND 15))""".stripMargin,
    "q_tpch_q22_full" ->
      s"""SELECT cntrycode, count(*) AS numcust,
         | CAST(sum(c_acctbal) AS DOUBLE) AS totacctbal
         |FROM (
         | SELECT substr(c_phone, 1, 2) AS cntrycode, c_acctbal, c_custkey
         | FROM ${P("customer")}
         | WHERE substr(c_phone, 1, 2) IN ('13','31','23','29','30','18','17')
         |  AND CAST(c_acctbal AS DOUBLE) > (
         |   SELECT CAST(sum(c_acctbal) AS DOUBLE) / count(c_acctbal)
         |   FROM ${P("customer")}
         |   WHERE c_acctbal > 0
         |    AND substr(c_phone, 1, 2) IN ('13','31','23','29','30','18','17'))
         |  AND NOT EXISTS (SELECT 1 FROM ${P("orders")}
         |   WHERE o_custkey = c_custkey)) c
         |GROUP BY cntrycode""".stripMargin)
  }
}
