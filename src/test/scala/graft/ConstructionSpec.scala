package graft

import org.scalatest.funsuite.AnyFunSuite

/** Query construction reads the session it is given, not whichever
  * session happens to be active on the thread. */
class ConstructionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("long-cents money sums check ANSI mode on the session the query is built on") {
    val other = spark.newSession()
    other.conf.set("spark.sql.ansi.enabled", "false")
    assert(org.apache.spark.sql.SparkSession.active ne other)
    val e = intercept[IllegalArgumentException](
      graft.ops.Tpcds.q_tpcds_q93(other, TestSpark.sf0001))
    assert(e.getMessage.contains("spark.sql.ansi.enabled=true"), e.getMessage)
    // the active session has ANSI on and still builds the query
    graft.ops.Tpcds.q_tpcds_q93(spark, TestSpark.sf0001)
  }

  test("constructing q_tpcds_q1 registers no temp view") {
    def views = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = views
    graft.ops.Tpcds.q_tpcds_q1(spark, TestSpark.sf0001)
    assert(views == before)
  }
}
