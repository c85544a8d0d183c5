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
    // the SQL-text queries sum long cents too and check the same way
    val e2 = intercept[IllegalArgumentException](
      SparkEntry.queries("q_tpcds_q45")(other, TestSpark.sf0001))
    assert(e2.getMessage.contains("spark.sql.ansi.enabled=true"), e2.getMessage)
    // the active session has ANSI on and still builds the query
    graft.ops.Tpcds.q_tpcds_q93(spark, TestSpark.sf0001)
  }

  test("constructing q1 and SQL-text TPC queries runs no job, leaves views and conf") {
    def views = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    // q1: hand form; q45: IN-subquery under an OR; q54: CTEs, scalar
    // subqueries and IN-subqueries; q41_pub: a twin pinned to the sf1
    // cache; q_text_bm25: a fixture hand form whose corpus statistics are
    // scalar subqueries
    val names = Seq("q_tpcds_q1", "q_tpcds_q45", "q_tpcds_q54", "q_tpcds_q41_pub", "q_text_bm25")
    assert(names.tail.forall(n => !graft.ops.Tpcds.hand.contains(n)))
    def build(): Unit = names.foreach(n => SparkEntry.queries(n)(spark, TestSpark.sf0001))
    val v0 = views
    build() // warm: generation caches, schemas, shuffle sizing
    assert(views == v0)
    // warm, construction itself reads only: no job, no view, no conf write
    val c0 = spark.conf.getAll
    assert(TestSpark.jobsOf(build()) == Nil)
    assert(views == v0)
    assert(spark.conf.getAll == c0)
  }

  test("building every declared query leaves the session with no temp view") {
    val fresh = spark.newSession()
    SparkEntry.queries.values.foreach(_(fresh, TestSpark.sf0001))
    val views = fresh.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
    assert(views.isEmpty, s"temp views left behind: ${views.mkString(", ")}")
  }
}
