package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.SessionDefaults
import graft.tools.Diag

/** The parts of graft's mains that run before or without a session: Diag's
  * argument checks and name lists, the session factory's settings, and the
  * oracle slice Verify and `Diag dump` write. */
class DiagSpec extends AnyFunSuite {
  test("an unknown subcommand or missing arguments throw with the usage text") {
    for (args <- Seq(Seq(), Seq("bogus"), Seq("stats"), Seq("stats", "/d", "3"),
        Seq("stats", "/d", "x", "q_agg_moments"), Seq("stats", "/d", "3", "no_such_query"),
        Seq("confab", "/d", "3", "a=1", "b=2"), Seq("names"), Seq("names", "bogus"),
        Seq("gentime", "tpcds", "0.01"), Seq("gentime", "tpcds", "0.01", "4", "no_table"),
        Seq("warm"), Seq("controlcal", "15", "32"), Seq("dump", "/o"),
        Seq("dump", "/o", "--bogus", "q_tpcds_q1"), Seq("gendiff", "/d", "0.01", "item"))) {
      val e = intercept[IllegalArgumentException](Diag.parse(args))
      assert(e.getMessage.contains(Diag.usage), args)
    }
  }

  test("names lists the TpchFull queries, and the generated TPC-DS queries without the pinned twins") {
    assert(Diag.names("tpchfull") == ops.TpchFull.queries.keys.toSeq.sorted)
    val ds = Diag.names("tpcds-generated")
    assert(ds.nonEmpty && ds.forall(_.startsWith("q_tpcds_")) && ds == ds.sorted)
    assert(SparkEntry.pinnedScaleProofs.nonEmpty)
    assert(ds.toSet.intersect(SparkEntry.pinnedScaleProofs.toSet).isEmpty)
    assert(ds.toSet ++ SparkEntry.pinnedScaleProofs.filter(_.startsWith("q_tpcds_")) ==
      SparkEntry.queries.keys.filter(_.startsWith("q_tpcds_")).toSet)
  }

  test("the session factory sets every SessionDefaults default, and a -D property wins") {
    val set = SessionDefaults.settings(Nil).toMap
    SessionDefaults.defaults.foreach { case (k, v) => assert(set.get(k).contains(v), k) }
    assert(set.get("spark.sql.shuffle.partitions").contains(SessionDefaults.cpus))
    val key = "spark.sql.join.preferSortMergeJoin"
    sys.props(key) = "true"
    try {
      val keys = SessionDefaults.settings(Seq(key -> "false")).map(_._1)
      assert(!keys.contains(key), "a factory setting shadows the system property")
      assert(SessionDefaults.defaults.map(_._1).filterNot(_ == key).forall(keys.contains))
    } finally sys.props -= key
  }

  test("the oracle slice parses back exactly, and a top-up run keeps the earlier keys") {
    val out = java.nio.file.Files.createTempDirectory("graft_oracle_slice")
    val text = "SELECT 'a\tb\r\n\"c\" \\ d\u0001' AS x"
    val sql = Map("q_a" -> text, "q_b" -> "SELECT 2")
    java.nio.file.Files.createDirectories(out.resolve("q_a"))
    Verify.writeOracleSlice(out.toString, Seq("q_a"), sql)
    java.nio.file.Files.createDirectories(out.resolve("q_b"))
    Verify.writeOracleSlice(out.toString, Seq("q_b"), sql)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(out.resolve("oracle_sql.json").toFile)
    assert(json.size == 2)
    assert(json.get("q_a").asText == text)
    assert(json.get("q_b").asText == "SELECT 2")
  }
}
