package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. It takes the
  * engine's codegen-cache bound from [[graft.plans.SessionDefaults]] (a
  * static conf, so it must be set by the JVM's first session) but not the
  * join-strategy defaults, so the plans the tests assert are unchanged. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config(graft.plans.SessionDefaults.codegenCache._1,
        graft.plans.SessionDefaults.codegenCache._2)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
