package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. It takes the
  * engine's codegen-cache bound and local FileSystem from
  * [[graft.plans.SessionDefaults]] (both static for the JVM, so the first
  * session must set them) and graft's session extension from the same
  * entry the mains use, but not the join-strategy defaults, so the plans
  * the tests assert are unchanged. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config(graft.plans.SessionDefaults.codegenCache._1,
        graft.plans.SessionDefaults.codegenCache._2)
      .config(graft.plans.SessionDefaults.localFs._1,
        graft.plans.SessionDefaults.localFs._2)
      .config(graft.plans.SessionDefaults.extensions._1,
        graft.plans.SessionDefaults.extensions._2)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Job ids that `body` started, read after a fence job in another group
    * is visible — the status listener sees events in order, so every job
    * `body` started is visible by then too. */
  def jobsOf(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val (group, fence) = (s"catalog-${System.nanoTime}", s"fence-${System.nanoTime}")
    sc.setJobGroup(group, "construction under test")
    try body finally sc.clearJobGroup()
    sc.setJobGroup(fence, "listener fence")
    try spark.range(1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (sc.statusTracker.getJobIdsForGroup(fence).isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(fence).nonEmpty, "fence job never became visible")
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }
}
