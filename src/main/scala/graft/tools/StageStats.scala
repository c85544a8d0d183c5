package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Per-query attribution harness (optimization guide §1.1/§7.1: decide
  * whether time goes to compute, shuffle, or scheduling BEFORE changing
  * anything). For each named query: one untimed warm pass, then `reps`
  * timed passes; a SparkListener accumulates, across the LAST timed pass,
  * job/stage/task counts and the task-metric totals. Prints one line per
  * query:
  *
  *   wall      median wall-clock of the timed passes (seconds)
  *   jobs/stages/tasks   scheduling volume of one pass
  *   compiles  classes Janino compiled during the last timed pass (Spark's
  *             CodegenMetrics count) — repeats exactly run to run, so it
  *             is the low-noise counter for codegen claims; nonzero on a
  *             warm pass means the codegen cache lost the query's classes
  *             or the query's generated code changed between constructions
  *   trun      sum of task executorRunTime (s) — divide by cores for the
  *             perfectly-parallel floor; wall far above trun/cores means
  *             the query is dominated by driver/stage-barrier overhead,
  *             not by executor work (the local-mode tail signature)
  *   tcpu      sum of task executorCpuTime (s)
  *   gc        sum of task jvmGCTime (s)
  *   in        input bytes read (MB)
  *   sr/sw     shuffle read / write bytes (MB)
  *
  * Usage: runMain graft.tools.StageStats <sfDir> <reps> <queryName...>
  */
object StageStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt.max(1)
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.plans.SessionDefaults.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    object L extends SparkListener {
      var jobs, stages, tasks = 0L
      var runMs, cpuNs, gcMs, inB, srB, swB = 0L
      var enabled = false
      def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0; inB = 0; srB = 0; swB = 0 }
      override def onJobStart(j: SparkListenerJobStart): Unit = if (enabled) jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = if (enabled) stages += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (enabled && t.taskMetrics != null) {
        tasks += 1
        runMs += t.taskMetrics.executorRunTime
        cpuNs += t.taskMetrics.executorCpuTime
        gcMs += t.taskMetrics.jvmGCTime
        inB += t.taskMetrics.inputMetrics.bytesRead
        srB += t.taskMetrics.shuffleReadMetrics.totalBytesRead
        swB += t.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    }
    spark.sparkContext.addSparkListener(L)

    println(f"[stagestats] ${"query"}%-24s ${"wall"}%7s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s ${"compiles"}%8s ${"trun"}%8s ${"tcpu"}%8s ${"gc"}%6s ${"inMB"}%8s ${"srMB"}%8s ${"swMB"}%8s")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      def run(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm: codegen compile, file listing, gen-cache ensure
      var compiles = 0L
      val walls = (1 to reps).map { i =>
        val last = i == reps
        if (last) { L.reset(); L.enabled = true }
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val w = run()
        if (last) {
          compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
          // the listener bus is async (and its drain API is private) —
          // poll until the task counter stops moving before reading
          var prev = -1L
          while (L.tasks != prev) { prev = L.tasks; Thread.sleep(120) }
          L.enabled = false
        }
        w
      }.sorted
      val wall = walls(walls.size / 2)
      println(f"[stagestats] $n%-24s $wall%7.2f ${L.jobs}%5d ${L.stages}%5d ${L.tasks}%6d $compiles%8d ${L.runMs / 1e3}%8.2f ${L.cpuNs / 1e9}%8.2f ${L.gcMs / 1e3}%6.2f ${L.inB / 1e6}%8.1f ${L.srB / 1e6}%8.1f ${L.swB / 1e6}%8.1f")
    }
    spark.stop()
  }
}
