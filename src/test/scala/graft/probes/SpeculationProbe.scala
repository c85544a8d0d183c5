package graft.probes

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Speculative-execution compatibility probe (r16).
  *
  * A 1000-executor fleet runs with `spark.speculation=true` — stragglers
  * get a DUPLICATE attempt racing the original, and either may win. This
  * probe proves what ONE box can prove about that mode:
  *
  *  1. with speculation ON and the scheduler actively ENGAGING (tasks
  *     marked speculatable + SpeculativeTaskSubmitted events — asserted
  *     via listener), query results and generation writes remain
  *     row-for-row identical to clean runs;
  *  2. the straggler-detection machinery fires against REAL graft work
  *     (a planted 8 ms/row crawler in shuffle map stages and in a
  *     parquet write), i.e. the engine's task shapes don't starve or
  *     confuse the detector.
  *
  * What one box can NOT prove — measured, not assumed: the scheduler
  * only LAUNCHES a speculative copy on a different HOST than the
  * original attempt (TaskSetManager's hasAttemptOnHost exclusion), and
  * every local-cluster executor shares `localhost`, so the duplicate
  * never launches here (the probe's diagnostic run showed 30 "Marking
  * task ... as speculatable" decisions and 0 launches). The
  * attempt-interchangeability half of the story is covered from the
  * other side by RetryProbe (a second ATTEMPT of the same task, after a
  * failure, yields bit-identical output) and ExecutorLossProbe (map
  * outputs recomputed wholesale) — what speculation adds on a real
  * fleet is only WHEN the second attempt starts, not what it computes.
  *
  * Runs `local-cluster[4,4,2048]` — speculation is a cluster-scheduler
  * feature; local mode never starts the speculation thread.
  *
  * Cross-JVM notes: arming is carried by the PRESENCE of [[SlowOnceExec]]
  * in the plan / a closure-captured flag (executor statics are separate
  * JVMs), and "the straggler actually fired" is attested by a marker file
  * on the shared local FS.
  *
  * Spawned by RobustnessSpec; also runnable by hand (no `sbt package`
  * needed — executors inherit this JVM's classpath).
  */
object SpeculationProbe {
  @volatile var armed = false

  /** Slow-walk partition 0's FIRST attempt (~8 ms/row), touching `marker`
    * on the first row; speculative attempts (attemptNumber > 0) and every
    * other partition stream untouched. */
  def slowIterator[T](it: Iterator[T], marker: String): Iterator[T] = {
    val tc = TaskContext.get()
    if (tc == null || tc.partitionId() != 0 || tc.attemptNumber() > 0) it
    else new Iterator[T] {
      private var touched = false
      def hasNext: Boolean = {
        // attest injection on the first CALL, not the first row — an
        // empty partition 0 must not read as "never fired"
        if (!touched) {
          touched = true
          try java.nio.file.Files.createFile(java.nio.file.Paths.get(marker))
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
        }
        it.hasNext
      }
      def next(): T = { Thread.sleep(8); it.next() }
    }
  }

  /** Physical slow-walk operator planted under shuffle exchanges (same
    * insertion point as RetryProbe's FailOnceExec) so the straggler is a
    * shuffle MAP task whose speculative copy's output downstream stages
    * may fetch. */
  case class SlowOnceExec(child: SparkPlan, marker: String) extends UnaryExecNode {
    override def output = child.output
    override def outputPartitioning = child.outputPartitioning
    override def outputOrdering = child.outputOrdering
    override protected def doExecute(): RDD[InternalRow] = {
      val m = marker // closure-capture: statics don't cross the JVM seam
      child.execute().mapPartitions(it => slowIterator(it, m))
    }
    override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
      copy(child = c)
  }

  @volatile var markerPath: String = ""
  case class SlowOnceRule() extends Rule[SparkPlan] {
    def apply(plan: SparkPlan): SparkPlan =
      if (!armed) plan
      else {
        val m = markerPath
        plan.transformUp {
          case ex: ShuffleExchangeExec if !ex.child.isInstanceOf[SlowOnceExec] =>
            ex.withNewChildren(Seq(SlowOnceExec(ex.child, m))).asInstanceOf[SparkPlan]
        }
      }
  }

  private def fingerprint(rows: Array[Row]): Seq[String] =
    rows.map(r => r.toSeq.map {
      case null => "∅"
      case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
      case f: Float => java.lang.Float.floatToRawIntBits(f).toString
      case x => x.toString
    }.mkString("|")).sorted.toSeq

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_tpcds_q23")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local-cluster[4,4,2048]")
      .appName("graft-speculation-probe")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // aggressive speculation: a straggler 1.05x over the 25th-percentile
      // runtime gets a duplicate attempt within 100 ms
      .config("spark.speculation", "true")
      .config("spark.speculation.interval", "100ms")
      .config("spark.speculation.multiplier", "1.05")
      .config("spark.speculation.quantile", "0.25")
      // tiny fixture scans AQE-coalesce to 1-task map stages, which the
      // quantile path can never speculate (no peer median) — the duration
      // threshold covers them; and the 3.4+ efficiency gate is off so the
      // probe exercises the pure duration race deterministically
      .config("spark.speculation.task.duration.threshold", "2s")
      .config("spark.speculation.efficiency.enabled", "false")
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .withExtensions(e => e.injectQueryStagePrepRule(_ => SlowOnceRule()))
      .getOrCreate()
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("GRAFT_PROBE_LOGLEVEL", "WARN"))
    val launched = new AtomicInteger(0)  // 0 on one box (host exclusion)
    val submitted = new AtomicInteger(0) // scheduler ENGAGED: must be > 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo != null && e.taskInfo.speculative)
          launched.incrementAndGet()
      override def onSpeculativeTaskSubmitted(
          e: org.apache.spark.scheduler.SparkListenerSpeculativeTaskSubmitted): Unit =
        submitted.incrementAndGet()
    })
    val scratch = java.nio.file.Files.createTempDirectory("graft_spec_probe")
    try {
      // ---- leg 1: shuffle-heavy declared query under a straggler race ----
      armed = false
      val clean = fingerprint(graft.SparkEntry.queries(name)(spark, sfDir).collect())
      markerPath = scratch.resolve("slow_query").toString
      armed = true
      val raced = fingerprint(graft.SparkEntry.queries(name)(spark, sfDir).collect())
      armed = false
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(markerPath)),
        "query leg: the straggler injection never fired")
      require(clean == raced,
        s"query leg $name DIVERGED under speculation: ${clean.size} vs ${raced.size} rows; " +
          s"first diff: ${clean.zip(raced).find(p => p._1 != p._2)}")
      println(s"SPEC QUERY OK query=$name rows=${clean.size} " +
        s"speculative_submitted=${submitted.get()} launched=${launched.get()}")

      // ---- leg 2: generation write — exactly-one-attempt commit ----
      val df = graft.gen.TpcdsGen.table(spark, "store_sales", 0.001, 8)
      df.write.mode("overwrite").parquet(s"$scratch/clean")
      val genMarker = scratch.resolve("slow_gen").toString
      val crawling = spark.createDataFrame(
        df.rdd.mapPartitions(it => slowIterator(it, genMarker)), df.schema)
      crawling.write.mode("overwrite").parquet(s"$scratch/raced")
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(genMarker)),
        "generation leg: the straggler injection never fired")
      val a = spark.read.parquet(s"$scratch/clean")
      val b = spark.read.parquet(s"$scratch/raced")
      val (na, nb) = (a.count(), b.count())
      val extraA = a.exceptAll(b).count()
      val extraB = b.exceptAll(a).count()
      require(na == nb && extraA == 0 && extraB == 0,
        s"generation DIVERGED (or double-committed) under speculation: " +
          s"$na vs $nb rows, cleanOnly=$extraA racedOnly=$extraB")
      require(submitted.get() > 0,
        "the scheduler never engaged speculation — the straggler was invisible")
      println(s"SPEC GEN OK rows=$na speculative_submitted=${submitted.get()} " +
        s"launched=${launched.get()}")
    } finally spark.stop()
  }
}
