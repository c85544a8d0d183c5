package graft.probes

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Whole-EXECUTOR-loss robustness probe (r15 verdict #2).
  *
  * RetryProbe proves fail-once TASK retries bit-deterministic — but a
  * 1000-executor run loses whole JVMs, which is a strictly harsher event:
  * every concurrently-running task on the executor dies, and (with no
  * external shuffle service, the common K8s/standalone posture) every
  * shuffle MAP OUTPUT the executor held is gone, forcing parent-stage
  * recomputation via FetchFailed, not just a task re-run.
  *
  * This main runs `local-cluster[4,8,4096]` — four REAL executor JVMs —
  * and `Runtime.halt()`s one of them mid-task, exactly once per leg:
  *
  *  1. QUERY leg — the declared shuffle-heavy q_tpcds_q23 (same target as
  *     RetryProbe): a query-stage prep rule plants [[KillOnceExec]] under
  *     every shuffle exchange; the first partition-0 map task to win an
  *     atomic marker-file create yields ~50 real rows, then halts its JVM
  *     (exit 137 — no shutdown hooks, like an OOM-kill). Spark must
  *     reschedule the dead executor's tasks AND regenerate its lost map
  *     outputs; the result must equal a clean run cell-exact (raw double
  *     bits included).
  *  2. GENERATION leg — TpcdsGen store_sales written to parquet with the
  *     same kill-once wrapper: the commit protocol must discard the dead
  *     executor's partial task files; output must equal a clean write.
  *
  * "The kill actually happened" is attested two ways: the marker file
  * exists (created microseconds before halt) AND the driver observed an
  * ExecutorRemoved event. Exit 0 = both legs complete + cell-exact.
  * Spawned by RobustnessSpec; also runnable by hand (no `sbt package`
  * needed — executors inherit this JVM's classpath).
  */
object ExecutorLossProbe {
  /** Driver-side arming switch. NOTE: executors are SEPARATE JVMs here, so
    * unlike RetryProbe this flag must be captured into task closures at
    * plan time — a static read on the executor would see the default. */
  @volatile var armed = false
  @volatile var markerPath: String = ""

  /** Yields up to `rows` real rows in partition 0, then halts the executor
    * JVM — but only for the ONE task that atomically creates `marker`
    * (all local-cluster JVMs share the local FS, so createFile is the
    * cross-JVM election; retries and other executors stream through). */
  private def killOnceIterator[T](it: Iterator[T], marker: String,
                                  rows: Int): Iterator[T] = {
    val tc = TaskContext.get()
    if (tc == null || tc.partitionId() != 0 || marker.isEmpty) it
    else new Iterator[T] {
      private var n = 0
      private var done = false
      def hasNext: Boolean = {
        // fire after `rows` real rows, or at end-of-input for partitions
        // smaller than that (still mid-task: the task has not committed)
        // — otherwise a scale whose partition-0 map tasks all carry ≤rows
        // rows would never kill and the probe would false-red
        if (!done && (n >= rows || !it.hasNext)) {
          done = true
          val won =
            try { java.nio.file.Files.createFile(
              java.nio.file.Paths.get(marker)); true }
            catch { case _: java.nio.file.FileAlreadyExistsException => false }
          if (won) Runtime.getRuntime.halt(137) // executor dies NOW
        }
        it.hasNext
      }
      def next(): T = { n += 1; it.next() }
    }
  }

  /** Physical kill-once operator planted under shuffle exchanges, so the
    * death lands in a shuffle MAP task whose outputs the stage needs. */
  case class KillOnceExec(child: SparkPlan, marker: String) extends UnaryExecNode {
    override def output = child.output
    override def outputPartitioning = child.outputPartitioning
    override def outputOrdering = child.outputOrdering
    override protected def doExecute(): RDD[InternalRow] = {
      val m = marker // closure-capture: statics don't cross the JVM seam
      child.execute().mapPartitions(it => killOnceIterator(it, m, 50))
    }
    override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
      copy(child = c)
  }

  case class KillOnceRule() extends Rule[SparkPlan] {
    def apply(plan: SparkPlan): SparkPlan =
      if (!armed) plan
      else {
        val m = markerPath
        plan.transformUp {
          case ex: ShuffleExchangeExec if !ex.child.isInstanceOf[KillOnceExec] =>
            ex.withNewChildren(Seq(KillOnceExec(ex.child, m))).asInstanceOf[SparkPlan]
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
      .master("local-cluster[4,8,4096]")
      .appName("graft-executor-loss-probe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // executors load graft classes straight off this JVM's classpath
      // (same box) — no `sbt package` prerequisite for the spec rung
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .withExtensions(e => e.injectQueryStagePrepRule(_ => KillOnceRule()))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val removed = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
        removed.incrementAndGet()
    })
    val scratch = java.nio.file.Files.createTempDirectory("graft_exec_loss")
    try {
      // ---- leg 1: shuffle-heavy declared query, executor death mid-map ----
      armed = false
      val clean = fingerprint(graft.SparkEntry.queries(name)(spark, sfDir).collect())
      markerPath = scratch.resolve("kill_query").toString
      armed = true
      val killed = fingerprint(graft.SparkEntry.queries(name)(spark, sfDir).collect())
      armed = false
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(markerPath)),
        "query leg: the executor kill never fired")
      require(clean == killed,
        s"query leg $name DIVERGED after executor loss: ${clean.size} vs " +
          s"${killed.size} rows; first diff: ${clean.zip(killed).find(p => p._1 != p._2)}")
      println(s"EXECLOSS QUERY OK query=$name rows=${clean.size} " +
        s"executors_removed=${removed.get()}")

      // ---- leg 2: generation write, executor death mid-write ----
      val df = graft.gen.TpcdsGen.table(spark, "store_sales", 0.001, 8)
      df.write.mode("overwrite").parquet(s"$scratch/clean")
      val genMarker = scratch.resolve("kill_gen").toString
      val failing = spark.createDataFrame(
        df.rdd.mapPartitions(it => killOnceIterator(it, genMarker, 100)), df.schema)
      failing.write.mode("overwrite").parquet(s"$scratch/killed")
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(genMarker)),
        "generation leg: the executor kill never fired")
      val a = spark.read.parquet(s"$scratch/clean")
      val b = spark.read.parquet(s"$scratch/killed")
      val (na, nb) = (a.count(), b.count())
      val extraA = a.exceptAll(b).count()
      val extraB = b.exceptAll(a).count()
      require(na == nb && extraA == 0 && extraB == 0,
        s"generation DIVERGED after executor loss: $na vs $nb rows, " +
          s"cleanOnly=$extraA killedOnly=$extraB")
      // ExecutorRemoved is delivered on Spark's ASYNC listener bus — poll
      // with a timeout instead of asserting right after the write returns
      // (r16 ADVICE: a slow bus could flakily read 0/1 here even though the
      // marker files above already attest both kills fired).
      val deadline = System.currentTimeMillis() + 30000
      while (removed.get() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      require(removed.get() >= 2,
        s"expected >=2 ExecutorRemoved events (one per leg), saw ${removed.get()} " +
          "after a 30s listener-bus drain")
      println(s"EXECLOSS GEN OK rows=$na executors_removed=${removed.get()}")
    } finally spark.stop()
  }
}
