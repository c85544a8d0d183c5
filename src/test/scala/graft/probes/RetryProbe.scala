package graft.probes

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Task-retry determinism probe (r13 verdict #2): every committed scale
  * claim so far pinned `taskRetries=0`, so "generation and queries are
  * deterministic under retries" was asserted by construction (hash-based,
  * no `rand()`), never demonstrated. A 100 TB run loses tasks constantly.
  *
  * This main runs in its OWN JVM with `master=local[16,2]` (the second
  * slot is `spark.task.maxFailures` in local mode) and injects a
  * FAIL-ONCE task failure into real work, then asserts the retried run's
  * output is row-for-row identical to a clean run:
  *
  *  1. QUERY leg — the declared shuffle-heavy q_tpcds_q23: a query-stage
  *     prep rule wraps the child of EVERY shuffle exchange, and partition
  *     0 of each map stage yields ~50 real rows then throws on attempt 0
  *     — a mid-stream SHUFFLE MAP task death, the exact case where a
  *     nondeterministic recompute would feed downstream different data.
  *     The retried attempt (attempt 1) passes through.
  *  2. GENERATION leg — TpcdsGen store_sales written to parquet with the
  *     same mid-stream fail-once wrapper on the write task: attempt 0 of
  *     partition 0 dies after ~100 rows (partial task files must be
  *     discarded by the commit protocol), attempt 1 regenerates.
  *
  * Both legs require the injection to have actually fired (a static
  * counter — same JVM in local mode). Exit 0 = both legs identical;
  * any divergence or a never-fired injection exits nonzero.
  * Spawned by RobustnessSpec; also runnable by hand. */
object RetryProbe {
  val injected = new AtomicInteger(0)
  @volatile var armed = false

  /** Yields up to `rows` real rows, then throws — but only on the task's
    * FIRST attempt; retries stream through untouched. */
  private def failOnceIterator[T](it: Iterator[T], rows: Int): Iterator[T] = {
    val tc = TaskContext.get()
    if (tc == null || tc.partitionId() != 0 || tc.attemptNumber() > 0) it
    else new Iterator[T] {
      private var n = 0
      def hasNext: Boolean = {
        if (n >= rows || !it.hasNext) {
          injected.incrementAndGet()
          throw new RuntimeException(
            s"graft injected task failure (attempt 0, after $n rows)")
        }
        true
      }
      def next(): T = { n += 1; it.next() }
    }
  }

  /** Physical fail-once operator; inserted under shuffle exchanges by
    * [[FailOnceRule]] so the death lands in shuffle MAP tasks. */
  case class FailOnceExec(child: SparkPlan) extends UnaryExecNode {
    override def output = child.output
    override def outputPartitioning = child.outputPartitioning
    override def outputOrdering = child.outputOrdering
    override protected def doExecute(): RDD[InternalRow] =
      child.execute().mapPartitions { it =>
        if (armed) failOnceIterator(it, 50) else it
      }
    override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
      copy(child = c)
  }

  case class FailOnceRule() extends Rule[SparkPlan] {
    def apply(plan: SparkPlan): SparkPlan =
      if (!armed) plan
      else plan.transformUp {
        case ex: ShuffleExchangeExec if !ex.child.isInstanceOf[FailOnceExec] =>
          ex.withNewChildren(Seq(FailOnceExec(ex.child))).asInstanceOf[SparkPlan]
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
    val spark = SparkSession.builder()
      .master("local[16,2]") // 16 threads, task maxFailures = 2
      .appName("graft-retry-probe")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(e => e.injectQueryStagePrepRule(_ => FailOnceRule()))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // ---- leg 1: shuffle-heavy declared queries, map-task death ----
      // default q_tpcds_q23; pass query names to probe others (r15 added
      // this to re-prove the rewired Q67 leaf-agg+rollup shape)
      val names = if (args.nonEmpty) args.toSeq else Seq("q_tpcds_q23")
      val sfDir = "/root/testdata/sf0.001"
      for (name <- names) {
        armed = false
        val clean = fingerprint(graft.SparkEntry.queries(name)(spark, sfDir).collect())
        armed = true
        val before = injected.get()
        val retried = fingerprint(graft.SparkEntry.queries(name)(spark, sfDir).collect())
        armed = false
        val qInject = injected.get() - before
        require(qInject > 0, s"query leg $name: the injected failure never fired")
        require(clean == retried,
          s"query leg $name DIVERGED under task retry: clean ${clean.size} rows vs ${retried.size}; " +
            s"first diff: ${clean.zip(retried).find(p => p._1 != p._2)}")
        println(s"RETRY QUERY OK query=$name rows=${clean.size} injected=$qInject")
      }

      // ---- leg 2: generation write, mid-stream task death ----
      val out = java.nio.file.Files.createTempDirectory("graft_retry_gen").toString
      val df = graft.gen.TpcdsGen.table(spark, "store_sales", 0.001, 8)
      df.write.mode("overwrite").parquet(s"$out/clean")
      val failing = spark.createDataFrame(
        df.rdd.mapPartitions(it => failOnceIterator(it, 100)), df.schema)
      val gBefore = injected.get()
      failing.write.mode("overwrite").parquet(s"$out/retried")
      val gInject = injected.get() - gBefore
      require(gInject > 0, "generation leg: the injected failure never fired")
      val a = spark.read.parquet(s"$out/clean")
      val b = spark.read.parquet(s"$out/retried")
      val extraA = a.exceptAll(b).count()
      val extraB = b.exceptAll(a).count()
      val (na, nb) = (a.count(), b.count())
      require(na == nb && extraA == 0 && extraB == 0,
        s"generation DIVERGED under task retry: $na vs $nb rows, " +
          s"cleanOnly=$extraA retriedOnly=$extraB")
      println(s"RETRY GEN OK rows=$na injected=$gInject")
    } finally spark.stop()
  }
}
