package graft.probes

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Hard-crash (JVM halt) robustness probe for RocksDB streaming state
  * (r17 verdict #2).
  *
  * StreamingSpec's kill-restart legs call `q.stop()`, which interrupts the
  * stream thread but still runs Spark's ORDERLY query shutdown — the state
  * store unloads cleanly, so those legs prove checkpoint RESTORE, not
  * crash-consistency of a RocksDB commit torn mid-write. This probe is the
  * `Runtime.halt()` analogue of RetryProbe/ExecutorLossProbe applied to
  * streaming:
  *
  *  1. CRASH phase (child JVM, spawned by this main): a RocksDB-backed
  *     `dropDuplicatesWithinWatermark` over a file-replay stream
  *     (1 file per micro-batch). A nondeterministic counting filter rides
  *     the input; when the cross-batch row counter hits `haltAfter` —
  *     chosen by the orchestrator as 5/12 of the visible corpus, i.e.
  *     strictly INSIDE the third micro-batch — the task calls
  *     `Runtime.getRuntime.halt(137)`. No shutdown hooks, no state-store
  *     unload, no orderly anything: batch 3's offset intent is in the
  *     checkpoint's offset log but its commit never lands, and RocksDB is
  *     severed mid-update-window (exactly an executor OOM-kill).
  *  2. ATTESTATION (orchestrator): child exit code must be 137, the
  *     checkpoint must show `offsets == commits + 1` (an in-flight batch
  *     was torn, not a between-batches stop) with ≥ 2 committed batches,
  *     and the sink must hold a committed prefix (0 < rows < visible).
  *  3. RESTART phase (fresh orchestrator JVM, never shared with the
  *     crashed one): the second half of the corpus arrives AND the first
  *     half re-arrives as duplicate files. The restored RocksDB state must
  *     recover to the last COMMITTED version, replay the torn batch
  *     exactly once, and suppress every already-emitted event_id:
  *     final count == corpus total, all event_ids distinct.
  *
  * Exit 0 = crash attested + exactly-once through the severed checkpoint.
  * Spawned by StreamingSpec; also runnable by hand:
  *   Test/runMain graft.probes.StreamCrashProbe [eventsParquet]
  */
object StreamCrashProbe {
  /** Cross-batch input-row counter for the crash-phase child. local[8]
    * executors are in-process threads, so a static AtomicLong sees every
    * row this JVM processes regardless of task parallelism. */
  val seen = new AtomicLong(0L)

  private val rocksdb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def session(name: String): SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName(name)
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.streaming.stateStore.providerClass", rocksdb)
    .getOrCreate()

  /** The probed query: replay-dedup-sink, identical plan in both phases
    * (the stateless counting filter never moves the stateful operator id,
    * and the restart runs it unarmed with haltAfter = MaxValue). */
  private def query(spark: SparkSession, src: String, out: String,
                    cp: String, haltAfter: Long) = {
    val halting = udf { (id: Long) =>
      val n = seen.incrementAndGet()
      if (n == haltAfter) {
        // stdout flush BEFORE halt — halt(137) skips every hook and buffer
        println(s"CRASH HALTING mid-batch after $n input rows (id=$id)")
        System.out.flush()
        Runtime.getRuntime.halt(137)
      }
      true
    }.asNondeterministic() // never re-evaluated, never pushed/reordered
    EventStreams.readReplay(spark, src, "3650 days", maxFilesPerTrigger = 1)
      .filter(halting(col("event_id")))
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "user_id", "event_type", "value")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
  }

  /** Crash-phase child entry: runs the query armed and waits to be halted
    * from inside a task. Reaching a natural end means the threshold never
    * fired — that is a probe construction failure, not a pass. */
  private def crashMain(src: String, out: String, cp: String,
                        haltAfter: Long): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val spark = session("graft-stream-crash-child")
    spark.sparkContext.setLogLevel("WARN")
    println(s"CRASH ARMED haltAfter=$haltAfter")
    val q = query(spark, src, out, cp, haltAfter)
      .trigger(Trigger.ProcessingTime("10 milliseconds")).start()
    q.awaitTermination(180000)
    println("CRASH FAILED: stream ended without halting")
    sys.exit(3)
  }

  private def numericEntries(dir: java.nio.file.Path): Int =
    if (!java.nio.file.Files.isDirectory(dir)) 0
    else {
      val s = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .count(_.getFileName.toString.forall(_.isDigit))
      } finally s.close()
    }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("crash")) {
      crashMain(args(1), args(2), args(3), args(4).toLong)
      return
    }
    val events = args.headOption.getOrElse("/root/testdata/sf0.001/events.parquet")
    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_crash")
    val stage = s"$scratch/stage"; val src = s"$scratch/src"
    val out = s"$scratch/out"; val cp = s"$scratch/cp"
    val spark = session("graft-stream-crash-probe")
    spark.sparkContext.setLogLevel("WARN")

    // stage 12 near-equal replay files; first 6 visible to the crash run
    val raw = spark.read.parquet(events)
    raw.repartition(12).write.mode("overwrite").parquet(stage)
    val total = raw.count()
    val parts = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length == 12, s"staging produced ${parts.length} files")
    new java.io.File(src).mkdirs()
    parts.take(6).foreach { f =>
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(src, s"a-${f.getName}"))
    }
    val visible = spark.read.parquet(src).count()
    // 5/12 of the visible corpus = 2.5 near-equal files: batches 1–2 commit,
    // the halt lands strictly inside batch 3 whatever the file order
    val haltAfter = visible * 5 / 12
    require(haltAfter > 0, "corpus too small to stage a mid-batch halt")
    println(s"""{"harness":"StreamCrashProbe","total":$total,"visible":$visible,"haltAfter":$haltAfter}""")

    // ---- crash phase: child JVM, halted from inside a task ----
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList.sliding(2).collect {
        case List(flag, v) if flag == "--add-opens" || flag == "--add-exports" =>
          List(flag, v)
      }.flatten.toList
    val childOut = java.nio.file.Files.createTempFile("graft_scrash_child", ".out")
    val p = new ProcessBuilder(
      (List(javaBin) ++ jvmArgs ++ List("-Xmx3g",
        "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"),
        "graft.probes.StreamCrashProbe",
        "crash", src, out, cp, haltAfter.toString)).asJava)
      .redirectErrorStream(true)
      .redirectOutput(childOut.toFile)
      .start()
    require(p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS), {
      p.destroyForcibly(); "crash-phase child timed out"
    })
    val childLog = new String(java.nio.file.Files.readAllBytes(childOut))
    require(p.exitValue() == 137,
      s"child exited ${p.exitValue()}, wanted halt(137):\n${childLog.takeRight(2000)}")
    require(childLog.contains("CRASH HALTING mid-batch"),
      s"no in-task halt attestation:\n${childLog.takeRight(2000)}")

    // ---- attestation: the checkpoint is TORN, not cleanly stopped ----
    val nOffsets = numericEntries(java.nio.file.Paths.get(cp, "offsets"))
    val nCommits = numericEntries(java.nio.file.Paths.get(cp, "commits"))
    println(s"""{"offsets":$nOffsets,"commits":$nCommits}""")
    require(nCommits >= 2, s"only $nCommits committed batches before the halt")
    require(nOffsets == nCommits + 1,
      s"checkpoint not severed mid-batch: offsets=$nOffsets commits=$nCommits")
    val afterCrash = spark.read.parquet(out).count()
    require(afterCrash > 0 && afterCrash < visible,
      s"sink holds $afterCrash of $visible visible rows — not a committed prefix")

    // ---- restart phase: rest of corpus + the ENTIRE first half as dups ----
    parts.drop(6).foreach { f =>
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(src, s"a-${f.getName}"))
    }
    parts.take(6).foreach { f =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(src, s"a-${f.getName}"),
        java.nio.file.Paths.get(src, s"b-${f.getName}"))
    }
    import org.apache.spark.sql.streaming.Trigger
    val q2 = query(spark, src, out, cp, Long.MaxValue)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val result = spark.read.parquet(out)
    val n = result.count()
    val nd = result.select("event_id").distinct().count()
    require(n == total,
      s"loss or replay through the severed checkpoint: $n vs $total")
    require(nd == total, s"duplicate event_ids after restart: $nd of $total")
    println(s"STREAMCRASH OK total=$total committed_prefix=$afterCrash " +
      s"severed_offsets=$nOffsets severed_commits=$nCommits")
    spark.stop()
    sys.exit(0)
  }
}
