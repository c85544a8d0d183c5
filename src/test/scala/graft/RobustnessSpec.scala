package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.gen.GenCache
import graft.ops.Relational

/** Edge-case hardening tests (round-8 ADVICE items): nullable input through
  * the two-phase window family, nested parquet layouts through the footer
  * row-count fence, and stale-generation cache sweeping. */
class RobustnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A fixture dir whose orders table carries NULL o_totalprice AND NULL
    * o_orderpriority rows — the shapes the inner equi-join in the two-phase
    * window family used to silently drop. */
  private lazy val nullableOrdersDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-nullorders").toString
    val rows = (1L to 500L).map { k =>
      val prio = if (k % 11 == 0) null else s"${k % 5 + 1}-P${k % 5 + 1}"
      val price = if (k % 7 == 0) null else java.lang.Double.valueOf((k * 37 % 1000) + 0.25)
      (k, prio, price)
    }
    rows.toDF("o_orderkey", "o_orderpriority", "o_totalprice")
      .repartition(4)
      .write.parquet(s"$dir/orders.parquet")
    dir
  }

  test("q_win_rank2 keeps NULL price/priority rows and matches the single-window form") {
    val got = Relational.q_win_rank2(spark, nullableOrdersDir)
    val base = spark.read.parquet(s"$nullableOrdersDir/orders.parquet")
    val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice").desc)
    val wu = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val want = base.select(col("o_orderkey"), col("o_orderpriority"),
      col("o_totalprice"),
      rank().over(w).cast("int").as("rnk"),
      row_number().over(wu).cast("int").as("rn"))
    assert(got.count() === 500) // nothing dropped
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("q_win_ntile2 keeps NULL price/priority rows and matches the single-window form") {
    val got = Relational.q_win_ntile2(spark, nullableOrdersDir)
    val base = spark.read.parquet(s"$nullableOrdersDir/orders.parquet")
    val wu = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice").desc)
    val want = base.select(col("o_orderkey"), col("o_orderpriority"),
      col("o_totalprice"),
      ntile(4).over(wu).cast("int").as("quartile"),
      percent_rank().over(w).as("pr"),
      cume_dist().over(w).as("cd"))
    assert(got.count() === 500)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("footerRowCount recurses into nested (hive-partitioned) layouts and skips hidden dirs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-nested").toString
    (1 to 1000).map(i => (i, i % 4)).toDF("v", "k")
      .write.partitionBy("k").parquet(s"$dir/t.parquet")
    // a _temporary-style dir with a stray parquet file must NOT be counted
    val hidden = java.nio.file.Paths.get(s"$dir/t.parquet/_temporary")
    java.nio.file.Files.createDirectories(hidden)
    val leaf = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/t.parquet"))
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("."))
      .findFirst().get()
    java.nio.file.Files.copy(leaf, hidden.resolve("junk.parquet"))
    assert(Tables.footerRowCount(spark, dir, "t") === 1000L)
  }

  test("task retries are deterministic: injected fail-once tasks leave query + generation output bit-identical") {
    // r13 verdict #2: hash-based generation/sampling and taskRetries=0
    // runs ASSERTED retry-safety by construction; this demonstrates it.
    // graft.probes.RetryProbe needs its own JVM (master local[16,2] sets
    // spark.task.maxFailures=2, which the shared TestSpark session can't)
    // — same spawn pattern as GenSpec's two-driver cache-fleet test. The
    // probe kills partition 0's FIRST attempt mid-stream in every shuffle
    // map stage of declared q_tpcds_q23 and in a generation parquet write,
    // then requires clean == retried (raw double bits included) and that
    // the injections actually fired.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val outFile = Files.createTempFile("graft_retry_probe", ".out").toFile
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList.sliding(2).collect {
        case List(flag, v) if flag == "--add-opens" || flag == "--add-exports" =>
          List(flag, v)
      }.flatten.toList
    val p = new ProcessBuilder(
      (List(javaBin) ++ jvmArgs ++ List("-Xmx3g",
        "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"),
        "graft.probes.RetryProbe")).asJava)
      .redirectErrorStream(true)
      .redirectOutput(outFile)
      .start()
    assert(p.waitFor(600, java.util.concurrent.TimeUnit.SECONDS), "probe timed out")
    val out = new String(Files.readAllBytes(outFile.toPath))
    assert(p.exitValue() == 0, s"retry probe failed:\n${out.takeRight(3000)}")
    assert(out.contains("RETRY QUERY OK"), s"no query verdict:\n${out.takeRight(1500)}")
    assert(out.contains("RETRY GEN OK"), s"no generation verdict:\n${out.takeRight(1500)}")
    // the probe must have actually killed tasks, not just compared twice
    val fired = "injected=(\\d+)".r.findAllMatchIn(out).map(_.group(1).toInt).toList
    assert(fired.size == 2 && fired.forall(_ > 0), s"injections: $fired")
  }

  test("executor LOSS leaves query + generation output cell-identical (local-cluster)") {
    // r15 verdict #2: task-retry determinism (above) is the soft case — a
    // 1000-executor run loses whole JVMs, taking every running task AND
    // the executor's shuffle map outputs with them. The probe runs
    // local-cluster[4,8,4096] (4 real executor JVMs), Runtime.halt()s one
    // of them mid-shuffle-map (query leg) and mid-parquet-write
    // (generation leg), and requires clean == killed plus driver-observed
    // ExecutorRemoved events. Own JVM for the same reason as RetryProbe.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val outFile = Files.createTempFile("graft_exec_loss_probe", ".out").toFile
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList.sliding(2).collect {
        case List(flag, v) if flag == "--add-opens" || flag == "--add-exports" =>
          List(flag, v)
      }.flatten.toList
    val pb = new ProcessBuilder(
      (List(javaBin) ++ jvmArgs ++ List("-Xmx3g",
        "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"),
        "graft.probes.ExecutorLossProbe")).asJava)
      .redirectErrorStream(true)
      .redirectOutput(outFile)
    // local-cluster workers exec fresh executor JVMs via the Spark dist
    // launcher — they need a real SPARK_HOME (sbt's env doesn't carry one)
    pb.environment().put("SPARK_HOME", "/opt/spark")
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    val p = pb.start()
    assert(p.waitFor(600, java.util.concurrent.TimeUnit.SECONDS), "probe timed out")
    val out = new String(Files.readAllBytes(outFile.toPath))
    assert(p.exitValue() == 0, s"executor-loss probe failed:\n${out.takeRight(3000)}")
    assert(out.contains("EXECLOSS QUERY OK"), s"no query verdict:\n${out.takeRight(1500)}")
    assert(out.contains("EXECLOSS GEN OK"), s"no generation verdict:\n${out.takeRight(1500)}")
    val removed = "executors_removed=(\\d+)".r
      .findAllMatchIn(out).map(_.group(1).toInt).toList
    assert(removed.nonEmpty && removed.last >= 2,
      s"expected the probe to observe >=2 executor removals, saw: $removed")
  }

  test("speculation-on leaves query + generation output identical; scheduler engages") {
    // r16: fleets run spark.speculation=true. One box can prove (a) the
    // engine's task shapes trip the straggler detector (SpeculativeTask-
    // Submitted events) and (b) results stay row-identical with the mode
    // on. The LAUNCH of a duplicate needs a second host (TaskSetManager's
    // host exclusion) — the attempt-interchangeability half is RetryProbe/
    // ExecutorLossProbe's territory; see SpeculationProbe's scaladoc.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val outFile = Files.createTempFile("graft_spec_probe", ".out").toFile
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList.sliding(2).collect {
        case List(flag, v) if flag == "--add-opens" || flag == "--add-exports" =>
          List(flag, v)
      }.flatten.toList
    val pb = new ProcessBuilder(
      (List(javaBin) ++ jvmArgs ++ List("-Xmx3g",
        "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"),
        "graft.probes.SpeculationProbe")).asJava)
      .redirectErrorStream(true)
      .redirectOutput(outFile)
    pb.environment().put("SPARK_HOME", "/opt/spark")
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    val p = pb.start()
    assert(p.waitFor(600, java.util.concurrent.TimeUnit.SECONDS), "probe timed out")
    val out = new String(Files.readAllBytes(outFile.toPath))
    assert(p.exitValue() == 0, s"speculation probe failed:\n${out.takeRight(3000)}")
    assert(out.contains("SPEC QUERY OK"), s"no query verdict:\n${out.takeRight(1500)}")
    assert(out.contains("SPEC GEN OK"), s"no generation verdict:\n${out.takeRight(1500)}")
    val submitted = "speculative_submitted=(\\d+)".r
      .findAllMatchIn(out).map(_.group(1).toInt).toList
    assert(submitted.nonEmpty && submitted.last > 0,
      s"scheduler never engaged speculation: $submitted")
  }

  test("sweepStaleSiblings removes every non-current cache generation") {
    import java.nio.file.{Files, Paths}
    val parent = Files.createTempDirectory("graft-sweep")
    val current = parent.resolve("gen9")
    Files.createDirectories(current.resolve("sf0.01"))
    Files.write(current.resolve("sf0.01/_GRAFT_COMPLETE"), Array.emptyByteArray)
    // stale: an older generation tree, a legacy unversioned dir, a loose lock
    Files.createDirectories(parent.resolve("gen8/sf0.01"))
    Files.write(parent.resolve("gen8/sf0.01/x"), "stale".getBytes)
    Files.createDirectories(parent.resolve("sf0.001"))
    Files.write(parent.resolve("sf0.001.lock"), Array.emptyByteArray)
    // a lock-less sibling with a FRESH mtime is treated as in-use (a peer
    // may have created the dir but not yet its first <sf>.lock) — age the
    // stale dirs past the grace window so the sweep may take them
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 24L * 3600 * 1000)
    Files.setLastModifiedTime(parent.resolve("gen8"), old)
    Files.setLastModifiedTime(parent.resolve("sf0.001"), old)
    // a freshly-created lock-less sibling must SURVIVE the sweep
    Files.createDirectories(parent.resolve("gen7"))
    GenCache.sweepStaleSiblings(spark, current)
    assert(Files.exists(parent.resolve("gen7")),
      "fresh lock-less sibling swept inside the grace window")
    Files.setLastModifiedTime(parent.resolve("gen7"), old)
    GenCache.sweepStaleSiblings(spark, current)
    val left = { val s = Files.list(parent); try { val l = s.iterator(); val b =
      scala.collection.mutable.ListBuffer.empty[String]
      while (l.hasNext) b += l.next().getFileName.toString; b.toList } finally s.close() }
    assert(left === List("gen9"))
    assert(Files.exists(current.resolve("sf0.01/_GRAFT_COMPLETE")))
  }
}
