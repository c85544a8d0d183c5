package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.plans.SessionDefaults

/** graft's diagnostics: one main, one subcommand per question, every
  * session from [[SessionDefaults.session]] — so a diagnostic times and
  * plans the engine `Bench` and `Verify` run. Arguments are checked before
  * any session starts ([[parse]]).
  *
  * Other session shapes are runs of the same subcommands under the
  * factory's environment (with sbt, `SPARK_GRAFT_CONF` turns into `-D`
  * properties, which win over every factory setting):
  *  - executor JVMs (the local-cluster seam): `sbt package`, then
  *    `SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13
  *    SPARK_MASTER='local-cluster[4,8,4096]' SPARK_GRAFT_CPUS=32
  *    SPARK_GRAFT_CONF='spark.jars=<packaged jar>;spark.executor.memory=4096m;spark.graft.fixedShuffle=true'
  *    sbt "runMain graft.tools.Diag stats …"`;
  *  - the constrained-heap spill ladder: `SPARK_DRIVER_MEM=2g
  *    SPARK_GRAFT_CONF='spark.graft.fixedShuffle=true' … stats …` at each
  *    heap (a fixed shuffle count keeps per-task memory comparable);
  *  - plans against a relocated gen cache: `SPARK_GRAFT_CONF=
  *    'spark.graft.cacheRoot=<root>' … explain …`.
  */
object Diag {
  val usage: String =
    """usage: graft.tools.Diag <subcommand> [args]
      |  stats <sfDir> <reps> <name...>
      |      a first (cold) run, then <reps> timed noop runs of each query:
      |      the wall of each rep, and over the last rep jobs, stages, tasks,
      |      classes compiled, task run/CPU/GC seconds, input and shuffle
      |      read/write MB, memory/disk spill MB and peak task memory MB
      |  confab <sfDir> <reps> <k=v;...> <k=v;...> <name...>
      |      conf set A against conf set B, runs interleaved in one JVM
      |  explain <sfDir> [--executed] [name...]
      |      formatted plans; --executed runs each query and prints its
      |      final adaptive plan
      |  names <tpcds-generated|tpchfull>
      |      declared query names on one line (for shell sweeps)
      |  gentime <tpch|tpcds> <sf> <partitions> [table...]
      |      per-table generation wall, cold and warm, of the frame the
      |      writers build (GRAFT_DEBUG_CODEGEN=1 prints code)
      |  warm <sfName...>
      |      build the TPC-DS gen cache at each scale (e.g. sf0.01 sf1)
      |  controlcal [reps]
      |      medians of graft.Bench's control tasks (default 15 reps) and
      |      a raw record to SPARK_GRAFT_CONTROL_OUT
      |  dump <outDir> [--per-jvm] [--alt-partitioning] [--sf=sfN] <name...>
      |      Verify-style result dumps at a generated scale (default
      |      sf100) for tools/sf100_check.py
      |  gendiff <cacheSfDir> <sf> [table col...]
      |      fresh TPC-DS tables against a gen cache: all identical, or
      |      identical but for the named columns of one table""".stripMargin

  def main(args: Array[String]): Unit =
    if (!parse(args.toIndexedSeq)()) sys.exit(1)

  /** The subcommand `args` ask for, checked against [[usage]] (throws
    * IllegalArgumentException naming it). Running the returned thunk starts
    * the session; it answers whether a verdict subcommand (dump, gendiff)
    * passed. */
  def parse(args: Seq[String]): () => Boolean = {
    def need(ok: Boolean): Unit = if (!ok) throw new IllegalArgumentException(usage)
    def known(names: Seq[String]): Seq[String] = {
      need(names.nonEmpty)
      val unknown = names.filterNot(SparkEntry.queries.contains)
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"unknown queries: ${unknown.mkString(", ")}\n$usage")
      names
    }
    def positive(n: String): Int = { need(n.toIntOption.exists(_ > 0)); n.toInt }
    def ok(body: => Unit): () => Boolean = () => { body; true }
    args match {
      case Seq("stats", sfDir, reps, names @ _*) =>
        val (n, qs) = (positive(reps), known(names))
        ok(withSession()(stats(_, sfDir, n, qs)))
      case Seq("confab", sfDir, reps, a, b, names @ _*) =>
        val (n, confA, confB, qs) = (positive(reps), confs(a), confs(b), known(names))
        ok(withSession()(confab(_, sfDir, n, confA, confB, qs)))
      case Seq("explain", sfDir, rest @ _*) =>
        val (flags, names) = rest.partition(_ == "--executed")
        val qs = if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else known(names)
        ok(withSession()(explain(_, sfDir, flags.nonEmpty, qs)))
      case Seq("names", kind) =>
        val qs = this.names(kind)
        ok(println(qs.mkString(" ")))
      case Seq("gentime", bench, sf, parts, tables @ _*) =>
        val gen = graft.schema.Benchmark(bench)
        val (scale, p) = (sf.toDouble, positive(parts))
        need(tables.forall(gen.tableNames.contains))
        val ts = if (tables.isEmpty) gen.tableNames else tables
        ok(withSession() { spark =>
          ts.foreach { t =>
            if (sys.env.contains("GRAFT_DEBUG_CODEGEN")) {
              import org.apache.spark.sql.execution.debug._
              genFrame(spark, gen, t, scale, p).debugCodegen()
            }
            def run(): Double = time(noop(genFrame(spark, gen, t, scale, p)))
            val cold = run() // pays this table's first compiles
            val warm = run()
            println(f"[gentime] $t%-24s cold $cold%.2f warm $warm%.2f")
          }
        })
      case Seq("warm", sfs @ _*) =>
        need(sfs.nonEmpty)
        ok(withSession() { spark =>
          sfs.foreach { sf =>
            val t0 = System.nanoTime()
            val dir = graft.ops.Tpcds.ensure(spark, sf)
            println(f"[warm] $dir ready in ${(System.nanoTime() - t0) / 1e9}%.1f s")
          }
        })
      case Seq("controlcal", reps @ _*) =>
        need(reps.size <= 1)
        val n = reps.headOption.map(positive).getOrElse(15)
        ok(withSession()(controlCal(_, n)))
      case Seq("dump", rest @ _*) =>
        val (flags, pos) = rest.partition(_.startsWith("--"))
        need(pos.nonEmpty)
        val (outDir, qs) = (pos.head, known(pos.tail))
        def flag(prefix: String): Option[String] =
          flags.collectFirst { case f if f.startsWith(prefix) => f.stripPrefix(prefix) }
        // --local-dir= is how --per-jvm gives each child its own scratch
        need(flags.forall(f => f == "--per-jvm" || f == "--alt-partitioning" ||
          f.startsWith("--sf=") || f.startsWith("--local-dir=")))
        val alt = flags.contains("--alt-partitioning")
        val sf = flag("--sf=").getOrElse("sf100")
        if (flags.contains("--per-jvm")) () => perJvm(outDir, alt, sf, qs)
        else {
          // --alt-partitioning is the dual-run determinism leg: a
          // different shuffle partition count and scan split size than
          // the default run, so both the scan parallelism and every
          // exchange differ; a cell-exact match across the two runs shows
          // the result does not depend on partitioning at scale
          val extra = flag("--local-dir=").map("spark.local.dir" -> _).toSeq ++
            (if (alt) Seq("spark.sql.shuffle.partitions" -> "96",
              "spark.graft.fixedShuffle" -> "true",
              "spark.sql.files.maxPartitionBytes" -> s"${32L << 20}") else Nil)
          ok(withSession(extra: _*)(graft.Verify.dump(_, sf, outDir, qs, atOracleScale = false)))
        }
      case Seq("gendiff", cache, sf, scope @ _*) =>
        val scale = sf.toDouble
        need(scope.isEmpty || (scope.size >= 2 && graft.gen.TpcdsGen.tableNames.contains(scope.head)))
        require(new java.io.File(cache).isDirectory, s"no gen cache at $cache")
        () => withSession()(genDiff(_, cache, scale, scope.headOption, scope.drop(1)))
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  /** `tpcds-generated`: every q_tpcds_* query that reads the generated
    * cache, i.e. without the sf1-pinned `*_pub` twins; `tpchfull`: the
    * q_tpch_* queries whose oracle reads the TpchFull cache. */
  def names(kind: String): Seq[String] = kind match {
    case "tpcds-generated" =>
      SparkEntry.queries.keys.filter(_.startsWith("q_tpcds_"))
        .filterNot(SparkEntry.pinnedScaleProofs).toSeq.sorted
    case "tpchfull" => graft.ops.TpchFull.queries.keys.toSeq.sorted
    case other => throw new IllegalArgumentException(s"unknown name list: $other\n$usage")
  }

  private def confs(s: String): Seq[(String, String)] =
    s.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => throw new IllegalArgumentException(s"not k=v: $kv\n$usage")
      }
    }

  private def withSession[T](extra: (String, String)*)(body: SparkSession => T): T = {
    val spark = SessionDefaults.session(extra: _*)
    try body(spark) finally spark.stop()
  }

  /** Seconds `body` takes: the one timer of every timing subcommand. */
  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Run `df` to completion with nothing returned to the driver (a bare
    * count() would let Catalyst prune the projected columns). */
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  private def fmt(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString(" ")

  /** Job, stage and task-metric totals of the jobs that run while `on`. */
  private final class Meter extends SparkListener {
    @volatile var on = false
    val jobs, stages, tasks, runMs, cpuNs, gcMs, inB, srB, swB, memSpill, diskSpill, peak =
      new AtomicLong
    private def all = Seq(jobs, stages, tasks, runMs, cpuNs, gcMs, inB, srB, swB, memSpill, diskSpill, peak)
    def start(): Unit = { all.foreach(_.set(0)); on = true }
    /** Stop counting once the task count settles: the listener bus is
      * asynchronous and its drain API is private to Spark. */
    def stop(): Unit = {
      var prev = -1L
      while (tasks.get != prev) { prev = tasks.get; Thread.sleep(120) }
      on = false
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = if (on) jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = if (on) stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (on && t.taskMetrics != null) {
      val m = t.taskMetrics
      tasks.incrementAndGet()
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inB.addAndGet(m.inputMetrics.bytesRead)
      srB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      swB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
      peak.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
    }
  }

  /** Per-query attribution: decide whether time goes to compute, shuffle
    * or scheduling before changing anything. `cold` is the first run
    * (codegen, file listing, gen-cache ensure), `wall` the median rep;
    * the counters cover the last rep. `compiles` (Spark's CodegenMetrics
    * count) repeats exactly run to run — nonzero on a warm rep means the
    * codegen cache lost the query's classes or its code changed between
    * constructions. `wall` far above `trun / cores` means driver or
    * stage-barrier overhead, not executor work. A query that throws
    * prints FAILED and the loop goes on (a task OOM under a cut heap is a
    * finding). */
  private def stats(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String]): Unit = {
    val m = new Meter
    spark.sparkContext.addSparkListener(m)
    println(s"[stats] heap=${Runtime.getRuntime.maxMemory() >> 20}MiB master=${spark.sparkContext.master} sf=$sfDir")
    println(f"[stats] ${"query"}%-24s ${"cold"}%7s ${"wall"}%7s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s " +
      f"${"compiles"}%8s ${"trun"}%8s ${"tcpu"}%8s ${"gc"}%6s ${"inMB"}%8s ${"srMB"}%8s " +
      f"${"swMB"}%8s ${"spillMB"}%8s ${"diskMB"}%8s ${"peakMB"}%7s  reps")
    def mb(b: AtomicLong): Double = b.get / 1e6
    names.foreach { n =>
      def run(): Unit = noop(SparkEntry.queries(n)(spark, sfDir))
      try {
        val cold = time(run())
        val warm = Seq.fill(reps - 1)(time(run()))
        m.start()
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val last = time(run())
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        m.stop()
        val walls = warm :+ last
        println(f"[stats] $n%-24s $cold%7.3f ${median(walls)}%7.3f ${m.jobs.get}%5d ${m.stages.get}%5d " +
          f"${m.tasks.get}%6d $compiles%8d ${m.runMs.get / 1e3}%8.2f ${m.cpuNs.get / 1e9}%8.2f " +
          f"${m.gcMs.get / 1e3}%6.2f ${mb(m.inB)}%8.1f ${mb(m.srB)}%8.1f ${mb(m.swB)}%8.1f " +
          f"${mb(m.memSpill)}%8.1f ${mb(m.diskSpill)}%8.1f ${mb(m.peak)}%7.1f  ${fmt(walls)}")
      } catch { case scala.util.control.NonFatal(e) =>
        m.on = false
        println(s"[stats] $n FAILED ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }

  /** Drift-free conf A/B: each query under conf set A and B interleaved
    * (A,B,A,B,…) in one JVM, so ambient load and JVM aging hit both legs
    * alike; one untimed run per leg first. Both sets must be runtime SQL
    * confs (set on the session between runs). */
  private def confab(spark: SparkSession, sfDir: String, reps: Int,
                     a: Seq[(String, String)], b: Seq[(String, String)], names: Seq[String]): Unit =
    names.foreach { n =>
      def run(conf: Seq[(String, String)]): Double = {
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        time(noop(SparkEntry.queries(n)(spark, sfDir)))
      }
      run(a); run(b)
      val (as, bs) = Seq.fill(reps)((run(a), run(b))).unzip
      println(f"[confab] $n%-22s A=${median(as)}%.2f B=${median(bs)}%.2f  (A: ${fmt(as)} | B: ${fmt(bs)})")
    }

  /** Table `t` of `gen` at scale `sf` as its writers build it: on the
    * generation session (whole-stage codegen off), split into the parts
    * they write for a ceiling of `p` ([[graft.gen.GenUtil.partitionsFor]]). */
  private[graft] def genFrame(spark: SparkSession, gen: graft.gen.Generator, t: String,
                              sf: Double, p: Int): DataFrame =
    gen.sized(graft.gen.GenUtil.generationSession(spark), t, sf, p)

  /** Plan audit: keyed joins (no BroadcastNestedLoopJoin outside fenced
    * baselines), filters pushed to the scan, pruned columns, wide codegen
    * stages. Starts with the session defaults in force, so a saved plan
    * file says what it was captured under. */
  private def explain(spark: SparkSession, sfDir: String, executed: Boolean, names: Seq[String]): Unit = {
    SessionDefaults.defaults.foreach { case (k, _) => println(s"[conf] $k=${spark.conf.get(k)}") }
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (executed) {
        // collect() is the one action that runs the Dataset's OWN
        // QueryExecution; a noop write wraps the plan in a fresh one and
        // leaves df.queryExecution unexecuted (isFinalPlan=false), so the
        // printed plan would be the initial one. Declared results are
        // bounded (aggregates, top-k), so the driver pull is fine.
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      } else df.explain("formatted")
    }
  }

  /** Calibrates [[graft.Bench.controlRef]]: the control tasks back to back
    * in this JVM's factory session — the session Bench samples them in.
    * Run it in an idle window whenever a control task changes and copy the
    * medians into `Bench.controlRef`. The raw record (every sample plus
    * the host's shape) goes to SPARK_GRAFT_CONTROL_OUT; the committed copy
    * is tools/control_ref.json. */
  private def controlCal(spark: SparkSession, reps: Int): Unit = {
    val controls = graft.Bench.controlTasks(spark)
    controls.foreach { case (_, run) => run() } // codegen compile, not ambient load
    val samples = controls.map { case (name, run) => name -> Seq.fill(reps)(time(run())).sorted }
    samples.foreach { case (name, xs) =>
      println(f"$name%-12s median=${median(xs)}%.3f min=${xs.head}%.3f max=${xs.last}%.3f n=$reps")
    }
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def obj(kvs: Seq[(String, String)]): String = kvs.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val rec = obj(Seq(
      "harness" -> "\"Diag controlcal\"", "reps" -> reps.toString,
      "cpus" -> s""""${SessionDefaults.cpus}"""",
      "host_cores" -> Runtime.getRuntime.availableProcessors.toString,
      "heap_mib" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "jvm" -> s""""${System.getProperty("java.version")}"""",
      "spark" -> s""""${spark.version}"""",
      "controls" -> obj(samples.map { case (name, xs) =>
        name -> obj(Seq("median" -> f(median(xs)), "samples" -> xs.map(f).mkString("[", ",", "]")))
      }),
      "committed_ref" -> obj(graft.Bench.controlRef.toSeq.sorted.map { case (k, v) => k -> f(v) })))
    val out = sys.env.getOrElse("SPARK_GRAFT_CONTROL_OUT", "/tmp/graft_control_cal.json")
    Files.write(Paths.get(out), (rec + "\n").getBytes("UTF-8"))
    println(s"raw record -> $out ; copy the medians into graft.Bench.controlRef")
  }

  /** `dump --per-jvm`: one fresh child JVM per query, each with its own
    * `spark.local.dir` under `outDir`, deleted once the child exits — no
    * shuffle scratch accumulates across queries (a single-JVM whole-suite
    * sf100 dump ran out of disk), and a crashed child's scratch is
    * reclaimed without touching another live JVM's. A failed child is
    * reported and the sweep goes on; the thunk then answers false. */
  private def perJvm(outDir: String, alt: Boolean, sf: String, names: Seq[String]): Boolean = {
    import scala.jdk.CollectionConverters._
    new java.io.File(outDir).mkdirs()
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList.sliding(2).collect {
        case List(flag, v) if flag == "--add-opens" || flag == "--add-exports" => List(flag, v)
      }.flatten.toList
    val mem = sys.env.getOrElse("SPARK_DRIVER_MEM", "24g")
    // the parent's -D spark.* properties (SPARK_GRAFT_CONF under sbt) reach
    // every child, as they reach a single-JVM dump's session
    val sparkProps = sys.props.toList.collect { case (k, v) if k.startsWith("spark.") => s"-D$k=$v" }
    val failed = names.filterNot { name =>
      val local = Paths.get(outDir, s".local-$name")
      val childOut = Files.createTempFile(s"graft_dump_$name", ".out").toFile
      val p = new ProcessBuilder((List(javaBin) ++ jvmArgs ++ sparkProps ++ List(s"-Xmx$mem",
          "-cp", System.getProperty("java.class.path"),
          "graft.tools.Diag", "dump", outDir, s"--sf=$sf", s"--local-dir=$local") ++
          (if (alt) List("--alt-partitioning") else Nil) :+ name).asJava)
        .redirectErrorStream(true).redirectOutput(childOut).start()
      val done = p.waitFor(3600, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) p.destroyForcibly().waitFor()
      val log = new String(Files.readAllBytes(childOut.toPath))
      log.linesIterator.filter(_.startsWith("{\"query\"")).foreach(println)
      val dumped = done && p.exitValue() == 0 && log.contains("\"dumped_s\"")
      if (!dumped) System.err.println(s"[dump] $name child " +
        (if (!done) "timed out" else s"exited ${p.exitValue()}") + s":\n${log.takeRight(1500)}")
      // the child is dead here, however it exited: its scratch is ours
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(local.toFile)
      childOut.delete()
      dumped
    }
    graft.Verify.writeOracleSlice(outDir, names)
    println(s"""{"per_jvm_sweep":${names.size},"failed":${failed.size}}""")
    if (failed.nonEmpty) System.err.println(s"[dump] failed: ${failed.mkString(", ")}")
    failed.isEmpty
  }

  /** Fresh TPC-DS tables of the current genVersion against the gen cache
    * at `cache`. With no `table`, every table must be identical (a
    * value-preserving generator refactor); with one, that table must be
    * identical once `cols` are dropped and every other table identical
    * (the declared scope of a genVersion bump, checked against the OLD
    * generation's cache before warming the new one sweeps it). The cache
    * is read bare, not through graft.Catalog: an old generation's stored
    * schema may differ from today's declaration. */
  private def genDiff(spark: SparkSession, cache: String, sf: Double,
                      table: Option[String], cols: Seq[String]): Boolean = {
    val scope = table.map(t => s" (ignoring $t.${cols.mkString(",")})").getOrElse("")
    val bad = graft.gen.TpcdsGen.tableNames.count { tbl =>
      val drop = if (table.contains(tbl)) cols else Nil
      val fresh = graft.gen.TpcdsGen.table(spark, tbl, sf, spark.sparkContext.defaultParallelism)
        .drop(drop: _*)
      val cached = spark.read.parquet(s"$cache/$tbl.parquet").drop(drop: _*)
      val (a, b) = (fresh.exceptAll(cached).count(), cached.exceptAll(fresh).count())
      if (a == 0 && b == 0) println(s"IDENTICAL $tbl rows=${fresh.count()}")
      else println(s"MISMATCH $tbl freshOnly=$a cachedOnly=$b")
      a != 0 || b != 0
    }
    println(if (bad == 0) s"ALL TABLES BIT-IDENTICAL$scope" else s"$bad TABLES MISMATCH$scope")
    bad == 0
  }
}
