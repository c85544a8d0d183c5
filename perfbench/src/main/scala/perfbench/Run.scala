package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** One measured run: set up, a cold pass, then a fixed number of warm
  * passes (`Run.warmPasses`), each pass in its own seeded order.
  *
  * Untraced, an operation is timed as a whole. Traced, each query is split
  * into construct / optimize / plan / execute spans and a listener counts
  * the Spark work of each span. A traced run makes five warm passes: the
  * first lets the JIT settle and is compared with nothing, then traced,
  * untraced, untraced, traced, so the two kinds straddle the same point of
  * the warm-up and their difference is what tracing costs. */
final case class Run(work: String, w: Workload, seed: Long, seconds: Double,
                     traced: Boolean, record: Option[String], goldenDir: String) {
  private val results = mutable.ArrayBuffer.empty[OpResult]
  private val passWall = mutable.LinkedHashMap.empty[Int, Double]
  private val passCpu = mutable.LinkedHashMap.empty[Int, Double]
  private val checks = mutable.ArrayBuffer.empty[(String, Option[String])]
  private var verifyS = 0.0

  def execute(): Unit = {
    val (spark, setup) = Main.setUp(work, w)
    val dir = Main.fixtureDir(work)
    val trace = if (traced) Some(new Trace(spark.sparkContext)) else None
    val golden = Golden.load(Golden.path(goldenDir, w))
    val ctlBefore = if (traced) controls(spark) else Map.empty[String, Double]
    val ops = w match {
      case q: QueryWorkload => q.queries
      case _: IngestWorkload => Ingest.steps
    }
    var sizes = Option.empty[Ingest.Sizes] // generation is deterministic: measured once
    val stat0 = Main.hostTicks()
    val lastPass = Run.warmPasses(seconds, traced)
    for (pass <- 0 to lastPass) {
      val tr = trace.filter(_ => Run.tracedPass(pass))
      trace.foreach(_.listen(tr.nonEmpty))
      val order = w match {
        case _: QueryWorkload => Stats.permutation(ops, seed, pass)
        case _ => ops // ingest steps depend on each other
      }
      val t0 = System.nanoTime()
      val c0 = Main.processCpuS()
      order.foreach { name =>
        results += (w match {
          case _: QueryWorkload => query(spark, dir, name, pass, golden, tr)
          case i: IngestWorkload => ingestStep(spark, i, name, pass, tr)
        })
      }
      passWall(pass) = (System.nanoTime() - t0) / 1e9
      passCpu(pass) = Main.processCpuS() - c0
      w match {
        case _: IngestWorkload =>
          if (pass == lastPass) {
            sizes = Some(Ingest.sizes(spark, work, pass))
            val t = System.nanoTime()
            checks ++= Ingest.verify(spark, work, pass, golden)
            verifyS = (System.nanoTime() - t) / 1e9
          }
          Files.deleteTree(new java.io.File(Ingest.dirs(work, pass)._1))
        case _ => ()
      }
    }
    val stat1 = Main.hostTicks()
    trace.foreach(_.listen(false))
    val layers = trace.map(t => layerMetrics(spark, t, dir, setup, sizes)).getOrElse(Map.empty)
    val ctlAfter = if (traced) controls(spark) else Map.empty[String, Double]
    val rss = Main.peakRssMb()
    val heap = Main.retainedHeapMb()
    spark.stop()

    val endToEnd = endToEndMetrics(setup, heap, rss, sizes) :+
      ("host.steal_frac" -> (Main.stealFrac(stat0, stat1) -> "fraction"))
    // the after-run sample: the one taken in a warm JVM
    val ctl = ctlAfter.toSeq.sorted.map { case (k, v) => s"host.$k" -> (v -> "s") }
    val (attempted, failures) = Run.tally(results.toSeq, checks.toSeq)
    val failFrac = "fail_frac" -> (Stats.failFrac(attempted, failures.size) -> "fraction")
    val metrics = (endToEnd ++ layers ++ ctl :+ failFrac).toMap
    failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    if (traced) metrics.toSeq.sortBy(_._1).foreach { case (k, (v, u)) =>
      System.err.println(f"[perfbench] $k%-28s $v%14.6f $u") }
    val summary = Json.obj(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*))
    record.foreach { path =>
      val full = Json.obj(
        "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
        "operations" -> ops,
        "setup" -> Json.obj("total_s" -> setup.total, "session_s" -> setup.session,
          "inputs_s" -> setup.ensure),
        "pass_s" -> passWall.toSeq.map { case (p, s) =>
          Json.obj("pass" -> p, "seconds" -> s, "cpu_s" -> passCpu(p)) },
        "results" -> results.map(r => Json.obj(
          "name" -> r.name, "pass" -> r.pass, "seconds" -> r.wallS, "ok" -> r.ok,
          "error" -> r.error, "rows" -> r.fp.map(_.rows), "hash" -> r.fp.map(_.hex),
          "phases" -> r.phases, "plan" -> r.plan)),
        "verify_s" -> verifyS,
        "checks" -> checks.map { case (c, e) => Json.obj("check" -> c, "error" -> e) },
        "host_controls" -> Json.obj("before" -> ctlBefore, "after" -> ctlAfter),
        "spans" -> trace.toSeq.flatMap(_.spans).map(s => Json.obj("op" -> s.op,
          "name" -> s.name, "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
        "table_spans" -> trace.toSeq.flatMap(_.tableSpans).map(s => Json.obj("op" -> s.op,
          "table" -> s.name, "step" -> s.parent, "start_ms" -> s.startNs / 1000000L,
          "end_ms" -> s.endNs / 1000000L)),
        "counters" -> trace.toSeq.flatMap(_.all.toSeq.sortBy(_._1)).map { case (tag, c) =>
          Json.obj("tag" -> tag) ++ Run.counterFields(c) },
        "summary" -> summary)
      java.nio.file.Files.write(java.nio.file.Paths.get(path), Json.render(full).getBytes("UTF-8"))
    }
    println(Json.render(summary))
  }

  private def query(spark: SparkSession, dir: String, name: String, pass: Int,
                    golden: Map[String, Golden.Entry], tr: Option[Trace]): OpResult = {
    val fn = graft.SparkEntry.queries(name)
    val op = s"$pass:$name"
    val t0 = System.nanoTime()
    try {
      val (fp, phases, plan) = tr match {
        case None =>
          val df = fn(spark, dir)
          val t1 = System.nanoTime()
          val fp = Fingerprint.of(df)
          (fp, Map("construct" -> (t1 - t0) / 1e9, "execute" -> (System.nanoTime() - t1) / 1e9),
            Map.empty[String, Long])
        case Some(t) =>
          val df = t.span(op, "construct", "query")(fn(spark, dir))
          t.span(op, "optimize", "query")(df.queryExecution.optimizedPlan)
          t.span(op, "plan", "query")(df.queryExecution.executedPlan)
          val fp = t.span(op, "execute", "query")(Fingerprint.of(df))
          val wall = t.spans.takeRight(4)
          t.spans += Span(op, "query", "", t0, System.nanoTime())
          (fp, wall.map(s => s.name -> s.seconds).toMap,
            PlanShape.count(df.queryExecution.executedPlan))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val bad = Golden.check(golden, name, fp)
      OpResult(name, pass, wall, bad.isEmpty, bad.getOrElse(""), Some(fp), phases, plan)
    } catch {
      case NonFatal(e) =>
        OpResult(name, pass, (System.nanoTime() - t0) / 1e9, ok = false,
          e.toString.take(300), None, Map.empty, Map.empty)
    }
  }

  private def ingestStep(spark: SparkSession, i: IngestWorkload, name: String, pass: Int,
                         tr: Option[Trace]): OpResult = {
    val t0 = System.nanoTime()
    try {
      tr match {
        case None => Ingest.step(spark, work, i.scale, pass, name)
        case Some(t) => t.span(s"$pass:$name", name)(Ingest.step(spark, work, i.scale, pass, name))
      }
      OpResult(name, pass, (System.nanoTime() - t0) / 1e9, ok = true, "", None, Map.empty, Map.empty)
    } catch {
      case NonFatal(e) =>
        OpResult(name, pass, (System.nanoTime() - t0) / 1e9, ok = false,
          e.toString.take(300), None, Map.empty, Map.empty)
    }
  }

  private def warm: Seq[Int] = passWall.keys.filter(_ > 0).toSeq

  /** (name → (value, unit)) of the end-to-end metrics, plus record-only
    * ones: the per-operation tail where the sample supports one, and the
    * ingest throughputs. */
  private def endToEndMetrics(setup: Main.Setup, heap: Double, rss: Double,
                              sizes: Option[Ingest.Sizes]): Seq[(String, (Double, String))] = {
    val untracedWarm = warm.filter(p => !traced || !Run.tracedPass(p))
    val opSamples = results.filter(r => untracedWarm.contains(r.pass)).map(_.wallS).toSeq
    val base = Seq(
      "setup_s" -> (setup.total -> "s"),
      "cold_pass_s" -> (passWall(0) -> "s"),
      "warm_pass_s" -> (Stats.median(untracedWarm.map(passWall)) -> "s"),
      "retained_heap_mb" -> (heap -> "MB"),
      "jvm.peak_rss_mb" -> (rss -> "MB"),
      "op_samples" -> (opSamples.size.toDouble -> "count")) ++
      Stats.supported(opSamples.size).map(q =>
        f"op_p${q * 100}%.0f_s" -> (Stats.quantile(opSamples, q) -> "s"))
    val ingest = sizes.toSeq.flatMap { z =>
      def stepS(p: Int, s: String) = results.find(r => r.pass == p && r.name == s).get.wallS
      Seq(
        "gen_rows_per_s" -> (Stats.median(untracedWarm.map(p => z.genRows /
          (stepS(p, "tpch_generate") + stepS(p, "tpcds_generate_parquet")))) -> "rows/s"),
        "convert_mb_per_s" -> (Stats.median(untracedWarm.map(p => z.rawBytes / 1e6 /
          stepS(p, "tpch_convert"))) -> "MB/s"),
        "parquet_bytes_per_row" -> (z.parquetBytes.toDouble / z.genRows -> "bytes"))
    }
    base ++ ingest
  }

  /** Per-layer metrics, medians over the traced warm passes. Counts and
    * sizes are reported for every layer on every workload (zero where the
    * workload has no such work); a time is reported only where the layer
    * runs, and the ones not on every workload stay in the record. */
  private def layerMetrics(spark: SparkSession, t: Trace, dir: String, setup: Main.Setup,
                           sizes: Option[Ingest.Sizes]): Seq[(String, (Double, String))] = {
    def perPass(f: Int => Double): Double = Stats.median(Run.tracedWarm.map(f))
    def phaseS(p: Int, phase: String): Double =
      t.spans.filter(s => s.op.startsWith(s"$p:") && s.name == phase).map(_.seconds).sum
    def phaseC(p: Int, phases: Set[String]): Counter =
      t.sum(tag => tag.startsWith(s"$p:") && phases.exists(ph => tag.endsWith(s"/$ph")))
    def planSum(p: Int, k: String) =
      results.filter(_.pass == p).map(_.plan.getOrElse(k, 0L)).sum.toDouble
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val execPhases = w match {
      case _: QueryWorkload => Set("execute")
      case _ => Ingest.steps.toSet
    }
    val execS = (p: Int) => execPhases.toSeq.map(phaseS(p, _)).sum
    val ex = (p: Int) => phaseC(p, execPhases)
    val con = (p: Int) => phaseC(p, Set("construct"))
    val gen = (p: Int) => phaseC(p, Set("tpch_generate", "tpcds_generate_parquet"))
    val conv = (p: Int) => phaseC(p, Set("tpch_convert"))
    val mb = 1024.0 * 1024.0
    val shared = Seq(
      "cli.session_s" -> (setup.session -> "s"),
      "Tables.resolve_s" -> (resolveProbe(spark, dir) -> "s"),
      "trace.warm_pass_s" -> (perPass(passWall) -> "s"),
      "trace.overhead_frac" -> ((perPass(passWall) /
        Stats.median(Run.untracedCompared.map(passWall)) - 1) -> "fraction"),
      "ops.construct_share" -> (perPass(p => phaseS(p, "construct") / passWall(p)) -> "fraction"),
      "ops.construct_jobs" -> (perPass(con(_).jobs.toDouble) -> "count"),
      "ops.infer_jobs" -> (perPass(con(_).inferJobs.toDouble) -> "count"),
      "ops.construct_tasks" -> (perPass(con(_).tasks.toDouble) -> "count"),
      "plans.materialize_jobs" -> (perPass(p =>
        phaseC(p, Set("construct", "optimize", "plan", "execute")).materializeJobs.toDouble) -> "count")) ++
      PlanShape.keys.map(k => s"plans.$k" -> (perPass(planSum(_, k)) -> "count")) ++ Seq(
      "exec.execute_s" -> (perPass(execS) -> "s"),
      "exec.jobs" -> (perPass(ex(_).jobs.toDouble) -> "count"),
      "exec.stages" -> (perPass(ex(_).stages.toDouble) -> "count"),
      "exec.tasks" -> (perPass(ex(_).tasks.toDouble) -> "count"),
      "exec.task_cpu_s" -> (perPass(ex(_).cpuNs / 1e9) -> "s"),
      "exec.task_run_s" -> (perPass(ex(_).runMs / 1e3) -> "s"),
      "exec.gc_s" -> (perPass(ex(_).gcMs / 1e3) -> "s"),
      // file bytes the query plans selected; the ingest steps' task input bytes
      "exec.scan_mb" -> (perPass(p => (w match {
        case _: QueryWorkload => planSum(p, "scan_bytes")
        case _ => ex(p).readBytes.toDouble
      }) / mb) -> "MB"),
      "exec.shuffle_write_mb" -> (perPass(ex(_).shuffleWriteBytes / mb) -> "MB"),
      "exec.spill_mb" -> (perPass(ex(_).spillBytes / mb) -> "MB"),
      "exec.cpu_util" -> (perPass(p => ex(p).cpuNs / 1e9 / (execS(p) * cores)) -> "fraction"),
      "gen.rows" -> (sizes.map(_.genRows.toDouble).getOrElse(0.0) -> "count"),
      "gen.written_mb" -> (perPass(gen(_).writeBytes / mb) -> "MB"),
      "convert.in_mb" -> (sizes.map(_.rawBytes / mb).getOrElse(0.0) -> "MB"),
      "convert.out_mb" -> (perPass(conv(_).writeBytes / mb) -> "MB"))
    val local = w match {
      case q: QueryWorkload => Seq(
        "ops.construct_s" -> (perPass(phaseS(_, "construct")) -> "s"),
        "plans.optimize_s" -> (perPass(phaseS(_, "optimize")) -> "s"),
        "plans.plan_s" -> (perPass(phaseS(_, "plan")) -> "s")) ++
        (if (q.generated) Seq("gen.gencache_ensure_s" -> (setup.ensure -> "s")) else Nil)
      case _ => Seq(
        "gen.tpch_raw_s" -> (perPass(phaseS(_, "tpch_generate")) -> "s"),
        "gen.tpcds_parquet_s" -> (perPass(phaseS(_, "tpcds_generate_parquet")) -> "s"),
        "gen.task_cpu_s" -> (perPass(gen(_).cpuNs / 1e9) -> "s"),
        "convert.wall_s" -> (perPass(phaseS(_, "tpch_convert")) -> "s"),
        "convert.task_cpu_s" -> (perPass(conv(_).cpuNs / 1e9) -> "s"),
        // tables convert concurrently, so the slowest one sets the step's time
        "convert.max_table_s" -> (perPass(p => t.tableSpans
          .filter(_.op == s"$p:tpch_convert").map(_.seconds).maxOption.getOrElse(0.0)) -> "s"))
    }
    shared ++ local
  }

  /** Mean wall of graft.Tables(spark, dir, t) over the fixture tables. */
  private def resolveProbe(spark: SparkSession, dir: String): Double = {
    val ts = graft.Tables.names.map { n =>
      val t0 = System.nanoTime(); graft.Tables(spark, dir, n); (System.nanoTime() - t0) / 1e9
    }
    ts.sum / ts.size
  }

  /** Raw seconds of graft.Bench's fixed control tasks (a host-noise record). */
  private def controls(spark: SparkSession): Map[String, Double] =
    graft.Bench.controlTasks(spark).map { case (n, run) =>
      val t0 = System.nanoTime(); run(); n -> (System.nanoTime() - t0) / 1e9
    }.toMap
}

object Run {
  /** Warm passes per run: one per 15 s asked for, at least two; a traced
    * run always makes five (see the class comment). */
  def warmPasses(seconds: Double, traced: Boolean): Int =
    if (traced) 5 else math.max(2, math.round(seconds / 15).toInt)

  /** A traced run's traced warm passes, and the untraced ones they are
    * compared with; warm pass 1 is in neither. The cold pass is traced too. */
  val tracedWarm: Seq[Int] = Seq(2, 5)
  val untracedCompared: Seq[Int] = Seq(3, 4)
  def tracedPass(pass: Int): Boolean = pass == 0 || tracedWarm.contains(pass)

  /** Operations attempted, and one line per failure: an operation that threw
    * or whose fingerprint disagrees with the golden one, or a failed output
    * check. */
  def tally(results: Seq[OpResult],
            checks: Seq[(String, Option[String])]): (Int, Seq[String]) =
    (results.size + checks.size,
      results.filterNot(_.ok).map(r => s"${r.name}#${r.pass}: ${r.error}") ++
        checks.collect { case (c, Some(e)) => s"$c: $e" })

  def counterFields(c: Counter): Seq[(String, Any)] = Seq(
    "jobs" -> c.jobs, "infer_jobs" -> c.inferJobs, "materialize_jobs" -> c.materializeJobs,
    "stages" -> c.stages, "tasks" -> c.tasks, "task_cpu_ns" -> c.cpuNs,
    "task_run_ms" -> c.runMs, "gc_ms" -> c.gcMs, "read_bytes" -> c.readBytes,
    "write_bytes" -> c.writeBytes, "shuffle_write_bytes" -> c.shuffleWriteBytes,
    "spill_bytes" -> c.spillBytes)
}
