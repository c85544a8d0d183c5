package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main: one JSON line on stdout with per-query wall-clock seconds.
  *
  * Each query is forced through FULL execution with the noop sink (a bare
  * count() would let Catalyst prune the projected columns and under-measure).
  * A query that throws is reported in "failed" — never as a timing row; the
  * headline metric sums successful queries only and "n_failed" makes a
  * partial run impossible to mistake for a clean one.
  *
  * AMBIENT-CONTENTION INDEX (r13): two consecutive rounds of driver records
  * were dominated by diffuse host contention (r12: 1.53× total with
  * untouched fixture-only queries 3-4× up; the same code re-measured 1.27×
  * lower in an idle window). A record that can't show its own contention
  * level can't defend any per-query claim, so the run now interleaves three
  * FIXED synthetic control tasks (pure compute / shuffle / sort — no
  * fixture dependency, no round-over-round churn) at five points through
  * the timed pass and reports, per control, the median sample over its
  * committed idle-window reference ([[Bench.controlRef]]). The headline
  * `contention_index` is the median of all sample/ref ratios.
  *
  * CALIBRATION (r13, committed): refs come from a FRESH JVM
  * (`Diag controlcal`); mid-run samples carry the suite JVM's own GC/JIT
  * pressure, so an IDLE-window full 239-query run scores ≈ 1.35, not
  * 1.0 (the r13 record; its first pre-suite sample matched the fresh-JVM
  * ref exactly, mid-run samples rose, the final sort sample came in
  * UNDER ref — in-JVM aging, not ambient load). Read the index as:
  * ≤ ~1.5 = as clean as the committed idle reference; ≥ ~2 sustained =
  * the host was contended (the r12 pattern — untouched queries 3-4× up —
  * would score well above 2) and per-query inflation must be read
  * against it before calling anything a regression.
  */
object Bench {

  /** Fixed synthetic control tasks. Deterministic, fixture-independent,
    * each ~0.2-0.6 s idle on local[32] — long enough to sample scheduler/
    * CPU contention, short enough that 5 interleavings cost ~5 s total. */
  def controlTasks(spark: SparkSession): Seq[(String, () => Unit)] = {
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    Seq(
      // codegen'd hash loop: pure CPU, no shuffle, no IO (hash shifted to
      // 24 bits so the ANSI sum of 2^26 terms can't overflow a long)
      "ctl_cpu" -> (() => noop(
        spark.range(1L << 26).select(
          sum(shiftrightunsigned(xxhash64(col("id")), 40)).as("s")))),
      // 4096-key groupBy: exchange + partial/final agg machinery
      "ctl_shuffle" -> (() => noop(
        spark.range(1L << 23)
          .groupBy(pmod(xxhash64(col("id")), lit(4096)).as("k"))
          .agg(count(lit(1)).as("n"), sum(col("id")).as("s")))),
      // range-partitioned sort: sampling pass + sort buffers
      "ctl_sort" -> (() => noop(
        spark.range(1L << 22)
          .select(xxhash64(col("id")).as("h"), col("id"))
          .orderBy(col("h")))))
  }

  /** Committed idle-window reference medians (seconds) for the control
    * tasks: measured r13 on the build host (median of 15 back-to-back
    * samples in a fresh `local[32]` JVM, idle window) by the calibration
    * main of commit 6115878, `graft.tools.ControlCal 15 32`; recalibrate
    * with `graft.tools.Diag controlcal`. A live run's sample/ref ratios
    * ~1.0 mean the record is as clean as the reference window; re-measure
    * and update alongside any control-task change. */
  val controlRef: Map[String, Double] = Map(
    "ctl_cpu" -> 0.122, "ctl_shuffle" -> 0.440, "ctl_sort" -> 0.641)
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.plans.SessionDefaults.session()
    // untimed warmup: ONE full pass over every query. Generic warmups
    // (scan each table, prime the regexp engine) still left 1-4 s of
    // per-query first-run cost — each query pays its own whole-stage-codegen
    // compile, and that is unattributable noise, not engine throughput. A
    // full pre-pass gives steady-state numbers (round 2: q_fn_string showed
    // 16.7 s cold vs 0.24 s warm — a 70x attribution error), which is what
    // the round-over-round regression gate needs. That holds only while the
    // codegen cache keeps the suite's classes: at Spark's default 100
    // entries the next pass compiled 3,604 classes again (sf0.1,
    // local[4]), so the "warm" reps still paid codegen and JIT warm-up.
    // SessionDefaults sizes the cache to the suite's working set (see its
    // scaladoc).
    spark.range(1L << 20).selectExpr("sum(id) AS s")
      .write.format("noop").mode("overwrite").save()
    // the warmup pass is also the COLD (first-run) timing record: pre-r8
    // rounds reported single-shot numbers, r8+ report warm medians — the
    // cold column keeps the two methodologies comparable side by side
    // (warm-cache reps 2..N typically run faster than a first run)
    val colds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    SparkEntry.queries.toSeq
      .filterNot(q => SparkEntry.pinnedScaleProofs.contains(q._1))
      .sortBy(_._1).foreach { case (name, fn) =>
      try {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        colds(name) = (System.nanoTime() - t0) / 1e9
      // NonFatal only: after an OOM/LinkageError the JVM is suspect and a
      // timed pass would report garbage — let fatal errors abort the run
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    // median-of-REPS per query: three rounds running (r4, r6, r7) a
    // single-shot timing flagged 2-10x "regressions" on queries whose code
    // had not changed — driver-machine contention, each time re-measuring
    // clean. The median of 3 back-to-back runs is robust to one contended
    // rep; min/max land in the per-query file so a genuinely bimodal query
    // is still visible.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val spreads = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // contention controls: warm each once (codegen compile is not ambient
    // load), then sample all three at 5 points interleaved through the
    // timed pass (start, after each quarter, end)
    val controls = controlTasks(spark)
    controls.foreach { case (_, run) => run() }
    val controlSamples =
      scala.collection.mutable.LinkedHashMap(controls.map(_._1 -> scala.collection.mutable.ListBuffer.empty[Double]): _*)
    def sampleControls(): Unit = controls.foreach { case (name, run) =>
      val t0 = System.nanoTime()
      run()
      controlSamples(name) += (System.nanoTime() - t0) / 1e9
    }
    // pinned-scale proof twins run sf1-sized work whatever sfDir says —
    // excluding them keeps the record sf-proportional (their correctness
    // is the driver gate's job, not the bench's)
    val ordered = SparkEntry.queries.toSeq
      .filterNot(q => SparkEntry.pinnedScaleProofs.contains(q._1))
      .sortBy(_._1)
    val checkpoints = (1 to 3).map(q => q * ordered.size / 4).toSet
    sampleControls()
    // stable name order: Map iteration order varies per build, which would
    // shuffle warmup/cache attribution between rounds
    ordered.zipWithIndex.foreach { case ((name, fn), qi) =>
      try {
        val runs = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        timings(name) = runs(runs.size / 2)
        spreads(name) = (runs.head, runs.last)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          failed += name
      }
      if (checkpoints.contains(qi + 1)) sampleControls()
    }
    sampleControls()
    // The harness keeps only a fixed-size stdout TAIL (~2.2 KB); a single
    // JSON line carrying all per-query times (~3-4 KB at 111+ queries) gets
    // front-truncated and has never parsed (BENCH_r01..r04 "parsed": null).
    // Output contract, rear-loaded so the tail window always holds it:
    //   1. per-query times split across multiple ≤1 KB "part" lines;
    //   2. the complete single-line JSON written to SPARK_GRAFT_BENCH_OUT;
    //   3. the FINAL stdout line a compact (<1 KB regardless of query count)
    //      summary — metric/value/unit, failure count, file pointer, and an
    //      md5 over the queries object so the file/parts are verifiable.
    def f(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val entries = timings.map { case (k, v) => s""""$k":${f(v)}""" }.toSeq
    val qs = entries.mkString("{", ",", "}")
    val fl = failed.map(n => s""""$n"""").mkString("[", ",", "]")
    val total = timings.values.sum
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(qs.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    // per-query [min,max] across reps — the contention forensics record
    val spread = spreads.map { case (k, (mn, mx)) => s""""$k":[${f(mn)},${f(mx)}]""" }
      .mkString("{", ",", "}")
    val cold = colds.map { case (k, v) => s""""$k":${f(v)}""" }.mkString("{", ",", "}")
    // contention record: per-control samples + median, the committed idle
    // reference, and one headline index (median of all sample/ref ratios)
    def med(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
    val ctlJson = controlSamples.map { case (k, xs) =>
      s""""$k":{"median":${f(med(xs.toSeq))},"ref":${f(controlRef(k))},"samples":[${xs.map(f).mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val ratios = controlSamples.toSeq.flatMap { case (k, xs) =>
      xs.map(_ / controlRef(k)) }
    val contentionIdx = med(ratios)
    // CONSUMABLE contention (r13 verdict #1): the index used to diagnose
    // but not normalize — cross-round total comparisons still needed a
    // by-hand division. normalized_total = total ÷ contention_index is
    // the mechanical cross-round comparator (BASELINE.md documents the
    // discipline); the one-word verdict applies the committed calibration
    // (idle full run ≈ 1.35 from suite-JVM aging → ≤1.5 clean; ≥2.0 the
    // r12 diffuse-contention pattern → contended; between: elevated).
    val normalizedTotal = total / contentionIdx
    val ctlVerdict =
      if (contentionIdx <= 1.5) "clean"
      else if (contentionIdx < 2.0) "elevated"
      else "contended"
    val fullJson = s"""{"metric":"total","value":${f(total)},"unit":"sec","timing":"median of $reps warm back-to-back runs; cold = untimed-pass first run (pre-r8 rounds reported cold single-shots)","reps":$reps,"queries":$qs,"spread":$spread,"cold":$cold,"cold_total":${f(colds.values.sum)},"failed":$fl,"n_failed":${failed.size},"sf":"$sfDir","contention_index":${f(contentionIdx)},"contention_verdict":"$ctlVerdict","normalized_total":${f(normalizedTotal)},"controls":$ctlJson,"excluded_pinned_scale":${SparkEntry.pinnedScaleProofs.toSeq.sorted.map(n => s""""$n"""").mkString("[", ",", "]")},"queries_md5":"$md5"}"""
    // The per-query record goes to the env-pointed file ONLY. It is NOT
    // auto-written into the repo anymore (r13 verdict #2: two rounds
    // running, a contended driver run silently overwrote the committed
    // clean record and a blind `git add -A` would commit it) — promote a
    // record into /root/repo/BENCH_PERQUERY.json deliberately via
    // `tools/commit_bench.sh`, which refuses a contended record.
    val repoOut = sys.env.get("SPARK_GRAFT_BENCH_REPO_OUT")
    for (p <- Seq(outPath) ++ repoOut) {
      val parent = java.nio.file.Paths.get(p).getParent
      if (parent == null || java.nio.file.Files.isDirectory(parent))
        try java.nio.file.Files.write(java.nio.file.Paths.get(p),
          (fullJson + "\n").getBytes("UTF-8"))
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] write $p failed: ${e.getMessage}") }
    }
    // greedy ≤900-byte packing keeps every part line safely inside a 1 KB
    // window even after the {"part":i,"of":k,...} framing; an entry larger
    // than the budget gets a part of its own (never an infinite split), and
    // an all-failed run emits no empty part line at all
    val parts = scala.collection.mutable.ListBuffer(scala.collection.mutable.ListBuffer.empty[String])
    entries.foreach { e =>
      if (parts.last.nonEmpty && parts.last.map(_.length + 1).sum + e.length > 900)
        parts += scala.collection.mutable.ListBuffer.empty[String]
      parts.last += e
    }
    val k = if (entries.isEmpty) 0 else parts.size
    if (entries.nonEmpty) parts.zipWithIndex.foreach { case (p, i) =>
      println(s"""{"part":${i + 1},"of":$k,"queries":${p.mkString("{", ",", "}")}}""")
    }
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","n":${timings.size},"reps":$reps,"n_failed":${failed.size},"failed":$fl,"sf":"$sfDir","contention_index":${f(contentionIdx)},"contention_verdict":"$ctlVerdict","normalized_total":${f(normalizedTotal)},"per_query_file":"$outPath","per_query_parts":$k,"queries_md5":"$md5"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(0) // failures are visible in the JSON itself
  }
}
