package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Third-decade (sf100) evidence probe, disk-budget-aware (r13 verdict #3).
  *
  * The committed generation/workload curves stop at sf10 (4.5 GB parquet);
  * sf100 is ~45 GB, and this host has ~22 GB free — the FULL sf100 cache
  * cannot be resident. So the probe splits the decade claim into the two
  * legs that fit:
  *
  *  1. GENERATION (all 24 tables): each table is generated and written at
  *     sf100, its wall-clock and bytes recorded, and — unless it's in the
  *     resident keep-set — deleted before the next table. The summed time
  *     IS an sf100 generation measurement (generation is per-table
  *     map-only; the per-round end-to-end numbers are the same loop), and
  *     transient disk never exceeds the largest single table (~15 GB).
  *  2. QUERIES (store-sales-resident heavies): the keep-set
  *     (store_sales, item, date_dim, store — ~15 GB) is left as a marker-
  *     completed cache dir and `spark.graft.cacheRoot` points at it, so
  *     the DECLARED q_tpcds_q67/q36/q89/q70/q43 run unmodified at sf100
  *     (1 untimed warm + median of 3, spill metrics via listener). The
  *     catalog/web-resident heavies (Q64/Q23/Q72/Q75) need ≥ 35 GB
  *     co-resident and are DISK-BOUND on this host — that bound is the
  *     committed finding for them, not a number.
  *
  * RESUMABLE: a table whose parquet dir already exists under the probe
  * root is skipped (so a crashed or extended run continues where it
  * stopped), and each query runs under its own try/catch — an ENOSPC on
  * one query is reported as a JSON finding, not a probe abort (the first
  * r14 run died exactly that way: Q67's sf100 shuffle needed more than
  * the 18 GB then free).
  *
  * Usage: `SPARK_DRIVER_MEM=48g sbt "runMain graft.tools.Sf100Probe
  *   [probeRoot] [--keep-all] [query...]"` (default /tmp/graft_sf100 and
  *   the store-sales-resident heavies). `--keep-all` retains every
  *   generated table (~48 GB — needs the disk) so the catalog/web-resident
  *   heavies can run too. The probe root is OUTSIDE the live gen-cache
  *   parent (stale-sibling sweep hygiene). Delete the root when done. */
object Sf100Probe {
  private val defaultKeep = Set("store_sales", "item", "date_dim", "store")
  private val defaultQueries = Seq("q_tpcds_q43", "q_tpcds_q70",
    "q_tpcds_q89", "q_tpcds_q36", "q_tpcds_q67")

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    val keepAll = flags.contains("--keep-all")
    val probeRoot = pos.headOption.getOrElse("/tmp/graft_sf100")
    val queries = if (pos.length > 1) pos.drop(1).toSeq else defaultQueries
    val keep: String => Boolean =
      if (keepAll) _ => true else defaultKeep
    val sf = 100.0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shuffle partitions are ENGINE-DERIVED from measured input bytes
    // (plans.ShuffleScale, hooked into Tpcds.ensure — the r15 closure of
    // the r14 finding that a hand-set 32→256 bump was needed to stop Q72
    // OOMing a 48 GiB heap at sf100). SPARK_GRAFT_SHUFFLE now PINS a
    // count for A/B runs only (sets spark.graft.fixedShuffle so the
    // derivation stands down).
    val pinned = sys.env.get("SPARK_GRAFT_SHUFFLE")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.cacheRoot", probeRoot)
    pinned.foreach { n =>
      b.config("spark.sql.shuffle.partitions", n)
      b.config("spark.graft.fixedShuffle", "true")
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val heap = Runtime.getRuntime.maxMemory() / (1L << 20)
    println(s"[sf100] heap=${heap}MiB cpus=$cpus root=$probeRoot")

    def du(p: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
    def rm(p: java.nio.file.Path): Unit = if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      try s.forEach(java.nio.file.Files.delete(_)) finally s.close()
    }

    // ---- leg 1: generation, non-keep tables first (transient disk) ----
    val dir = java.nio.file.Paths.get(
      s"$probeRoot/graft_tpcds/gen${graft.gen.TpcdsGen.genVersion}/sf100")
    java.nio.file.Files.createDirectories(dir)
    var totalSecs = 0.0; var totalBytes = 0L; var keptBytes = 0L
    val ordered = graft.gen.TpcdsGen.tableNames.partition(!keep(_)) match {
      case (transient, resident) => transient ++ resident
    }
    val gen = graft.gen.GenUtil.generationSession(spark)
    for (tbl <- ordered) {
      val out = dir.resolve(s"$tbl.parquet")
      // resume only on a COMPLETE write (Spark's _SUCCESS marker) — a
      // killed run leaves a partial dir that must regenerate
      if (java.nio.file.Files.exists(out.resolve("_SUCCESS"))) {
        val bytes = du(out)
        keptBytes += bytes
        println(f"""{"table":"$tbl","resumed":true,"bytes":$bytes,"kept":true}""")
      } else {
        rm(out) // partial from a killed run
        val t0 = System.nanoTime()
        // Same execution discipline as generateParquet (r15), on its
        // whole-stage-codegen-off session clone: fused
        // whole-stage methods for the widest facts exceed HotSpot's 8 KB
        // JIT limit and run INTERPRETED — the r14 probe wrote via a bare
        // table().write and paid ~3x on the two big facts (sf10 A/B:
        // catalog_sales 27.1 s fused vs 9.2 s non-fused, store_sales
        // 36.1 vs 8.8). Queries in leg 2 keep WSCG.
        graft.gen.TpcdsGen.table(gen, tbl, sf, cpus.toInt)
          .write.mode("overwrite").parquet(out.toString)
        val secs = (System.nanoTime() - t0) / 1e9
        val bytes = du(out)
        totalSecs += secs; totalBytes += bytes
        val kept = keep(tbl)
        if (kept) keptBytes += bytes else rm(out)
        println(f"""{"table":"$tbl","wall_s":$secs%.1f,"bytes":$bytes,"kept":$kept}""")
      }
    }
    println(f"""{"generation_total_s":$totalSecs%.1f,"generation_total_bytes":$totalBytes,"resident_bytes":$keptBytes,"sf":100}""")
    // The completeness marker deliberately short-circuits GenCache.ensure
    // (this session's queries must read the probe dir without regenerating),
    // but a marker over a PARTIAL keep-set would poison any LATER session
    // pointing cacheRoot here: GenCache would see "complete" and hit
    // FileNotFoundException on a deleted table. So _GRAFT_COMPLETE is only
    // written when every table is resident (--keep-all); the default
    // keep-set case gets _GRAFT_PARTIAL, which only a session that opts in
    // via spark.graft.acceptPartial=true (this one, below) may read —
    // anyone else regenerates, as GenCache always did (r14 ADVICE fix).
    val marker = if (keepAll) "_GRAFT_COMPLETE" else "_GRAFT_PARTIAL"
    if (!java.nio.file.Files.exists(dir.resolve(marker)))
      java.nio.file.Files.createFile(dir.resolve(marker))
    if (!keepAll) spark.conf.set("spark.graft.acceptPartial", "true")

    // ---- leg 2: store-sales-resident declared heavies at sf100 ----
    val memSpill = new java.util.concurrent.atomic.AtomicLong
    val diskSpill = new java.util.concurrent.atomic.AtomicLong
    val retries = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
        }
        if (!te.reason.toString.startsWith("Success")) retries.incrementAndGet()
      }
    })
    def gb(b: Long): String = f"${b / 1073741824.0}%.1f"
    for (name <- queries) {
      // Shuffle files are reclaimed by ContextCleaner only after the
      // driver GCs the stage objects — and a 48 GiB heap under these
      // queries may never GC on its own, so each query's map outputs
      // (GBs at sf100) accumulate on disk across the run. The first r15
      // probe died exactly that way: 16 runs of leftovers + q67's own
      // shuffle hit ENOSPC on a 30 GB-free host. Force the cleanup
      // between queries; the pause is outside the timed reps.
      System.gc()
      Thread.sleep(2000)
      try {
        val fn = graft.SparkEntry.queries(name)
        fn(spark, "sf100").write.format("noop").mode("overwrite").save() // warm
        memSpill.set(0); diskSpill.set(0); retries.set(0)
        val runs = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, "sf100").write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        Thread.sleep(1000) // listener drain
        println(f"""{"query":"$name","warm_median_s":${runs(1)}%.1f,"runs":[${runs.map(r => f"$r%.1f").mkString(",")}],"mem_spill_gb":${gb(memSpill.get)},"disk_spill_gb":${gb(diskSpill.get)},"task_retries":${retries.get}}""")
      } catch {
        case e: Throwable =>
          val root = Option(e.getCause).getOrElse(e)
          println(s"""{"query":"$name","status":"FAILED","error":"${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("").take(120).replace('"', '\'').replace('\n', ' ')}"}""")
      }
    }
    spark.stop()
  }
}
