package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. `perfbench/run.py` builds the classpath and
  * launches it; the modes are
  *
  *   prepare --work DIR                  make the inputs (fixture tables,
  *                                       the sf0.1 generated-data caches)
  *   run     --work DIR --workload W --seed N --seconds T --trace 0|1
  *           [--record FILE] [--golden DIR]
  *   golden  --work DIR --workload W --seed N --out FILE
  *                                       fingerprint every query of the
  *                                       workload's family once
  *
  * A run is one client in a closed loop: each operation starts when the
  * previous one has finished. The last stdout line of `run` is the summary.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse("")
    val opts = argv.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val work = opt("work")
    mode match {
      case "prepare" => prepare(work)
      case "run" =>
        Run(work, Workloads(opt("workload")), opt("seed").toLong,
          opt("seconds").toDouble, opt("trace") == "1",
          opts.get("record"), opts.getOrElse("golden", "")).execute()
      case "golden" =>
        Golden.record(work, Workloads(opt("workload")), opt("seed").toLong, opt("out"))
      case other =>
        System.err.println(s"unknown mode '$other' (prepare|run|golden)")
        sys.exit(2)
    }
  }

  def fixtureDir(work: String): String = s"$work/data/sf0.1"

  /** Local session as graft.Bench builds it: local[N] with N ≤ 4 cores and
    * N shuffle partitions, graft's session defaults, everything the session
    * writes kept under the work directory. */
  def session(work: String): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = graft.plans.SessionDefaults.tuned(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.cacheRoot", s"$work/cache")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def prepare(work: String): Unit = {
    val spark = session(work)
    try {
      Fixtures.ensure(spark, fixtureDir(work))
      graft.ops.Tpcds.ensure(spark, fixtureDir(work))
      graft.ops.TpchFull.ensure(spark, fixtureDir(work))
    } finally spark.stop()
  }

  final case class Setup(total: Double, session: Double, ensure: Double)

  /** Process start → session built and the workload's inputs present. */
  def setUp(work: String, w: Workload): (SparkSession, Setup) = {
    val t0 = System.nanoTime()
    val spark = session(work)
    val t1 = System.nanoTime()
    val dir = fixtureDir(work)
    require(new java.io.File(dir, Fixtures.marker).exists(),
      s"fixture tables missing under $dir (run the prepare mode first)")
    w match {
      case q: QueryWorkload if q.generated =>
        graft.ops.Tpcds.ensure(spark, dir)
        graft.ops.TpchFull.ensure(spark, dir)
      case _ => ()
    }
    val t2 = System.nanoTime()
    val now = System.currentTimeMillis()
    val jvmStart = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli).orElse(now)
    (spark, Setup((now - jvmStart) / 1e3, (t1 - t0) / 1e9, (t2 - t1) / 1e9))
  }

  /** Heap still in use after full collections, in MB: what the run left
    * reachable (cached blocks, session state), independent of GC timing. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  /** The host's cumulative CPU tick counters (the `cpu` line of /proc/stat). */
  def hostTicks(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
  }

  /** Share of CPU time the hypervisor stole between two tick samples. */
  def stealFrac(a: Array[Long], b: Array[Long]): Double = {
    val d = b.zip(a).map { case (x, y) => x - y }
    if (d.length > 7 && d.sum > 0) d(7).toDouble / d.sum else 0.0
  }

  /** CPU seconds this JVM has used, all threads (tasks, planning, JIT, GC). */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN) finally src.close()
  }
}

/** Outcome of one operation (one query, or one ingest step). */
final case class OpResult(name: String, pass: Int, wallS: Double, ok: Boolean,
                          error: String, fp: Option[Fingerprint],
                          phases: Map[String, Double], plan: Map[String, Long])

/** Golden fingerprints, one JSON file per workload. */
object Golden {
  final case class Entry(rows: Long, hash: Option[String])

  def path(dir: String, w: Workload): String = s"$dir/${w.name}.json"

  def load(file: String): Map[String, Entry] = {
    val f = new java.io.File(file)
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f)
      val text = try src.mkString finally src.close()
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
      import scala.jdk.CollectionConverters._
      root.get("queries").properties().asScala.map { e =>
        val v = e.getValue
        e.getKey -> Entry(v.get("rows").asLong(), Option(v.get("hash")).map(_.asText()))
      }.toMap
    }
  }

  /** Mismatch description, or None when the fingerprint agrees. */
  def check(golden: Map[String, Entry], name: String, fp: Fingerprint): Option[String] =
    golden.get(name) match {
      case None => Some("no golden fingerprint")
      case Some(Entry(rows, _)) if rows != fp.rows => Some(s"rows ${fp.rows} != golden $rows")
      case Some(Entry(_, Some(h))) if h != fp.hex => Some(s"hash ${fp.hex} != golden $h")
      case _ => None
    }

  /** Fingerprint every query of the workload's whole family once, in the
    * seed's order, and write them as a golden candidate. */
  def record(work: String, w: Workload, seed: Long, out: String): Unit = {
    val spark = Main.session(work)
    val dir = Main.fixtureDir(work)
    val entries = w match {
      case q: QueryWorkload =>
        if (q.generated) { graft.ops.Tpcds.ensure(spark, dir); graft.ops.TpchFull.ensure(spark, dir) }
        Stats.permutation(q.family, seed, 0).map { n =>
          val t0 = System.nanoTime()
          val fp = Fingerprint.of(graft.SparkEntry.queries(n)(spark, dir))
          n -> Json.obj("rows" -> fp.rows, "hash" -> fp.hex,
            "seconds" -> (System.nanoTime() - t0) / 1e9)
        }
      case i: IngestWorkload =>
        val tmp = s"$work/ingest/golden"
        Files.deleteTree(new java.io.File(tmp))
        val fps = Ingest.directFingerprints(spark, tmp, i.scale)
        Files.deleteTree(new java.io.File(tmp))
        fps.toSeq.map { case (t, fp) => t -> Json.obj("rows" -> fp.rows, "hash" -> fp.hex) }
    }
    spark.stop()
    val text = Json.render(Json.obj("workload" -> w.name,
      "queries" -> Json.obj(entries.sortBy(_._1): _*)))
    java.nio.file.Files.write(java.nio.file.Paths.get(out), text.getBytes("UTF-8"))
  }
}
