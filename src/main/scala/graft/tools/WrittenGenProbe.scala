package graft.tools

import org.apache.spark.sql.SparkSession

/** Disk-budgeted WRITTEN-generation measurement at scales whose parquet
  * exceeds free space (r15 verdict #4: replace the sf1000 projection with
  * a measured written number).
  *
  * Method, per table at the target sf:
  *
  *  1. CALIBRATE: write a small fixed slice (up to [[calibRows]] rows) and
  *     measure bytes/row, so the projected full-table size is known before
  *     committing disk.
  *  2. If the projection fits the budget → generate and write the FULL
  *     table, timed (method "full").
  *  3. Else → pick the smallest power-of-two denominator `d` whose
  *     `rows/d` slice fits, write THAT slice timed, and extrapolate
  *     `secs × d` (method "slice×d"). Extrapolation is sound because
  *     generation is a pure per-line map with no shuffle — per-row cost
  *     cannot depend on the line id (TpcdsGen.tableSlice's contract,
  *     GenSpec-pinned: a slice is bit-identical to the full table's id
  *     range) — and the parquet write path is identical. Fixed job
  *     overhead (~1 s) is NOT subtracted, so slices systematically
  *     over-estimate: the extrapolated total is an upper bound.
  *  4. Delete before the next table — transient disk never exceeds the
  *     budget.
  *
  * Writes run on `GenUtil.generationSession` like every committed generation
  * measurement (fused wide-fact projection methods blow HotSpot's 8 KB
  * JIT limit and run interpreted ~3× slower — the r15 root cause).
  *
  * One JSON line per table plus a summary line with the extrapolated
  * total seconds + bytes for the full scale.
  *
  * Usage: SPARK_DRIVER_MEM=48g runMain graft.tools.WrittenGenProbe
  *   <scratchDir> <sf> [--budget-gb=N] [--chunked] [tables...]
  *
  * `--chunked` upgrades step 3 to FULL COVERAGE: the over-budget table is
  * written as ALL `d` disjoint row-range chunks in sequence (each timed,
  * sized, footer-row-counted, deleted before the next), so every row is
  * generated and written exactly once and the reported totals carry zero
  * extrapolation — at the cost of d× the wall time of one slice.
  */
object WrittenGenProbe {
  val calibRows = 4_000_000L

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    require(pos.length >= 2, "usage: WrittenGenProbe <scratchDir> <sf> [--budget-gb=N] [tables...]")
    val scratch = pos(0)
    val sf = pos(1).toDouble
    val tables = if (pos.length > 2) pos.drop(2).toSeq
                 else graft.gen.TpcdsGen.tableNames
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(scratch))
    val budgetBytes = flags.collectFirst { case f if f.startsWith("--budget-gb=") =>
      f.stripPrefix("--budget-gb=").toLong << 30
    }.getOrElse(new java.io.File(scratch).getUsableSpace / 2)
    // --chunked: over-budget tables are written in FULL as sequential
    // disjoint slices (measured sum, no extrapolation) instead of one
    // slice × denominator
    val chunked = flags.contains("--chunked")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"""{"probe":"WrittenGenProbe","sf":$sf,"budget_gb":${budgetBytes >> 30},"cpus":$cpus}""")

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
    val gen = graft.gen.GenUtil.generationSession(spark)
    def writeSlice(tbl: String, lo: Long, hi: Long, out: java.nio.file.Path): Double = {
      rm(out)
      val t0 = System.nanoTime()
      graft.gen.TpcdsGen.tableSlice(gen, tbl, sf, cpus, lo, hi)
        .write.mode("overwrite").parquet(out.toString)
      (System.nanoTime() - t0) / 1e9
    }

    var totalSecs = 0.0
    var totalBytes = 0L
    for (tbl <- tables) {
      val rows = graft.gen.TpcdsGen.rowCount(tbl, sf)
      val out = java.nio.file.Paths.get(scratch, s"$tbl.parquet")
      if (rows == 0L) {
        println(s"""{"table":"$tbl","rows":0,"secs":0.0,"bytes":0,"method":"empty"}""")
      } else {
        // calibrate bytes/row on a small prefix slice — itself budgeted:
        // the widest fact stays under ~400 B/row, so budget/400 rows of
        // calibration can't blow the budget the probe exists to honor
        val cRows = Seq(rows, calibRows,
          math.max(100_000L, budgetBytes / 400)).min
        val cSecs = writeSlice(tbl, 0L, cRows, out)
        val bytesPerRow = du(out).toDouble / cRows
        val projected = (bytesPerRow * rows).toLong
        var denom = 1L
        while (projected / denom > budgetBytes) denom *= 2
        val sliceRows = rows / denom
        require(sliceRows > 0, s"$tbl: budget too small for any slice")
        def f(v: Double) = "%.1f".formatLocal(java.util.Locale.ROOT, v)
        if (denom > 1 && chunked) {
          // FULL-COVERAGE chunked measurement (r16 verdict #3: zero
          // extrapolation): write every one of the `denom` disjoint row
          // ranges sequentially — each timed, byte-counted, row-counted
          // from the parquet footers, then deleted before the next — so
          // the reported secs/bytes are a SUM OF MEASUREMENTS covering
          // every row of the table exactly once. The sum is a measured
          // upper bound on one full write: identical generated rows and
          // write path (slices are bit-identical to the full table's id
          // ranges, GenSpec), plus denom-1 extra fixed job overheads.
          var sumSecs = 0.0; var sumBytes = 0L; var counted = 0L
          for (i <- 0L until denom) {
            val lo = rows * i / denom
            val hi = rows * (i + 1) / denom
            sumSecs += writeSlice(tbl, lo, hi, out)
            counted += spark.read.parquet(out.toString).count()
            sumBytes += du(out)
            rm(out)
          }
          require(counted == rows,
            s"$tbl chunked coverage mismatch: wrote $counted of $rows rows")
          totalSecs += sumSecs; totalBytes += sumBytes
          println(s"""{"table":"$tbl","rows":$rows,"counted_rows":$counted,"secs":${f(sumSecs)},"bytes":$sumBytes,"method":"chunked_x${denom}_full_coverage","extrapolated_secs":${f(sumSecs)},"extrapolated_bytes":$sumBytes}""")
        } else {
          // small tables: the calibration write WAS the full table — reuse
          // its timing instead of writing the identical range twice
          val secs = if (sliceRows == cRows) cSecs
                     else writeSlice(tbl, 0L, sliceRows, out)
          val bytes = du(out)
          rm(out)
          val extSecs = secs * denom
          val extBytes = bytes * denom
          totalSecs += extSecs; totalBytes += extBytes
          println(s"""{"table":"$tbl","rows":$rows,"secs":${f(secs)},"bytes":$bytes,"method":"${if (denom == 1) "full" else s"slice_x$denom"}","extrapolated_secs":${f(extSecs)},"extrapolated_bytes":$extBytes}""")
        }
      }
    }
    def f(v: Double) = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    println(s"""{"probe":"WrittenGenProbe","sf":$sf,"total_extrapolated_secs":${f(totalSecs)},"total_extrapolated_bytes":$totalBytes,"total_gb":${f(totalBytes / 1073741824.0)}}""")
    spark.stop()
  }
}
