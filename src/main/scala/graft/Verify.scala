package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: `Verify <sfDir> <outDir> [name...]` — every declared query, or
  * only the named ones (then `tools/check.py <sfDir> <outDir>` compares
  * just those). */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [name...]")
    val (sfDir, outDir) = (args(0), args(1))
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = plans.SessionDefaults.session()
    // The generated-data oracle SQL pins absolute paths under the DEFAULT
    // cache root (/tmp): with a cacheRoot override, Spark would read the
    // override cache while DuckDB reads /tmp — a confusing mismatch against
    // possibly-stale data. Fail loud up front instead (GenCache.rootFor).
    val cacheRoot = spark.conf.get("spark.graft.cacheRoot", "/tmp")
    require(cacheRoot == "/tmp",
      s"correctness gate must run without a spark.graft.cacheRoot override " +
        s"(found '$cacheRoot'): the DuckDB oracle SQL pins paths under /tmp.")
    dump(spark, sfDir, outDir, names, atOracleScale = true)
    spark.stop()
  }

  /** Dump each named query's result as one parquet file under
    * `outDir/<name>`, then [[writeOracleSlice]]. A query that throws is
    * reported on stderr and skipped. Shuffle files stay on disk until the
    * driver collects them, so a many-query dump at scale runs one query
    * per JVM (`Diag dump --per-jvm`): a System.gc() per query did not stop
    * a whole-suite sf100 dump from filling the disk (r17) and costs ~0.4 s
    * per query at sf0.01. `atOracleScale` refuses generated-data
    * queries whose oracle SQL reads another scale than `sfDir`'s (the gate);
    * the scale sweeps (`Diag dump`) rewrite those paths themselves. */
  def dump(spark: org.apache.spark.sql.SparkSession, sfDir: String, outDir: String,
           names: Seq[String], atOracleScale: Boolean): Unit = {
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val t0 = System.nanoTime()
      try {
        // generated-data oracle SQL (q_tpcds_*, partsupp TPC-H) reads
        // parquet at a path pinned to TpcSql.oracleScale; dumping results
        // from another fixture scale would hash-mismatch against DIFFERENT
        // data. Fail loud instead.
        if (atOracleScale &&
            (ops.Tpcds.queries.contains(name) || ops.TpchFull.queries.contains(name)))
          ops.TpcSql.requireOracleScale(name, sfDir)
        // repartition(1), NOT coalesce(1): coalesce merges into the parent
        // stage and runs the query's final aggregate single-threaded — at
        // sf100 that turned q72's 120 GB-spill aggregation into a one-task
        // crawl. The extra exchange carries only the result rows
        // (tools/check.py sorts rows before comparing).
        SparkEntry.queries(name)(spark, sfDir).repartition(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        println(f"""{"query":"$name","dumped_s":${(System.nanoTime() - t0) / 1e9}%.1f}""")
      } catch { case scala.util.control.NonFatal(e) =>
        // NonFatal only: after an OOM/LinkageError the JVM is suspect and
        // later dumps could be silently wrong — let fatal errors abort.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleSlice(outDir, names)
  }

  /** (Re)write `outDir/oracle_sql.json` covering every dump dir present in
    * outDir plus `names`. Rebuilding from the dir listing makes a top-up
    * run (one re-dumped query) MERGE with the earlier queries' oracle SQL
    * instead of clobbering it. JSON string escape: backslash, quote, and
    * every control char (< 0x20) — a tab or CR in a text would otherwise
    * make the driver's json.load fail and zero the check. */
  def writeOracleSlice(outDir: String, names: Seq[String],
                       sql: Map[String, String] = SparkEntry.oracleSql): Unit = {
    def esc(s: String) = s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val present = Option(new java.io.File(outDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.isDirectory).map(_.getName).toSeq
    val json = (present ++ names).distinct.sorted
      .flatMap(n => sql.get(n).map(n -> _))
      .map { case (n, text) => s""""${esc(n)}": "${esc(text)}"""" }
      .mkString("{", ", ", "}")
    Files.write(Paths.get(outDir, "oracle_sql.json"), json.getBytes("UTF-8"))
  }
}
