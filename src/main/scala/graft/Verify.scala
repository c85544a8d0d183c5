package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.plans.SessionDefaults.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The generated-data oracle SQL pins absolute paths under the DEFAULT
    // cache root (/tmp): with a cacheRoot override, Spark would read the
    // override cache while DuckDB reads /tmp — a confusing mismatch against
    // possibly-stale data. Fail loud up front instead (GenCache.rootFor).
    val cacheRoot = spark.conf.get("spark.graft.cacheRoot", "/tmp")
    require(cacheRoot == "/tmp",
      s"correctness gate must run without a spark.graft.cacheRoot override " +
        s"(found '$cacheRoot'): the DuckDB oracle SQL pins paths under /tmp.")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try {
        // generated-data oracle SQL (q_tpcds_*, partsupp TPC-H) reads
        // parquet at a path pinned to TpcSql.oracleScale; dumping results
        // from another fixture scale would hash-mismatch against DIFFERENT
        // data. Fail loud instead.
        if (ops.Tpcds.queries.contains(name) || ops.TpchFull.queries.contains(name))
          ops.TpcSql.requireOracleScale(name, sfDir)
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case scala.util.control.NonFatal(e) =>
        // NonFatal only: after an OOM/LinkageError the JVM is suspect and
        // later dumps could be silently wrong — let fatal errors abort.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
