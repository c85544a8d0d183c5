package graft.probes

import org.apache.spark.sql.SparkSession

/** Multi-driver cache-fleet probe: one INDEPENDENT driver JVM that joins a
  * shared generation cache. Args: `<cacheRoot> <sfDir> <probeId>`.
  *
  * Creates its own SparkSession (its own driver — NOT a thread of the
  * caller), points `spark.graft.cacheRoot` at the shared POSIX root, and
  * asks [[graft.gen.GenCache.ensure]] to materialize a tiny TPC-DS scale.
  * The generate closure appends one line to `<cacheRoot>/gen.log` (O_APPEND,
  * atomic for a single short line on POSIX) before writing tables — so a
  * fleet of N concurrent probes proves EXACTLY-ONCE generation iff the log
  * holds one line when all exit. After ensure returns, the probe validates
  * it never sees a partial cache: the completion marker exists and a fact
  * table reads with the exact declared row count. Exit 0 on success; any
  * require failure exits nonzero (the spec asserts on exit codes too).
  *
  * Used by GenSpec's "two concurrent driver JVMs" case; also runnable by
  * hand against an NFS mount to rehearse a real fleet rollout. */
object GenOnce {
  def main(args: Array[String]): Unit = {
    val Array(cacheRoot, sfDir, probeId) = args.take(3)
    val spark = SparkSession.builder()
      .appName(s"graft-genonce-$probeId")
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.cacheRoot", cacheRoot)
      .getOrCreate()
    try {
      val sf = new java.io.File(sfDir).getName.drop(2).toDouble
      val root = graft.gen.GenCache.rootFor(spark, "gencache_probe")
      val dir = graft.gen.GenCache.ensure(spark, root, sfDir) { (s, scale, tmp) =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(root, "gen.log"),
          s"generated-by-$probeId\n".getBytes,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
        graft.gen.TpcdsGen.generateParquet(s, scale, 4, tmp)
      }
      // no partial reads: marker present, fact row count exact
      require(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_GRAFT_COMPLETE")),
        s"probe $probeId: ensure returned $dir without a completion marker")
      val got = spark.read.parquet(s"$dir/store_sales.parquet").count()
      val want = graft.gen.TpcdsGen.rowCount("store_sales", sf)
      require(got == want,
        s"probe $probeId: partial read — store_sales has $got of $want rows")
      println(s"[genonce] $probeId ok dir=$dir rows=$got")
    } finally spark.stop()
  }
}
