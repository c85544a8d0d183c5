package graft.plans

import org.apache.spark.sql.SparkSession

/** Data-proportional shuffle sizing — the engine derives shuffle
  * partition count from measured input bytes instead of inheriting a
  * fixed session default (r14 verdict #2).
  *
  * Why: a FIXED partition count is a latent OOM one decade up. The r14
  * sf100 probe measured it exactly: at shuffle.partitions = 32, 1/32nd of
  * Q72's catalog_sales⋈inventory build side no longer fit one task's
  * execution memory and a 48 GiB heap died (SparkOutOfMemoryError); the
  * same query at 256 partitions spilled 165 GB gracefully with zero task
  * retries (SCALE.md §5). The deployment contract is partitions ∝ data —
  * so the engine computes the count where it first learns the data size.
  *
  * How: [[tuneFor]] runs right after a scale-dependent materialization
  * resolves its table directory ([[graft.ops.Tpcds.ensure]] /
  * [[graft.ops.TpchFull.ensure]] / [[graft.Tables]] — the chokepoints
  * every query passes through). It measures the directory's on-disk bytes
  * through the Hadoop FileSystem API — so `file:`, `hdfs:` and `s3a:`
  * inputs all measure correctly on a real cluster (r15 verdict #1; the
  * previous java.nio walk read 0 bytes for any non-POSIX URI and silently
  * degraded to the session floor — resurrecting the exact OOM this knob
  * kills). The session's `spark.sql.shuffle.partitions` is then RATCHETED
  * UP to `ceil(bytes / 128 MiB)` (floored at core parallelism, capped at
  * [[maxPartitions]]) — never lowered. Ratchet-only matters because
  * DataFrames are lazy: a query built over a large dir executes at
  * whatever the conf holds at ACTION time, so a later touch of a small
  * fixture dir must not drag the session back down (r15 ADVICE). AQE (on
  * by default in Spark 4) coalesces DOWN per-stage to its advisory size —
  * a scale-safe ceiling costs small queries nothing, while the reverse (a
  * small default exploding UP) is impossible for AQE and fatal at scale.
  * At the sf0.01 correctness gate and the sf0.1 bench the derived value
  * equals the session floor, so gate behavior is byte-identical to the
  * pre-derivation engine.
  *
  * 128 MiB of COMPRESSED parquet input per partition keeps the per-task
  * uncompressed working set in the hundreds of MB — under the ≈150 MiB
  * execution-memory-per-task boundary SCALE.md §1 measured only via
  * spill, never via failure, and ~3× finer than the 256 that already ran
  * Q72's sf100 decade clean.
  *
  * Escape hatch: a session that must PIN its shuffle count — an A/B
  * (SpillBench heap ladders, the probe's SPARK_GRAFT_SHUFFLE override) or
  * a user-chosen count on the CLI query/export path — sets
  * `spark.graft.fixedShuffle=true` and tuneFor leaves the session
  * untouched (documented in the CLI usage text, `cli/Main.scala`).
  */
object ShuffleScale {
  /** Compressed input bytes one shuffle partition should carry. */
  val targetBytesPerPartition: Long = 128L << 20

  /** Default sanity ceiling (≈4 TB of compressed input before tasks
    * coarsen). NOT a law: past the cap, per-task input grows linearly
    * with data and AQE can only coalesce DOWN, never split — so a real
    * 100 TB deployment (needs ~800k partitions at 128 MiB) raises
    * `spark.graft.maxShufflePartitions` with its executor count instead
    * of silently running 3 GB tasks. */
  val maxPartitions: Int = 32768

  /** Session-scoped cap: `spark.graft.maxShufflePartitions`, defaulting
    * to [[maxPartitions]]. */
  def capFor(spark: SparkSession): Int =
    spark.conf.get("spark.graft.maxShufflePartitions", maxPartitions.toString).toInt

  /** Pure derivation: `clamp(ceil(bytes / 128 MiB), floor, cap)`. */
  def derive(inputBytes: Long, floor: Int, cap: Int = maxPartitions): Int = {
    val need = math.ceil(inputBytes.toDouble / targetBytesPerPartition)
    math.min(math.max(need, floor.toDouble), cap.toDouble).toInt
  }

  private val bytesCache = new scala.collection.concurrent.TrieMap[String, Long]

  /** Recursive on-disk size of a materialized dir, measured through the
    * Hadoop FileSystem resolved for the path's scheme (bare paths resolve
    * against `fs.defaultFS`, exactly as `spark.read` does) — so the
    * derivation works on `file:`, `hdfs:` and `s3a:` alike. Returns 0 for
    * a missing path. Only POSITIVE sizes are cached (generated cache dirs
    * are immutable once marker'd); a missing/empty dir is re-measured on
    * the next call, so measuring before materialization can never pin the
    * session at the floor (r15 ADVICE). */
  def dirBytes(spark: SparkSession, path: String): Long = {
    // qualified, so GenCache's post-sweep invalidate can never leave a
    // stale byte count alive under an alias spelling
    val key = graft.Catalog.qualified(path, spark.sparkContext.hadoopConfiguration)
    bytesCache.get(key).getOrElse {
      val n = measure(spark, path)
      if (n > 0L) bytesCache.put(key, n)
      n
    }
  }

  private def measure(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Forget cached measurements at/under/above `path` — GenCache calls
    * this after generating into or sweeping a dir, because the bytes
    * changed underneath any earlier measurement. Takes the SparkSession
    * so the target qualifies through EXACTLY the Hadoop conf `dirBytes`
    * keyed with (r17 ADVICE: the previous thread-local-session lookup
    * could fall back to a fresh Configuration that qualifies bare paths
    * as file:/..., silently missing hdfs:-qualified keys). */
  def invalidate(spark: SparkSession, path: String): Unit =
    graft.Catalog.forget(bytesCache, spark.sparkContext.hadoopConfiguration, path)

  private val ratchetLock = new Object

  /** Ratchet the session's shuffle partitions up to `dir`'s derived
    * count (never down — see scaladoc); returns the count in force.
    * No-op under `spark.graft.fixedShuffle`. The read-max-write runs
    * under a lock: two concurrent tuneFor calls racing on one session
    * could otherwise interleave reads and LOWER the conf (thread A reads
    * 32, B reads 32 and sets 32768, A sets its smaller max) — exactly the
    * drag-down the ratchet exists to prevent. Measurement (dirBytes) is
    * kept outside the critical section. */
  def tuneFor(spark: SparkSession, dir: String): Int =
    if (spark.conf.get("spark.graft.fixedShuffle", "false") == "true")
      spark.conf.get("spark.sql.shuffle.partitions").toInt
    else {
      val derived = derive(dirBytes(spark, dir),
        spark.sparkContext.defaultParallelism, capFor(spark))
      ratchetLock.synchronized {
        val current = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val n = math.max(derived, current)
        if (n != current) spark.conf.set("spark.sql.shuffle.partitions", n.toString)
        n
      }
    }
}
