package graft.gen

import org.apache.spark.sql.SparkSession

/** Generate-once materialization cache for benchmark parquet (shared by the
  * TPC-DS and full-TPC-H query workloads — `ops.Tpcds` / `ops.TpchFull`).
  *
  * Safe across THREADS (JVM `synchronized` — also keeps FileChannel.lock
  * from throwing OverlappingFileLockException) and across PROCESSES (an
  * exclusive FileChannel lock on `<sf>.lock` serializes generators, and the
  * dir is built in a temp sibling then ATOMIC_MOVE'd into place with the
  * `_GRAFT_COMPLETE` marker already inside — so the marker is only ever
  * visible in a fully-written dir, and no JVM deletes a dir that carries
  * it). A partial dir from a crashed run has no marker and is swept under
  * the lock, as are stale sibling generations after a genVersion bump.
  *
  * Single-node plumbing: callers version the `root` per generator semantics
  * (`gen<N>`); a multi-driver deployment would use a shared filesystem
  * location, which this same tmp+atomic-rename protocol already supports.
  */
object GenCache {
  /** Cache parent for benchmark materializations. Defaults to `/tmp`
    * (single-node); set `spark.graft.cacheRoot` to a shared-filesystem
    * mount (a POSIX path every driver sees — NFS, FUSE, local SSD array)
    * so a fleet of drivers shares ONE generated-parquet cache: the
    * lock + tmp + atomic-rename + marker protocol below is already
    * multi-process safe on a shared FS, so the first driver generates and
    * the rest wait on the lock then reuse. NOT an HDFS/S3 URI — the
    * protocol uses java.nio file locks, which need a POSIX mount.
    *
    * The DuckDB oracle SQL pins absolute paths under the DEFAULT root
    * ([[graft.ops.TpcSql.oracleScale]]): run the correctness gate without
    * an override (benchmarks at any scale are free to use one). */
  def rootFor(spark: SparkSession, sub: String): String =
    s"${spark.conf.get("spark.graft.cacheRoot", "/tmp").stripSuffix("/")}/$sub"

  /** Materialize `root/<sf-basename>` once; returns the dir. `generate`
    * receives (spark, sf, tmpDir) and must write every table under tmpDir. */
  def ensure(spark: SparkSession, root: String, sfDir: String)
            (generate: (SparkSession, Double, String) => Unit): String =
    synchronized {
      import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
      val base = new java.io.File(sfDir).getName
      require(base.startsWith("sf") && base.drop(2).toDoubleOption.nonEmpty,
        s"cannot derive a scale from fixture dir '$sfDir'")
      val dir = s"$root/$base"
      val dirPath = Paths.get(dir)
      val marker = dirPath.resolve("_GRAFT_COMPLETE")
      if (!Files.exists(marker)) {
        Files.createDirectories(Paths.get(root))
        val lockPath = Paths.get(root, s"$base.lock")
        val ch = java.nio.channels.FileChannel.open(lockPath,
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try {
          val lock = ch.lock() // blocks until any concurrent generator finishes
          try {
            if (!Files.exists(marker)) { // re-check under the lock
              sweep(spark, dirPath) // markerless partial from a crashed run
              sweepStaleSiblings(spark, Paths.get(root))
              val tmp = Paths.get(root, s".$base.tmp")
              sweep(spark, tmp)
              generate(spark, base.drop(2).toDouble, tmp.toString)
              Files.createFile(tmp.resolve("_GRAFT_COMPLETE"))
              Files.move(tmp, dirPath, StandardCopyOption.ATOMIC_MOVE)
              // the dir's bytes and schemas just changed under any earlier
              // (pre-materialization) measurement — drop them
              graft.plans.ShuffleScale.invalidate(spark, dir)
              graft.Catalog.invalidate(spark, dir)
            }
          } finally lock.release()
        } finally ch.close()
      }
      dir
    }

  private def sweep(spark: SparkSession, p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) {
      val it = Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      try it.forEach(f => Files.delete(f)) finally it.close()
      graft.plans.ShuffleScale.invalidate(spark, p.toString)
      graft.Catalog.invalidate(spark, p.toString)
    }
  }

  /** Stale-generation hygiene: a genVersion bump orphans the previous gen*
    * trees under the cache parent — sweep every sibling of `current` when
    * generating a new version, so version bumps don't leak disk. Called
    * under the NEW generation's lock only, which says nothing about the
    * sibling: a concurrently running older-version process (CI during a
    * rolling upgrade) may be mid-generation in it. So a sibling is swept
    * only if every per-scale `<sf>.lock` inside it can be exclusively
    * tryLock'd first — a held lock (or this JVM's own overlapping lock)
    * skips the sibling; it gets swept by a later run once idle.
    * Best-effort throughout — a failure to delete one stale sibling never
    * blocks generation. */
  private[graft] def sweepStaleSiblings(spark: SparkSession, current: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    val parent = current.getParent
    val keep = current.getFileName.toString
    if (parent != null && Files.isDirectory(parent)) {
      val kids = Files.list(parent)
      try kids.forEach { k =>
        if (k.getFileName.toString != keep)
          try sweepIfUnlocked(spark, k)
          catch { case scala.util.control.NonFatal(_) => () }
      } finally kids.close()
    }
  }

  /** Sweep a stale generation dir after acquiring EVERY `*.lock` file inside
    * it (non-blocking). Locks are held through the sweep — deleting a locked
    * file is safe on POSIX, and the owner crashing mid-delete just leaves a
    * markerless partial for the next sweep. A plain file sibling (stray
    * lock of an already-swept generation) is deleted directly.
    *
    * Two TOCTOU guards close the list-then-lock window: (1) after all
    * listed locks are held, the `*.lock` set is re-listed and the sweep
    * aborts if it changed — a generator that created its lock file between
    * the first listing and the acquisitions is detected, not raced; (2) a
    * dir whose listing shows NO lock files is treated as in-use (skipped)
    * while its mtime is fresh, since an older-version process may have
    * created the dir but not yet its first `<sf>.lock`. An idle stale dir
    * is swept by any later run once the mtime ages past the grace window. */
  private val freshDirGraceMs = 15 * 60 * 1000L
  private def sweepIfUnlocked(spark: SparkSession, p: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardOpenOption}
    if (!Files.isDirectory(p)) { Files.deleteIfExists(p); return }
    def listLocks(): List[java.nio.file.Path] = {
      val s = Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.getFileName.toString.endsWith(".lock"))
          .toList.sortBy(_.toString)
      } finally s.close()
    }
    val lockFiles = listLocks()
    if (lockFiles.isEmpty &&
        System.currentTimeMillis() - Files.getLastModifiedTime(p).toMillis
          < freshDirGraceMs) return // just-created by a peer; not yet locked
    val channels = scala.collection.mutable.ListBuffer
      .empty[java.nio.channels.FileChannel]
    try {
      val allAcquired = lockFiles.forall { lf =>
        val ch = java.nio.channels.FileChannel.open(lf,
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        channels += ch
        try ch.tryLock() != null
        catch { case _: java.nio.channels.OverlappingFileLockException => false }
      }
      if (allAcquired && listLocks() == lockFiles) sweep(spark, p)
    } finally channels.foreach(ch =>
      try ch.close() catch { case scala.util.control.NonFatal(_) => () })
  }
}
