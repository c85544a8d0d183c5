package graft

import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFileAttributes
import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Try
import graft.convert.Convert
import graft.gen.{TpcdsGen, TpchGen}
import graft.io.{NioLocalFileSystem, NioRawLocalFileSystem}
import graft.plans.{Fanout, Materialize}

/** The write path: per-table fan-out (job attribution, failure semantics),
  * generation planned on its own session, and the local FileSystem. */
class IngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val GroupKey = "spark.jobGroup.id"
  private def tempDir(prefix: String) = Files.createTempDirectory(prefix).toString
  private def group(p: Properties): String = Option(p).map(_.getProperty(GroupKey)).orNull

  /** Runs `body` under a listener. Returns its outcome, the wall-clock
    * millisecond it returned at, and each job it started (local
    * properties, end time), read once a later fence job's end has reached
    * the listener, so every event posted before it has too. */
  private def jobsDuring(body: => Any): (Try[Any], Long, Seq[(Properties, Long)]) = {
    val sc = spark.sparkContext
    val starts = new ConcurrentHashMap[Int, Properties]
    val ends = new ConcurrentHashMap[Int, java.lang.Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(e.jobId, e.properties)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)
    }
    sc.addSparkListener(listener)
    try {
      val outcome = Try(body)
      val returned = System.currentTimeMillis()
      val fence = s"fence-${System.nanoTime}"
      val prev = sc.getLocalProperty(GroupKey)
      sc.setLocalProperty(GroupKey, fence)
      try spark.range(1).count() finally sc.setLocalProperty(GroupKey, prev)
      def fenceEnded = starts.asScala.exists { case (j, p) => group(p) == fence && ends.containsKey(j) }
      val deadline = System.currentTimeMillis() + 30000
      while (!fenceEnded && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(fenceEnded, "fence job's end never reached the listener")
      val jobs = starts.asScala.toSeq.collect {
        case (j, p) if group(p) != fence => (p, Option(ends.get(j)).map(_.longValue).getOrElse(Long.MaxValue))
      }
      (outcome, returned, jobs)
    } finally sc.removeSparkListener(listener)
  }

  test("generation plans on a clone: the caller's conf holds during and after the call") {
    val key = "spark.sql.codegen.wholeStage"
    val before = spark.conf.getAll
    val expected = spark.conf.get(key)
    val seen = new ConcurrentLinkedQueue[String]
    val writePlans = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(spark.conf.get(key))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          writePlans.add(s.physicalPlanDescription)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (outcome, _, jobs) =
      try jobsDuring(TpchGen.generateParquet(spark, 0.001, 1, tempDir("graft-conf") + "/pq"))
      finally spark.sparkContext.removeSparkListener(listener)
    outcome.get
    assert(jobs.size == TpchGen.tableNames.size && seen.size >= jobs.size)
    assert(seen.asScala.forall(_ == expected), s"caller's $key during generation: ${seen.asScala.toSet}")
    assert(spark.conf.getAll == before)
    // the writes themselves were planned without whole-stage codegen
    assert(writePlans.size == TpchGen.tableNames.size)
    writePlans.asScala.foreach(p => assert(!p.contains("WholeStageCodegen"), p))
  }

  test("every per-table job and every Materialize leg carries the caller's job group") {
    val sc = spark.sparkContext
    val dir = tempDir("graft-attr")
    TpchGen.generate(spark, 0.001, 1, s"$dir/raw")
    val g = "graft:gen-test"
    sc.setJobGroup(g, "ingest attribution")
    try {
      val calls = Seq(
        "TpcdsGen.generateParquet" -> (TpcdsGen.tableNames.size,
          () => TpcdsGen.generateParquet(spark, 0.001, 1, s"$dir/ds")),
        "Convert.toParquet" -> (TpchGen.tableNames.size,
          () => Convert.toParquet(spark, TpchGen, s"$dir/raw", s"$dir/pq")),
        "Materialize.concurrently" -> (2,
          () => Materialize.concurrently(Seq(spark.range(10).toDF(), spark.range(20).toDF()))))
      for ((name, (n, call)) <- calls) {
        val (outcome, _, jobs) = jobsDuring(call())
        outcome.get
        assert(jobs.size == n, s"$name ran ${jobs.size} jobs, expected $n")
        assert(jobs.forall(j => group(j._1) == g),
          s"$name jobs outside the caller's group: ${jobs.map(j => group(j._1))}")
      }
    } finally sc.clearJobGroup()
  }

  test("a failed table fails the call only after every other table is written") {
    // the helper: every leg runs, then the first failure in input order is
    // thrown with the others suppressed
    val ran = new java.util.concurrent.atomic.AtomicInteger
    val e = intercept[RuntimeException](Fanout.map(1 to 5) { i =>
      ran.incrementAndGet()
      if (i % 2 == 1) throw new RuntimeException(s"leg $i") else i
    })
    assert(ran.get == 5 && e.getMessage == "leg 1")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("leg 3", "leg 5"))

    val dir = tempDir("graft-fail")
    TpchGen.generate(spark, 0.001, 1, s"$dir/raw")
    val cases = Seq(
      (s"$dir/pq", "orders", TpchGen.tableNames,
        () => Convert.toParquet(spark, TpchGen, s"$dir/raw", s"$dir/pq")),
      (s"$dir/ds", "store_sales", TpcdsGen.tableNames,
        () => TpcdsGen.generateParquet(spark, 0.001, 1, s"$dir/ds")))
    for ((out, taken, tables, call) <- cases) {
      // an existing output dir fails that table's write (ErrorIfExists)
      Files.createDirectories(Paths.get(s"$out/$taken.parquet"))
      val (outcome, returned, jobs) = jobsDuring(call())
      val err = outcome.failed.get
      assert(err.getMessage.contains(s"$out/$taken.parquet"), err.getMessage)
      // no job of the call was still running when it returned
      assert(jobs.size == tables.size - 1 && jobs.forall(_._2 <= returned),
        s"jobs ended after the call returned at $returned: ${jobs.map(_._2)}")
      for (t <- tables if t != taken)
        assert(Files.exists(Paths.get(s"$out/$t.parquet/_SUCCESS")), s"$t incomplete")
    }
  }

  test("the session's file: FileSystem sets and reads the bits stock Hadoop would, in-process") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path("file:///").getFileSystem(conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    val raw = fs.asInstanceOf[LocalFileSystem].getRaw
    assert(raw.isInstanceOf[NioRawLocalFileSystem], raw.getClass)

    def bits(p: JPath): Int = {
      val a = Files.readAttributes(p, classOf[PosixFileAttributes])
      import java.nio.file.attribute.PosixFilePermission
      PosixFilePermission.values.foldLeft(0)((m, b) =>
        if (a.permissions.contains(b)) m | (0x100 >> b.ordinal) else m)
    }
    val umask = FsPermission.getUMask(conf)
    val fileBits = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirBits = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt

    // a table Spark wrote: its directory, part file and the part's .crc
    val dir = tempDir("graft-fs")
    val out = Paths.get(s"$dir/t.parquet")
    spark.range(10).coalesce(1).write.parquet(out.toString)
    val names = Files.list(out).iterator().asScala.map(_.getFileName.toString).toSeq
    val part = names.find(n => n.startsWith("part-") && n.endsWith(".parquet")).get
    assert(names.contains(s".$part.crc"), names)
    assert(bits(out) == dirBits)
    assert(bits(out.resolve(part)) == fileBits && bits(out.resolve(s".$part.crc")) == fileBits)

    // a umask other than the process's: only setPermission can produce these
    val c2 = new Configuration(conf)
    c2.set("fs.permissions.umask-mode", "027")
    val fs2 = FileSystem.newInstance(new java.net.URI("file:///"), c2)
    try {
      assert(fs2.isInstanceOf[NioLocalFileSystem])
      fs2.mkdirs(new Path(s"$dir/m/n"))
      fs2.create(new Path(s"$dir/m/n/f")).close()
      assert(bits(Paths.get(s"$dir/m")) == Integer.parseInt("750", 8))
      assert(bits(Paths.get(s"$dir/m/n")) == Integer.parseInt("750", 8))
      assert(bits(Paths.get(s"$dir/m/n/f")) == Integer.parseInt("640", 8))
      assert(bits(Paths.get(s"$dir/m/n/.f.crc")) == Integer.parseInt("640", 8))
      // a sticky bit goes through the stock call and reads back whole
      val sticky = new Path(s"$dir/m")
      fs2.setPermission(sticky, new FsPermission(Integer.parseInt("1750", 8).toShort))
      assert(fs2.getFileStatus(sticky).getPermission.toShort == Integer.parseInt("1750", 8))
    } finally fs2.close()

    // statuses carry the permission, owner and group NIO reads, listed
    // (directory entries and a lone file) or fetched
    val statuses = raw.listStatus(new Path(out.toUri)).toSeq ++
      raw.listStatus(new Path(out.resolve(part).toUri)) :+ fs.getFileStatus(new Path(out.toUri))
    assert(statuses.size == names.size + 2)
    for (st <- statuses) {
      val p = Paths.get(st.getPath.toUri)
      val a = Files.readAttributes(p, classOf[PosixFileAttributes])
      assert(st.getPermission.toShort.toInt == bits(p), st.getPath)
      assert(st.getOwner == a.owner.getName && st.getGroup == a.group.getName, st.getPath)
    }
  }
}
