package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.convert.{Convert, Jsonl}
import graft.gen.TpchGen
import java.nio.file.Files

/** Conversion pipeline (SURVEY §5.1/§5.3): codec/format whitelists mirror the
  * reference's NotImplemented rejections (src/lib.rs:186-199, 207-212);
  * fail-fast semantics mirror src/lib.rs:62-71; the round-trip property is
  * generate(raw .tbl) → convert → read-back == generated DataFrame. */
/** Offline stand-in for a remote FS scheme: RawLocalFileSystem re-badged as
  * `rawtest:` (checkPath validates the scheme against getUri, so the base
  * class rejects any non-`file:` path). */
class RawTestFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("rawtest:///")
}

class ConvertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("codec whitelist: snappy/lz4/lzo/none pass, others rejected") {
    assert(Convert.validateCodec("snappy") == "snappy")
    assert(Convert.validateCodec("LZ4") == "lz4")
    assert(Convert.validateCodec("none") == "uncompressed")
    assert(Convert.validateCodec("uncompressed") == "uncompressed")
    // brotli/gzip/zstd are deliberately disabled in the reference
    Seq("gzip", "zstd", "brotli", "nope").foreach { c =>
      assertThrows[IllegalArgumentException](Convert.validateCodec(c))
    }
  }

  test("lzo end-to-end: real round-trip when the codec exists, fail-fast when not") {
    import spark.implicits._
    val df = Seq((1L, "alpha"), (2L, "beta")).toDF("k", "v")
    if (Convert.lzoCodecPresent) {
      // environment actually has hadoop-lzo: the whitelist passes it
      // through and a write+read round-trip must preserve the data
      assert(Convert.validateCodec("lzo") == "lzo")
      val out = java.nio.file.Files.createTempDirectory("lzo").toString + "/t.parquet"
      df.write.option("compression", "lzo").parquet(out)
      assert(spark.read.parquet(out).exceptAll(df).count() == 0)
    } else {
      // stock classpath (this container): validation itself must throw the
      // deliberate IllegalArgumentException BEFORE any job — never a
      // mid-task ClassNotFoundException
      val e = intercept[IllegalArgumentException](Convert.validateCodec("lzo"))
      assert(e.getMessage.contains("lzo") && e.getMessage.contains("classpath"),
        e.getMessage)
    }
  }

  test("format dispatch: csv/parquet pass, others rejected") {
    assert(Convert.validateFormat("parquet") == "parquet")
    assert(Convert.validateFormat("csv") == "csv")
    assertThrows[IllegalArgumentException](Convert.validateFormat("orc"))
  }

  test("fail-fast: missing input dir throws") {
    assertThrows[IllegalArgumentException](
      Convert.toParquet(spark, TpchGen, "/does/not/exist", "/tmp/never"))
  }

  test("fail-fast guards resolve non-file: URI schemes through the Hadoop FS API") {
    // r16 verdict #1: the guards used java.nio.Files.exists, which returns
    // false for ANY hdfs://-style URI and killed cluster conversions with a
    // FALSE "input path does not exist". Register an offline alias scheme
    // backed by RawLocalFileSystem and prove the guard (a) sees an existing
    // input through the scheme and the conversion completes, (b) still
    // rejects a genuinely missing path under the same scheme.
    spark.sparkContext.hadoopConfiguration
      .set("fs.rawtest.impl", classOf[RawTestFileSystem].getName)
    val dir = Files.createTempDirectory("graft-uri").toString
    TpchGen.generate(spark, 0.001, 1, s"$dir/raw")
    Convert.table(spark, s"rawtest:$dir/raw", s"$dir/pq", TpchGen, "region")
    val expected = TpchGen.table(spark, "region", 0.001, 1)
    val actual = spark.read.parquet(s"$dir/pq/region.parquet")
    assert(actual.exceptAll(expected).count() == 0 &&
      expected.exceptAll(actual).count() == 0)
    // a java.nio guard would have thrown the SAME message for the good path
    // above; the missing-path rejection must still fire through the scheme
    val e = intercept[IllegalArgumentException](
      Convert.table(spark, s"rawtest:$dir/nope", s"$dir/pq2", TpchGen, "region"))
    assert(e.getMessage.contains("input path does not exist"))
  }

  test("round-trip: generate raw .tbl → convert → read-back equals generated") {
    val dir = Files.createTempDirectory("graft-rt").toString
    TpchGen.generate(spark, 0.001, 2, s"$dir/raw")
    Convert.toParquet(spark, TpchGen, s"$dir/raw", s"$dir/pq")
    TpchGen.tableNames.foreach { t =>
      val expected = TpchGen.table(spark, t, 0.001, 2)
      val actual = spark.read.parquet(s"$dir/pq/$t.parquet")
      assert(actual.columns.toSeq == expected.columns.toSeq, s"$t columns")
      val missing = expected.exceptAll(actual).count()
      val extra = actual.exceptAll(expected).count()
      assert(missing == 0 && extra == 0,
        s"$t round-trip mismatch: $missing missing, $extra extra")
    }
    // pre-existing output dir must fail (SaveMode.ErrorIfExists)
    assertThrows[Exception](
      Convert.table(spark, s"$dir/raw", s"$dir/pq", TpchGen, "region"))
  }

  test("keep-ignore passthrough reproduces the reference's junk column byte layout") {
    // the reference writes dbgen's trailing-delimiter column into Parquet
    // as a nullable all-NULL Utf8 field (src/lib.rs:181→205, declared at
    // src/tpch.rs:156,167); --keep-ignore true is the byte-parity opt-in
    val dir = Files.createTempDirectory("graft-ki").toString
    TpchGen.generate(spark, 0.001, 2, s"$dir/raw")
    Convert.table(spark, s"$dir/raw", s"$dir/pq", TpchGen, "region",
      keepIgnore = true)
    val kept = spark.read.parquet(s"$dir/pq/region.parquet")
    assert(kept.columns.last == "ignore", "junk column must be the trailing field")
    assert(kept.schema("ignore").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(kept.filter(org.apache.spark.sql.functions.col("ignore").isNotNull)
      .count() == 0, "reference parity: the ignore column is all-NULL")
    // default path still drops it (the engine's documented improvement)
    Convert.table(spark, s"$dir/raw", s"$dir/pq2", TpchGen, "region")
    assert(!spark.read.parquet(s"$dir/pq2/region.parquet")
      .columns.contains("ignore"))
    // CLI flag parses through
    val cmd = graft.cli.Main.parse(Seq("convert", "-b", "tpch", "-i", "x",
      "-o", "y", "--keep-ignore", "true"))
    assert(cmd == graft.cli.Main.ConvertCmd("tpch", "x", "y", "snappy", true))
  }

  test("sequential-parts flattens raw part names to the reference layout") {
    // the reference flattens dbgen's chunk files into contiguous part
    // numbering (src/lib.rs:85-115); Spark names parts per task — the
    // opt-in rename closes SURVEY §1.4's naming deviation
    val dir = Files.createTempDirectory("graft-sq").toString
    // three parts to flatten (the writers give sf0.001 lineitem one part)
    graft.gen.GenUtil.writeRaw(TpchGen.table(spark, "lineitem", 0.001, 3), s"$dir/raw",
      "lineitem", TpchGen.tableExt, trailingPipe = true)
    graft.gen.GenUtil.sequentialParts(s"$dir/raw", "lineitem", TpchGen.tableExt)
    val files = new java.io.File(s"$dir/raw/lineitem.tbl").listFiles
      .map(_.getName).filter(_.startsWith("part-"))
    assert(files.length == 3 && files.forall(_.matches("part-\\d+\\.tbl")),
      s"non-reference part names: ${files.mkString(", ")}")
    assert(files.map(_.stripPrefix("part-").stripSuffix(".tbl").toInt).sorted
      .toSeq == (0 until files.length), "numbering must be contiguous from 0")
    // pure naming: the renamed layout still reads back identically
    val rt = Convert.readRaw(spark, s"$dir/raw/lineitem.tbl",
      TpchGen.schema("lineitem"))
    val expected = TpchGen.table(spark, "lineitem", 0.001, 3)
    assert(rt.exceptAll(expected).count() == 0 &&
      expected.exceptAll(rt).count() == 0)
    // CLI flag parses through
    val cmd = graft.cli.Main.parse(Seq("generate", "-b", "tpch", "-s", "0.001",
      "-o", "x", "--sequential-parts", "true"))
    assert(cmd.asInstanceOf[graft.cli.Main.Generate].sequentialParts)
  }

  test("sequential-parts is idempotent past 10 parts and skips missing dirs") {
    // r15 ADVICE: on an already-flattened dir lexicographic order puts
    // part-10 before part-2, and the old single-phase rename collided on
    // the existing part-2.<ext> (FileAlreadyExistsException, half-renamed
    // table). The two-phase numeric-ordered rename must be a no-op here.
    val d = Files.createDirectories(
      Files.createTempDirectory("graft-sqi").resolve("t.tbl"))
    val contents = (0 until 12).map(i => i -> s"row-of-part-$i\n")
    contents.foreach { case (i, c) =>
      Files.write(d.resolve(s"part-$i.tbl"), c.getBytes) }
    graft.gen.GenUtil.sequentialParts(d.getParent.toString, "t", "tbl")
    val after = d.toFile.listFiles.map(_.getName).sorted.toSeq
    assert(after == (0 until 12).map(i => s"part-$i.tbl").sorted.toSeq)
    // content follows the numeric order: part-i still holds part-i's bytes
    contents.foreach { case (i, c) =>
      assert(new String(Files.readAllBytes(d.resolve(s"part-$i.tbl"))) == c) }
    // a table absent from the output (subset generation) is skipped
    graft.gen.GenUtil.sequentialParts(d.getParent.toString, "nope", "tbl")
    // a crash between phases leaves .tmpseq stragglers — recovered on re-run
    Files.move(d.resolve("part-3.tbl"), d.resolve("part-3.tbl.tmpseq"))
    graft.gen.GenUtil.sequentialParts(d.getParent.toString, "t", "tbl")
    assert(new String(Files.readAllBytes(d.resolve(s"part-3.tbl"))) ==
      contents(3)._2)
  }

  test("parquet block-size knob reaches the writer (small blocks → many row groups)") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft-blk").toString
    TpchGen.generate(spark, 0.001, 1, s"$dir/raw")
    Convert.table(spark, s"$dir/raw", s"$dir/default", TpchGen, "lineitem")
    Convert.table(spark, s"$dir/raw", s"$dir/small", TpchGen, "lineitem",
      parquetBlockSize = Some(16 * 1024L))
    def rowGroups(out: String): Int = {
      val conf = spark.sessionState.newHadoopConf()
      new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
          try r.getFooter.getBlocks.size finally r.close()
        }.sum
    }
    val d = rowGroups(s"$dir/default/lineitem.parquet")
    val sm = rowGroups(s"$dir/small/lineitem.parquet")
    assert(d == 1, s"~6k rows fit one default 128MiB row group, got $d")
    assert(sm > 1, s"16KiB block size must split into multiple row groups, got $sm")
  }

  test("TPC-DS raw .dat round-trips (no trailing ignore column)") {
    import graft.gen.TpcdsGen
    val dir = Files.createTempDirectory("graft-ds-rt").toString
    // a fixed-cardinality dim and a scaled fact, raw .dat → parquet
    Seq("call_center", "store_sales").foreach { t =>
      val raw = s"$dir/raw/$t.${TpcdsGen.tableExt}"
      TpcdsGen.table(spark, t, 0.001, 2).write
        .option("delimiter", "|").option("dateFormat", "yyyy-MM-dd").csv(raw)
      Convert.table(spark, s"$dir/raw", s"$dir/pq", TpcdsGen, t)
      val expected = TpcdsGen.table(spark, t, 0.001, 2)
      val actual = spark.read.parquet(s"$dir/pq/$t.parquet")
      assert(actual.columns.toSeq == expected.columns.toSeq, s"$t columns")
      assert(expected.exceptAll(actual).count() == 0 &&
        actual.exceptAll(expected).count() == 0, s"$t round-trip mismatch")
    }
  }

  test("csv sink writes and reads back (R3)") {
    val dir = Files.createTempDirectory("graft-csv").toString
    TpchGen.generate(spark, 0.001, 1, s"$dir/raw")
    Convert.table(spark, s"$dir/raw", s"$dir/out", TpchGen, "nation", format = "csv")
    val schemaNoIgnore = org.apache.spark.sql.types.StructType(
      TpchGen.schema("nation").fields.filterNot(_.name == "ignore"))
    val back = spark.read.schema(schemaNoIgnore)
      .option("delimiter", "|").option("dateFormat", "yyyy-MM-dd")
      .csv(s"$dir/out/nation.csv")
    assert(back.count() == 25)
  }

  test("jsonl sink/source round-trips documents exactly (plain and gzip)") {
    val dir = Files.createTempDirectory("graft-jsonl").toString
    val docs = Tables(spark, TestSpark.sf001, "documents")
    for ((codec, sub) <- Seq("none" -> "plain", "gzip" -> "gz")) {
      Jsonl.write(docs, s"$dir/$sub", codec)
      val back = Jsonl.read(spark, s"$dir/$sub", docs.schema)
      assert(back.count() == docs.count())
      assert(back.exceptAll(docs).count() == 0, s"$codec round-trip diverged")
      assert(docs.exceptAll(back).count() == 0, s"$codec round-trip diverged")
    }
    // gzip parts actually got the extension (compression reached the writer)
    val gzParts = new java.io.File(s"$dir/gz").listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(gzParts.nonEmpty && gzParts.forall(_.getName.endsWith(".json.gz")))
    // whitelist: unknown codec rejected, write refuses to clobber
    intercept[IllegalArgumentException] { Jsonl.validateCodec("brotli") }
    intercept[Exception] { Jsonl.write(docs, s"$dir/plain") }
  }
}
