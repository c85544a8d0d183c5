package graft.convert

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.schema.Benchmark
import org.apache.hadoop.fs.Path

/** CSV↔Parquet conversion pipeline — Spark-native re-expression of the
  * reference's `convert_to_parquet` (/root/reference/src/lib.rs:45-120) and
  * `convert_tbl` (src/lib.rs:160-217).
  *
  * Semantics preserved from the reference:
  *  - schema-applied CSV scan, `|` delimiter, custom file extension
  *    (src/lib.rs:55-58) — never schema inference;
  *  - codec whitelist snappy/lz4/lzo/none, everything else rejected
  *    (src/lib.rs:186-199: brotli/gzip/zstd deliberately disabled);
  *  - unknown output format rejected (src/lib.rs:207-212);
  *  - fail-fast: input dir must exist (src/lib.rs:62-64), output table dir
  *    must NOT pre-exist (src/lib.rs:69-71 → Spark SaveMode.ErrorIfExists);
  *  - per-table loop over the benchmark's table names (src/lib.rs:50).
  *
  * Documented deviations (SURVEY §1.2, §1.4):
  *  - the raw-file-only trailing `ignore` column is dropped before writing
  *    (the reference writes it through);
  *  - no temp-dir/flatten dance — Spark natively writes
  *    `dir/part-*.parquet`; part numbering is per-task, not globally
  *    sequential.
  *
  * Scale: each table converts as ONE narrow scan→write job (no shuffle, no
  * driver-side data). At 100 TB the work is embarrassingly parallel over
  * input splits; per-table jobs are independent and are submitted
  * concurrently (the reference converts file-sequentially, src/lib.rs:86).
  * A table's task count follows its raw file count (one split per small
  * file), so raw tables the generators wrote as one part
  * ([[graft.gen.GenUtil.partitionsFor]]) convert in one task each.
  *
  * Local files: every file a write creates (part, `.crc`, `_SUCCESS`) and
  * every directory gets its permission set by Hadoop's local FileSystem,
  * which without the native-hadoop library forks `chmod` for each one
  * and `ls -ld` for each status whose permission is read. graft's
  * sessions register [[graft.io.NioLocalFileSystem]], which does both
  * in-process: the `ingest-sf0.01` benchmark's three passes (generation,
  * this conversion, TPC-DS generation) allocated ~5,100 PIDs per run with
  * the stock class and ~500 with graft's ([[graft.plans.SessionDefaults]]
  * has the ranges).
  */
object Convert {

  /** Fail-fast existence probe through the Hadoop FileSystem API, so the
    * guard is correct for ANY input URI scheme (`hdfs://`, `s3a://`,
    * `file:`, bare paths) — `java.nio.Files.exists` only sees the local
    * POSIX filesystem and would reject a perfectly readable remote input
    * before the job even starts (the same non-POSIX-URI bug class fixed in
    * `plans/ShuffleScale.dirBytes`). */
  private def hadoopExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** True iff the JVM LZO codec parquet-mr resolves for LZO pages is on the
    * classpath. hadoop-lzo is GPL and never ships with Spark, so on a stock
    * deployment this is false and an lzo write would otherwise die MID-JOB
    * with ClassNotFoundException inside a task. (Driver-side probe; Spark
    * deployments ship one classpath to driver and executors.) */
  lazy val lzoCodecPresent: Boolean =
    try { Class.forName("com.hadoop.compression.lzo.LzoCodec"); true }
    catch { case _: Throwable => false }

  /** Codec whitelist (src/lib.rs:186-199). Returns the Spark codec name or
    * throws, mirroring the reference's NotImplemented error. lzo is
    * whitelisted per reference parity, but when the hadoop-lzo codec class
    * is absent we fail HERE — validation time, before any job — with the
    * same deliberate error shape as an unknown codec, instead of a
    * ClassNotFoundException from a running task. */
  def validateCodec(codec: String): String = codec.toLowerCase match {
    case "snappy" => "snappy"
    case "lz4"    => "lz4"
    case "lzo" =>
      if (!lzoCodecPresent) throw new IllegalArgumentException(
        "Unsupported compression codec: lzo (accepted by the reference, but " +
          "com.hadoop.compression.lzo.LzoCodec is not on this classpath — " +
          "hadoop-lzo is GPL and not bundled; install it or use snappy/lz4/none)")
      "lzo"
    case "none" | "uncompressed" => "uncompressed"
    case other =>
      throw new IllegalArgumentException(
        s"Unsupported compression codec: $other (supported: snappy, lz4, lzo, none)")
  }

  /** Output format dispatch (src/lib.rs:184-212): csv | parquet, else error. */
  def validateFormat(format: String): String = format.toLowerCase match {
    case "csv" | "tbl" => "csv"
    case "parquet"     => "parquet"
    case other =>
      throw new IllegalArgumentException(s"Unsupported output format: $other")
  }

  /** Schema-applied raw CSV scan (R1): pipe-delimited, custom extension.
    * The schema must include the trailing `ignore` column for TPC-H raw
    * files (dbgen's trailing '|').
    *
    * `keepIgnore = false` (default) drops it — the junk column carries no
    * data and costs bytes in every downstream scan. `keepIgnore = true`
    * reproduces the reference BYTE-FOR-BYTE: src/lib.rs:181→205 writes
    * dbgen's trailing-delimiter column into the Parquet as a nullable
    * all-NULL Utf8 field (`Field::new("ignore", Utf8, true)`,
    * src/tpch.rs:156,167) — the opt-in closes the one byte-level diff a
    * reference user would see in converted output. */
  def readRaw(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType,
              delimiter: String = "|", keepIgnore: Boolean = false): DataFrame = {
    val df = spark.read
      .schema(schema)
      .option("delimiter", delimiter)
      .option("dateFormat", "yyyy-MM-dd")
      .csv(path)
    if (!keepIgnore && df.columns.contains("ignore")) df.drop("ignore") else df
  }

  /** Convert one table dir (standalone single-table API mirroring
    * `convert_tbl`, src/lib.rs:160-217).
    *
    * `parquetBlockSize`: row-group size in bytes (`parquet.block.size`) —
    * the writer-side parity knob for the reference's pinned batch size
    * (src/lib.rs:102,176 sets WriterProperties batch 8192). Row-group size
    * decides scan split granularity and memory per open group at 100 TB;
    * None keeps parquet-mr's default (128 MiB). */
  def table(spark: SparkSession, inputDir: String, outputDir: String,
            benchmark: Benchmark, tableName: String,
            format: String = "parquet", codec: String = "snappy",
            parquetBlockSize: Option[Long] = None,
            keepIgnore: Boolean = false): Unit = {
    val fmt = validateFormat(format)
    val c = validateCodec(codec)
    val in = s"$inputDir/$tableName.${benchmark.tableExt}"
    if (!hadoopExists(spark, in))
      throw new IllegalArgumentException(s"input path does not exist: $in")
    val out = s"$outputDir/$tableName.$fmt"
    val df = readRaw(spark, in, benchmark.schema(tableName), keepIgnore = keepIgnore)
    fmt match {
      case "parquet" =>
        val w = df.write.mode(SaveMode.ErrorIfExists).option("compression", c)
        parquetBlockSize.foreach(b => w.option("parquet.block.size", b.toString))
        w.parquet(out)
      case "csv" =>
        df.write.mode(SaveMode.ErrorIfExists)
          .option("delimiter", "|").option("dateFormat", "yyyy-MM-dd").csv(out)
    }
  }

  /** Per-table conversion loop (R8, src/lib.rs:45-120). Tables convert
    * CONCURRENTLY through [[graft.plans.Fanout]]: each is an independent
    * scan→write job, so submitting them together lets Spark pack tasks from
    * small tables around the big ones — the improvement the reference left
    * commented out (src/lib.rs:94-104, file-sequential at src/lib.rs:86).
    * A failed table fails the call only after every other table's write
    * has finished. */
  def toParquet(spark: SparkSession, benchmark: Benchmark,
                inputDir: String, outputDir: String,
                codec: String = "snappy",
                parquetBlockSize: Option[Long] = None,
                keepIgnore: Boolean = false): Unit = {
    if (!hadoopExists(spark, inputDir))
      throw new IllegalArgumentException(s"input path does not exist: $inputDir")
    validateCodec(codec)
    graft.plans.Fanout.map(benchmark.tableNames)(t =>
      table(spark, inputDir, outputDir, benchmark, t, "parquet", codec,
        parquetBlockSize, keepIgnore))
  }
}
