package graft.cli

import graft.schema.Benchmark
import graft.convert.Convert
import java.nio.file.{Files, Paths}

/** CLI — re-expression of the reference entry point
  * (/root/reference/src/main.rs:22-119):
  *
  *   generate --benchmark tpch|tpc-h|tpcds|tpc-ds --scale N --partitions N
  *            --output DIR [--format raw|parquet] [--codec snappy]
  *   convert  --benchmark B --input DIR --output DIR [--codec snappy]
  *
  * Deviations from the reference, documented:
  *  - no --generator-path: generation is native Spark (no external
  *    dbgen/dsdgen binary); the flag is accepted and ignored with a warning
  *    so existing invocations keep working (src/main.rs:36-38);
  *  - the reference requires the output dir to pre-exist (src/main.rs:84-86);
  *    we create it — Spark's writer needs to own the table subdirs anyway;
  *  - generate --format parquet is the Spark-native fast path the reference
  *    doesn't have (skips the raw text intermediate).
  *  - generate --partitions N is at most N parts per table: a table with
  *    fewer than [[graft.gen.GenUtil.rowsPerPartition]] rows per part writes
  *    fewer (the 20-row income_band writes one file at any N), where the
  *    reference's generators split their work N ways.
  * Short aliases match structopt's derived short flags: -b -s -p -i -o.
  */
object Main {

  sealed trait Cmd
  final case class Generate(benchmark: String, scale: Double, partitions: Int,
                            output: String, format: String, codec: String,
                            sequentialParts: Boolean = false) extends Cmd
  final case class ConvertCmd(benchmark: String, input: String, output: String,
                              codec: String, keepIgnore: Boolean = false) extends Cmd
  final case class Query(name: String, input: String, output: Option[String],
                         limit: Int) extends Cmd
  final case class Export(table: Option[String], query: Option[String],
                          input: String, output: String, codec: String) extends Cmd
  case object ListQueries extends Cmd

  /** Pure, unit-testable argument parser. Throws IllegalArgumentException on
    * any invalid/missing argument (the reference panics, src/main.rs:77-86). */
  def parse(args: Seq[String]): Cmd = {
    if (args.isEmpty)
      throw new IllegalArgumentException(usage)
    def opts(rest: Seq[String]): Map[String, String] =
      rest.grouped(2).map {
        case Seq(k, v) if k.startsWith("-") => canonical(k) -> v
        case other => throw new IllegalArgumentException(
          s"malformed arguments near: ${other.mkString(" ")}\n$usage")
      }.toMap
    def req(m: Map[String, String], k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing required --$k\n$usage"))
    args.head match {
      case "generate" =>
        val m = opts(args.tail)
        if (m.contains("generator-path"))
          System.err.println("[graft] --generator-path ignored: generation is Spark-native")
        val bench = req(m, "benchmark")
        Benchmark(bench) // validate name (incl. aliases) early
        Generate(bench,
          scale = m.get("scale").map(_.toDouble)
            .getOrElse(throw new IllegalArgumentException(s"missing required --scale\n$usage")),
          partitions = m.getOrElse("partitions", "1").toInt,
          output = req(m, "output"),
          format = m.getOrElse("format", "raw"),
          codec = m.getOrElse("codec", "snappy"),
          // --sequential-parts true: flatten raw part names to the
          // reference's contiguous part-<i>.<ext> layout (src/lib.rs:85-115)
          sequentialParts = m.get("sequential-parts").exists(_.toBoolean))
      case "convert" =>
        val m = opts(args.tail)
        val bench = req(m, "benchmark")
        Benchmark(bench)
        ConvertCmd(bench, input = req(m, "input"), output = req(m, "output"),
          codec = m.getOrElse("codec", "snappy"),
          // --keep-ignore true: write dbgen's trailing junk column into
          // the Parquet exactly like the reference (src/lib.rs:181→205) —
          // byte-level output parity, off by default (SURVEY §1.2)
          keepIgnore = m.get("keep-ignore").exists(_.toBoolean))
      case "query" =>
        if (args.tail == Seq("--list")) ListQueries
        else {
          val m = opts(args.tail)
          val name = req(m, "query")
          if (!graft.SparkEntry.queries.contains(name))
            throw new IllegalArgumentException(
              s"unknown query: $name (see `query --list`)\n$usage")
          Query(name, input = req(m, "input"), output = m.get("output"),
            limit = m.getOrElse("limit", "20").toInt)
        }
      case "export" =>
        val m = opts(args.tail)
        val table = m.get("table")
        val query = m.get("query")
        if (table.isEmpty == query.isEmpty)
          throw new IllegalArgumentException(
            s"export needs exactly one of --table or --query\n$usage")
        query.foreach { q =>
          if (!graft.SparkEntry.queries.contains(q))
            throw new IllegalArgumentException(
              s"unknown query: $q (see `query --list`)\n$usage")
        }
        val codec = m.getOrElse("codec", "none")
        graft.convert.Jsonl.validateCodec(codec) // fail on bad codec at parse time
        Export(table, query, input = req(m, "input"), output = req(m, "output"),
          codec = codec)
      case other =>
        throw new IllegalArgumentException(s"unknown subcommand: $other\n$usage")
    }
  }

  private def canonical(flag: String): String = flag match {
    case "-b" | "--benchmark"      => "benchmark"
    case "-s" | "--scale"          => "scale"
    case "-p" | "--partitions"     => "partitions"
    case "-i" | "--input"          => "input"
    case "-o" | "--output"         => "output"
    case "-g" | "--generator-path" => "generator-path"
    case "-f" | "--format"         => "format"
    case "-c" | "--codec"          => "codec"
    case "-q" | "--query"          => "query"
    case "-l" | "--limit"          => "limit"
    case "-t" | "--table"          => "table"
    case "--keep-ignore"           => "keep-ignore"
    case "--sequential-parts"      => "sequential-parts"
    case other =>
      throw new IllegalArgumentException(s"unknown flag: $other\n$usage")
  }

  val usage: String =
    s"""usage: graft.cli.Main <generate|convert> [options]
      |  generate -b|--benchmark tpch|tpcds -s|--scale N [-p|--partitions N]
      |           -o|--output DIR [-f|--format raw|parquet] [-c|--codec snappy]
      |           [--sequential-parts true]
      |           (-p: at most N parts per table; tables with fewer than
      |           ${graft.gen.GenUtil.rowsPerPartition} rows per part write fewer)
      |  convert  -b|--benchmark tpch|tpcds -i|--input DIR -o|--output DIR
      |           [-c|--codec snappy] [--keep-ignore true]
      |  query    -q|--query NAME -i|--input SFDIR [-o|--output DIR]
      |           [-l|--limit N]   (or: query --list)
      |  export   (-t|--table NAME | -q|--query NAME) -i|--input SFDIR
      |           -o|--output DIR [-c|--codec none|gzip|lz4|snappy]
      |           (JSONL corpus export: DIR/NAME.jsonl/part-*.json[.gz])
      |
      |shuffle sizing: query/export derive spark.sql.shuffle.partitions from
      |  the input dir's measured bytes (ratchet-up only; ~128 MiB/partition,
      |  capped at spark.graft.maxShufflePartitions, default 32768 — raise it
      |  past ~4 TB of input). To pin your own count instead, launch with
      |  --conf spark.graft.fixedShuffle=true (plus your shuffle.partitions).""".stripMargin

  def main(args: Array[String]): Unit = {
    val cmd = parse(args.toIndexedSeq)
    val spark = graft.plans.SessionDefaults.session()
    val t0 = System.nanoTime()
    cmd match {
      case Generate(b, scale, partitions, out, format, codec, seqParts) =>
        Files.createDirectories(Paths.get(out))
        val bench = Benchmark(b)
        format match {
          case "raw" =>
            bench.generate(spark, scale, partitions, out)
            if (seqParts) bench.tableNames.foreach(t =>
              graft.gen.GenUtil.sequentialParts(out, t, bench.tableExt))
          case "parquet" => bench.generateParquet(spark, scale, partitions, out, codec)
          case other => throw new IllegalArgumentException(s"unknown generate format: $other")
        }
        // wall-clock print mirrors src/tpch.rs:85-90 / src/tpcds.rs:79-84
        println(f"Generated $b at sf$scale in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      case ConvertCmd(b, in, out, codec, keepIgnore) =>
        Convert.toParquet(spark, Benchmark(b), in, out, codec,
          keepIgnore = keepIgnore)
        println(f"Converted $b to parquet in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      case ListQueries =>
        graft.SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      case Query(name, in, out, limit) =>
        val df = graft.SparkEntry.queries(name)(spark, in)
        out match {
          case Some(dir) =>
            df.write.mode("errorifexists").parquet(s"$dir/$name.parquet")
            println(f"Wrote $name in ${(System.nanoTime() - t0) / 1e9}%.1f s")
          case None => df.show(limit, truncate = false)
        }
      case Export(table, query, in, out, codec) =>
        val (name, df) = table match {
          case Some(t) => (t, graft.Tables(spark, in, t))
          case None =>
            val q = query.get
            (q, graft.SparkEntry.queries(q)(spark, in))
        }
        graft.convert.Jsonl.write(df, s"$out/$name.jsonl", codec)
        println(f"Exported $name as JSONL in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
