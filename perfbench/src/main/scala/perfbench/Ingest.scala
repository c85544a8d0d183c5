package perfbench

import org.apache.spark.sql.SparkSession
import graft.gen.{TpcdsGen, TpchGen}

/** The write path: TPC-H raw generation, its conversion to Parquet, and
  * TPC-DS generated straight to Parquet. No query is constructed. */
object Ingest {
  val partitions = 4
  val steps: Seq[String] = Seq("tpch_generate", "tpch_convert", "tpcds_generate_parquet")

  final case class Sizes(genRows: Long, rawBytes: Long, parquetBytes: Long)

  def dirs(work: String, pass: Int): (String, String, String, String) = {
    val d = s"$work/ingest/pass$pass"
    (d, s"$d/tpch_raw", s"$d/tpch_parquet", s"$d/tpcds_parquet")
  }

  /** Run one step of a pass; the body is graft's public entry point. */
  def step(spark: SparkSession, work: String, scale: Double, pass: Int, name: String): Unit = {
    val (_, raw, conv, ds) = dirs(work, pass)
    name match {
      case "tpch_generate" => TpchGen.generate(spark, scale, partitions, raw)
      case "tpch_convert" => graft.convert.Convert.toParquet(spark, TpchGen, raw, conv)
      case "tpcds_generate_parquet" => TpcdsGen.generateParquet(spark, scale, partitions, ds)
    }
  }

  def sizes(spark: SparkSession, work: String, pass: Int): Sizes = {
    val (_, raw, conv, ds) = dirs(work, pass)
    val rows = TpchGen.tableNames.map(graft.Tables.footerRowCount(spark, conv, _)).sum +
      TpcdsGen.tableNames.map(graft.Tables.footerRowCount(spark, ds, _)).sum
    Sizes(rows, Files.bytes(new java.io.File(raw)),
      Files.bytes(new java.io.File(conv)) + Files.bytes(new java.io.File(ds)))
  }

  /** Fingerprints of a benchmark's Parquet tables, read with their declared
    * schemas (no inference job). */
  def tableFingerprints(spark: SparkSession, dir: String,
                        b: graft.schema.Benchmark): Map[String, Fingerprint] =
    Parallel.map(b.tableNames)(t => t -> Fingerprint.of(
      spark.read.schema(b.schema(t)).parquet(s"$dir/$t.parquet"))).toMap

  /** Fingerprints of the tables a straight-to-Parquet generation writes,
    * keyed `tpch/<table>` and `tpcds/<table>`: what the golden file holds. */
  def directFingerprints(spark: SparkSession, dir: String, scale: Double): Map[String, Fingerprint] = {
    TpchGen.generateParquet(spark, scale, partitions, s"$dir/tpch")
    TpcdsGen.generateParquet(spark, scale, partitions, s"$dir/tpcds")
    tableFingerprints(spark, s"$dir/tpch", TpchGen).map { case (t, fp) => s"tpch/$t" -> fp } ++
      tableFingerprints(spark, s"$dir/tpcds", TpcdsGen).map { case (t, fp) => s"tpcds/$t" -> fp }
  }

  /** Correctness of one pass's outputs: every TPC-H table converted from raw
    * text equals the same table generated straight to Parquet (ConvertSpec's
    * round-trip law), and every TPC-DS table equals its straight-to-Parquet
    * generation. Both references are the golden fingerprints, recorded from
    * `directFingerprints`, so a run does not generate them again. Returns one
    * (check name, mismatch) pair per table. */
  def verify(spark: SparkSession, work: String, pass: Int,
             golden: Map[String, Golden.Entry]): Seq[(String, Option[String])] = {
    val (_, _, conv, ds) = dirs(work, pass)
    def check(kind: String, dir: String, b: graft.schema.Benchmark) =
      tableFingerprints(spark, dir, b).toSeq.sortBy(_._1).map {
        case (t, fp) => s"$kind:$t" -> Golden.check(golden, s"${b.name}/$t", fp)
      }
    check("convert", conv, TpchGen) ++ check("tpcds", ds, TpcdsGen)
  }
}

/** Runs independent Spark actions from a few threads at once, so
  * many small jobs share the cores instead of queueing one by one. */
object Parallel {
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(x)
      }))
      futures.map(_.get())
    } finally pool.shutdown()
  }
}
