package graft.schema

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Spark-native re-expression of the reference's `Tpc` trait
  * (/root/reference/src/lib.rs:28-43): a benchmark = named tables with fixed
  * schemas, a raw-file extension, and a deterministic partition-parallel
  * generation procedure. Generation runs as Spark jobs (spark.range +
  * deterministic column expressions) instead of forking external
  * dbgen/dsdgen processes (src/tpch.rs:50-56, src/tpcds.rs:51-62) —
  * executors replace threads, tasks replace the generator's -C/-S chunks.
  */
trait Benchmark {
  def name: String
  def tableNames: Seq[String]
  def tableExt: String
  def schema(table: String): StructType
  /** Deterministic generation: same (scale, table) content for ANY partition
    * count — mirrors dbgen's chunking contract (src/tpch.rs:69-72). */
  def generate(spark: SparkSession, scale: Double, partitions: Int, outputPath: String): Unit
}

object Benchmark {
  /** Benchmark name resolution incl. the reference's CLI aliases
    * (/root/reference/src/main.rs:113-119: `tpcds|tpc-ds`, `tpch|tpc-h`). */
  def apply(name: String): graft.gen.Generator = name.toLowerCase match {
    case "tpch" | "tpc-h"   => graft.gen.TpchGen
    case "tpcds" | "tpc-ds" => graft.gen.TpcdsGen
    case other => throw new IllegalArgumentException(s"invalid benchmark name: $other")
  }
}
