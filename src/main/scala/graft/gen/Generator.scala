package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.plans.Fanout
import GenUtil._

/** A benchmark graft generates natively ([[TpchGen]], [[TpcdsGen]]): each
  * table is a pure projection of an id range, so its content is the same
  * for any partition count (GenSpec).
  *
  * The two writers size every table's parts to its rows
  * ([[GenUtil.partitionsFor]]): `partitions` is a ceiling, and a table
  * whose range holds fewer than [[GenUtil.rowsPerPartition]] rows per part
  * writes fewer parts — the 20-row `income_band` writes one file whatever
  * the ceiling. `table` keeps the exact count its caller passes.
  */
trait Generator extends graft.schema.Benchmark {
  /** Length of the id range `tbl` is generated from at scale `sf`. */
  def rowCount(tbl: String, sf: Double): Long

  /** One table over exactly `partitions` partitions of its id range. */
  def table(spark: SparkSession, tbl: String, sf: Double, partitions: Int): DataFrame

  /** Whether raw rows end in '|' (dbgen's layout does, dsdgen's does not). */
  protected def rawTrailingPipe: Boolean

  /** Raw-layout generation: `{out}/{table}.{ext}/part-*.{ext}`,
    * pipe-delimited, at most `partitions` parts per table. */
  def generate(spark: SparkSession, scale: Double, partitions: Int, outputPath: String): Unit = {
    val gen = generationSession(spark)
    Fanout.map(tableNames) { tbl =>
      writeRaw(sized(gen, tbl, scale, partitions), outputPath, tbl, tableExt, rawTrailingPipe)
    }
  }

  /** Spark-native fast path: generate straight to Parquet, skipping the
    * text intermediate (the reference can't do this; it is the 100 TB-scale
    * default), at most `partitions` parts per table. */
  def generateParquet(spark: SparkSession, scale: Double, partitions: Int,
                      outputPath: String, codec: String = "snappy"): Unit = {
    val compression = graft.convert.Convert.validateCodec(codec)
    val gen = generationSession(spark)
    Fanout.map(tableNames) { tbl =>
      sized(gen, tbl, scale, partitions).write
        .option("compression", compression)
        .parquet(s"$outputPath/$tbl.parquet")
    }
  }

  /** `tbl` over the parts the writers write for a ceiling of `partitions`. */
  private[graft] def sized(spark: SparkSession, tbl: String, sf: Double, partitions: Int): DataFrame =
    table(spark, tbl, sf, partitionsFor(rowCount(tbl, sf), partitions))
}
