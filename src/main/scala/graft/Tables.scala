package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.FixtureSchemas

/** Fixture-table loader (TESTDATA.md / FIXTURES.md).
  *
  * `events.ts` storage has shipped in two fixture generations: parquet
  * TIMESTAMP(NANOS) — which Spark's parquet reader rejects outright
  * ([PARQUET_TYPE_ILLEGAL]), so we read it via the `nanosAsLong` escape
  * hatch and floor-divide to microseconds — and native TIMESTAMP(MICROS)
  * without timezone, which Spark reads as TIMESTAMP_NTZ. Both normalize to
  * TimestampType at µs precision in the UTC session, which is exactly
  * DuckDB's `CAST(ts AS TIMESTAMP)` on the same file, so oracle comparisons
  * on event timestamps line up bit-for-bit either way.
  */
object Tables {
  val names: Seq[String] = FixtureSchemas.tableNames

  /** Normalize an events frame's `ts` to TimestampType (µs, UTC session):
    * ns-as-long legacy storage truncates ns→µs; TIMESTAMP_NTZ casts (a
    * wall-clock no-op in the UTC session); TimestampType passes through. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts",
        col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }

  /** Fixture table `name` under `dir`, through [[Catalog]] against its
    * [[graft.schema.FixtureSchemas]] declaration. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // partitions ∝ data for the fixture-read path too (LLM/dedup/text ops
    // never pass through Tpcds.ensure): derive the session's shuffle
    // count from the fixture dir's measured bytes. At every gate scale
    // the derived value equals the session floor (no behavior change);
    // at a 100 TB documents corpus the dedup/cluster shuffles get the
    // same scale-safe ceiling the generated-benchmark path got in r15.
    graft.plans.ShuffleScale.tuneFor(spark, dir)
    // the nanos escape hatch must be on before the catalog converts the
    // events footer, so legacy storage checks (and reads) as LONG
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = Catalog.table(spark, s"$dir/$name.parquet", FixtureSchemas(name),
      FixtureSchemas.alternatives(name))
    if (name == "events") normalizeEventTs(df) else df
  }

  private val rowCountCache = new scala.collection.concurrent.TrieMap[String, Long]

  /** Exact row count of a parquet table read driver-side from file footers —
    * NO Spark job (footer metadata only; a few KB per file). Used by scale
    * fences that must not add a job to the measured query path. Cached per
    * directory (fixture tables are immutable for a session's lifetime). */
  def footerRowCount(spark: SparkSession, dir: String, name: String): Long =
    rowCountCache.getOrElseUpdate(s"$dir/$name.parquet", {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val (conf, files) = Catalog.dataFiles(spark, s"$dir/$name.parquet")
      files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
    })

  private val rangeCache =
    new scala.collection.concurrent.TrieMap[String, Option[(Double, Double)]]

  /** Driver-side (min, max) of a DOUBLE column from parquet footer
    * statistics — NO Spark job. None if any footer lacks double stats for
    * the column (caller picks a fallback). A production deployment over a
    * catalog would take the same two numbers from table statistics; the
    * point is that value-range slicing reads METADATA, not data. */
  def footerDoubleRange(spark: SparkSession, dir: String, name: String,
                        column: String): Option[(Double, Double)] =
    rangeCache.getOrElseUpdate(s"$dir/$name.parquet#$column", {
      import org.apache.parquet.column.statistics.DoubleStatistics
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import scala.jdk.CollectionConverters._
      val (conf, files) = Catalog.dataFiles(spark, s"$dir/$name.parquet")
      val perBlock = files.flatMap { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try r.getFooter.getBlocks.asScala.toSeq.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == column)
            .map(_.getStatistics).collect {
              case ds: DoubleStatistics if !ds.isEmpty => (ds.getMin, ds.getMax)
            }
        } finally r.close()
      }
      if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
      else Some((perBlock.map(_.get._1).min, perBlock.map(_.get._2).max))
    })
}
