package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The one resolver from a Parquet table path to a DataFrame.
  *
  * A bare `spark.read.parquet(path)` infers the schema with a Spark job on
  * every table reference, which made schema inference the largest part of
  * query construction. Every table graft reads has a declared schema
  * instead ([[graft.schema.FixtureSchemas]], [[graft.schema.TpcdsSchemas]],
  * [[graft.schema.TpchSchemas.stored]]). Once per path and JVM, [[table]]
  * reads ONE footer on the driver — the first file of [[dataFiles]] —
  * through Spark's own footer-to-schema conversion, which yields exactly
  * the schema the inference job would have produced, checks it against the
  * declaration, and caches it under the qualified path. Reads then pass
  * that checked schema, so they run no job.
  *
  * The footer schema is passed rather than the declared one: a column the
  * declaration has but the file lacks then fails at analysis instead of
  * reading back as NULLs, and a table that stores a subset of the declared
  * columns keeps exactly the shape inference gave it. Generated caches that
  * are rewritten in place call [[invalidate]] (GenCache does).
  */
object Catalog {
  private val schemas = new scala.collection.concurrent.TrieMap[String, StructType]

  /** `path` as a DataFrame whose schema is the footer's, after checking it
    * against `declared`: every stored column must be declared, with the
    * declared type or one of its `alternatives`, nullability aside.
    * Throws IllegalStateException naming the path, the column and both
    * types on a mismatch. */
  def table(spark: SparkSession, path: String, declared: StructType,
            alternatives: Map[String, Seq[DataType]] = Map.empty): DataFrame = {
    val schema = schemas.getOrElseUpdate(qualified(path, spark.sparkContext.hadoopConfiguration), {
      val stored = footerSchema(spark, path)
      check(path, stored, declared, alternatives)
      stored
    })
    spark.read.schema(schema).parquet(path)
  }

  /** Forget checked schemas at, under or above `path` — its files changed. */
  def invalidate(spark: SparkSession, path: String): Unit =
    forget(schemas, spark.sparkContext.hadoopConfiguration, path)

  /** The schema Spark's inference would give `path`, from one footer read
    * on the driver. */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val (conf, files) = dataFiles(spark, path)
    val first = files.headOption.getOrElse(
      throw new IllegalStateException(s"$path has no visible parquet data file"))
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(first, conf))
    val footer = try new Footer(first, r.getFooter) finally r.close()
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  private def check(path: String, stored: StructType, declared: StructType,
                    alternatives: Map[String, Seq[DataType]]): Unit =
    stored.fields.foreach { f =>
      val want = declared.fields.find(_.name == f.name).map(_.dataType).getOrElse(
        throw new IllegalStateException(
          s"$path stores column ${f.name} (${f.dataType.sql}), which is not declared"))
      val allowed = want +: alternatives.getOrElse(f.name, Nil)
      if (!allowed.exists(t => loose(t) == loose(f.dataType)))
        throw new IllegalStateException(s"$path stores column ${f.name} as " +
          s"${f.dataType.sql}, declared ${allowed.map(_.sql).mkString(" or ")}")
    }

  /** `t` with every nested nullability flag set, so types compare by shape. */
  private def loose(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(loose(e), containsNull = true)
    case MapType(k, v, _) => MapType(loose(k), loose(v), valueContainsNull = true)
    case StructType(fs) => StructType(fs.map(f =>
      StructField(f.name, loose(f.dataType), nullable = true)))
    case other => other
  }

  /** Data files of a parquet table path, sorted (skips _SUCCESS / hidden
    * files). RECURSIVE: a nested/hive-partitioned layout contributes every
    * leaf file, so footer-derived counts used by scale fences can never
    * undercount. Files under a hidden/_ directory (e.g. _temporary) are
    * excluded, matching Spark's own path filter. A path that is itself a
    * file lists as that file. */
  private[graft] def dataFiles(spark: SparkSession, path: String): (Configuration, Seq[Path]) = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    val p = fs.makeQualified(new Path(path))
    val it = fs.listFiles(p, true)
    val files = scala.collection.mutable.ListBuffer.empty[Path]
    while (it.hasNext) {
      val f = it.next().getPath
      // every path component below the table root must be visible
      val visible = Iterator.iterate(f)(_.getParent)
        .takeWhile(q => q != null && q != p)
        .forall(q => !q.getName.startsWith("_") && !q.getName.startsWith("."))
      if (f.getName.endsWith(".parquet") && visible) files += f
    }
    (conf, files.toSeq.sortBy(_.toString))
  }

  /** Canonical cache key: the path resolved and qualified through its own
    * Hadoop FileSystem, so `file:/x`, `/x` and an `fs.defaultFS`-relative
    * spelling of the SAME directory collapse to one entry. */
  private[graft] def qualified(path: String, conf: Configuration): String = {
    val p = new Path(path)
    p.getFileSystem(conf).makeQualified(p).toString
  }

  /** Drop every entry of a path-keyed cache at, under or above `path`,
    * qualified through the conf its keys were made with. An unparseable
    * path degrades to the raw string, which still prefix-matches
    * same-spelling keys. */
  private[graft] def forget(cache: scala.collection.concurrent.TrieMap[String, _],
                            conf: Configuration, path: String): Unit = {
    val norm = (try qualified(path, conf)
                catch { case scala.util.control.NonFatal(_) => path })
      .stripSuffix("/")
    cache.keys.foreach { k =>
      val kn = k.stripSuffix("/")
      if (kn == norm || kn.startsWith(norm + "/") || norm.startsWith(kn + "/"))
        cache.remove(k)
    }
  }
}
