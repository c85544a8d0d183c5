package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.schema.{FixtureSchemas, TpcdsSchemas, TpchSchemas}

/** The footer-checked declared-schema catalog: it must give every table
  * exactly the schema inference gives, build queries without a Spark job,
  * refuse a table that drifts from its declaration, and never read a stale
  * or hidden file's schema. */
class CatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tempDir(prefix: String) = Files.createTempDirectory(prefix).toString

  private def sameAsInference(path: String, df: org.apache.spark.sql.DataFrame): Unit = {
    val inferred = spark.read.parquet(path).schema
    assert(df.schema == inferred, s"$path: catalog ${df.schema.treeString} vs inferred ${inferred.treeString}")
  }

  test("fixture tables at every gate scale get exactly the inferred schema") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- FixtureSchemas.tableNames) {
      val path = s"/root/testdata/$sf/$t.parquet"
      sameAsInference(path,
        Catalog.table(spark, path, FixtureSchemas(t), FixtureSchemas.alternatives(t)))
    }
  }

  test("generated TPC-DS and full TPC-H tables at sf0.01 get exactly the inferred schema") {
    val ds = graft.ops.Tpcds.ensure(spark, TestSpark.sf001)
    assert(TpcdsSchemas.tableNames.size == 24)
    TpcdsSchemas.tableNames.foreach { t =>
      val path = s"$ds/$t.parquet"
      sameAsInference(path, Catalog.table(spark, path, TpcdsSchemas(t)))
    }
    val h = graft.ops.TpchFull.ensure(spark, TestSpark.sf001)
    assert(TpchSchemas.tableNames.size == 8)
    TpchSchemas.tableNames.foreach { t =>
      val path = s"$h/$t.parquet"
      sameAsInference(path, Catalog.table(spark, path, TpchSchemas.stored(t)))
    }
  }

  test("with warm caches, building queries runs no Spark job") {
    val names = Seq("q_tpcds_q45", "q_join_anti", "q_text_stats")
    def build(): Unit = names.foreach(n => SparkEntry.queries(n)(spark, TestSpark.sf0001))
    build() // warm: generation cache, schemas, shuffle sizing
    assert(TestSpark.jobsOf(build()) == Nil)
    // the probe does see an inference job
    assert(TestSpark.jobsOf(spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet")).nonEmpty)
  }

  test("an undeclared table name in a query text fails construction, naming the table") {
    val dir = graft.ops.Tpcds.ensure(spark, TestSpark.sf0001)
    def declared(n: String) = Option.when(TpcdsSchemas.tableNames.contains(n))(TpcdsSchemas(n))
    val resolve = graft.ops.TpcSql.catalog(spark, dir, declared) _
    val e = intercept[IllegalArgumentException](graft.ops.TpcSql.dataFrame(spark,
      "SELECT count(*) FROM store_sales JOIN stores ON ss_store_sk = s_store_sk", resolve))
    assert(e.getMessage.contains("'stores'"), e.getMessage)
    // a CTE of that name shadows the table, so the same text with one parses
    graft.ops.TpcSql.dataFrame(spark, "WITH stores AS (SELECT * FROM store) " +
      "SELECT count(*) FROM store_sales JOIN stores ON ss_store_sk = s_store_sk", resolve)
  }

  test("a fixture text reads each table reference as its own relation") {
    import org.apache.spark.sql.functions.col
    val dir = TestSpark.sf0001
    val resolved = scala.collection.mutable.Buffer.empty[String]
    val text = graft.ops.TpcSql.dataFrame(spark, "SELECT count(*) AS n FROM events a " +
      "JOIN events b ON a.user_id = b.user_id AND a.ts < b.ts",
      n => { resolved += n; Tables(spark, dir, n) })
    assert(resolved == Seq("events", "events"))
    val (a, b) = (Tables(spark, dir, "events").as("a"), Tables(spark, dir, "events").as("b"))
    val hand = a.join(b, col("a.user_id") === col("b.user_id") && col("a.ts") < col("b.ts")).count()
    assert(hand > 0)
    assert(text.head().getLong(0) == hand)
  }

  test("a recursive CTE's self-reference is not resolved as a table") {
    val resolved = scala.collection.mutable.Buffer.empty[String]
    val text = graft.ops.TpcSql.dataFrame(spark,
      "WITH RECURSIVE reach(src, dst) AS (SELECT n_nationkey, n_nationkey FROM nation " +
        "WHERE n_nationkey < 2 UNION ALL SELECT r.src, n.n_nationkey FROM reach r " +
        "JOIN nation n ON n.n_nationkey = r.dst + 1 WHERE n.n_nationkey < 5) " +
        "SELECT count(*) AS n FROM reach",
      n => { resolved += n; Tables(spark, TestSpark.sf0001, n) })
    assert(resolved == Seq("nation", "nation"))
    // nation 0 reaches 0..4, nation 1 reaches 1..4
    assert(text.head().getLong(0) == 9)
  }

  test("an unknown fixture table name in a text fails construction, naming the table") {
    val e = intercept[IllegalArgumentException](graft.ops.TpcSql.dataFrame(spark,
      "SELECT count(*) FROM orders JOIN order_lines ON o_orderkey = l_orderkey",
      Tables(spark, TestSpark.sf0001, _)))
    assert(e.getMessage.contains("order_lines"), e.getMessage)
  }

  test("every kept fixture hand form has a fixture text, and no rows-only query has one") {
    val stale = SparkEntry.hand.keySet -- SparkEntry.fixtureSql.keySet
    assert(stale.isEmpty, s"hand forms with no text: ${stale.mkString(", ")}")
    assert((SparkEntry.rowsOnly.keySet & SparkEntry.fixtureSql.keySet).isEmpty)
  }

  test("a mistyped or undeclared column fails the read, naming the column") {
    import spark.implicits._
    val typo = tempDir("graft-catalog-typo")
    Seq(("1", "1-URGENT")).toDF("o_orderkey", "o_orderpriority")
      .write.parquet(s"$typo/orders.parquet")
    val e1 = intercept[IllegalStateException](Tables(spark, typo, "orders"))
    assert(e1.getMessage.contains("o_orderkey") && e1.getMessage.contains("STRING") &&
      e1.getMessage.contains("BIGINT"), e1.getMessage)

    val extra = tempDir("graft-catalog-extra")
    Seq((1L, "1-URGENT", 7)).toDF("o_orderkey", "o_orderpriority", "o_bogus")
      .write.parquet(s"$extra/orders.parquet")
    val e2 = intercept[IllegalStateException](Tables(spark, extra, "orders"))
    assert(e2.getMessage.contains("o_bogus"), e2.getMessage)
  }

  test("a parquet file under a _temporary dir is never the schema source") {
    import spark.implicits._
    val dir = tempDir("graft-catalog-hidden")
    (1L to 100L).toDF("v").write.parquet(s"$dir/t.parquet")
    // sorts before every part- file, and stores v as a STRING
    Seq("x").toDF("v").coalesce(1).write.parquet(s"$dir/scratch")
    val junk = Files.list(Paths.get(s"$dir/scratch")).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.createDirectories(Paths.get(s"$dir/t.parquet/_temporary"))
    Files.copy(junk, Paths.get(s"$dir/t.parquet/_temporary/junk.parquet"))
    val df = Catalog.table(spark, s"$dir/t.parquet", StructType(Seq(StructField("v", LongType))))
    assert(df.schema("v").dataType == LongType)
    assert(df.count() == 100)
  }

  test("regenerating a swept cache dir drops its cached schema") {
    val root = Paths.get(tempDir("graft-catalog-gen"), "gen1").toString
    def ensure(as: DataType) = graft.gen.GenCache.ensure(spark, root, TestSpark.sf0001) {
      (s, _, tmp) => s.range(10).selectExpr(s"cast(id as ${as.sql}) as v").write.parquet(s"$tmp/t.parquet")
    }
    val declared = StructType(Seq(StructField("v", LongType)))
    val alt = Map("v" -> Seq(IntegerType))
    val dir = ensure(LongType)
    assert(Catalog.table(spark, s"$dir/t.parquet", declared, alt).schema("v").dataType == LongType)
    // a dir without its completeness marker is swept and regenerated
    Files.delete(Paths.get(dir, "_GRAFT_COMPLETE"))
    assert(ensure(IntegerType) == dir)
    val df = Catalog.table(spark, s"$dir/t.parquet", declared, alt)
    assert(df.schema("v").dataType == IntegerType)
    assert(df.count() == 10)
  }
}
