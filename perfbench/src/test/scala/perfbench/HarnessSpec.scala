package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  /** Fewest samples for which at least 10 lie beyond the q-quantile. */
  private def samplesFor(q: Double): Int = Iterator.from(1).find(Stats.beyond(_, q) >= 10).get

  test("seed -> permutation is deterministic, a true permutation, and seed-dependent") {
    val qs = (1 to 40).map(i => s"q$i")
    val a = Stats.permutation(qs, 7L, 3)
    assert(a == Stats.permutation(qs, 7L, 3))
    assert(a.sorted == qs.sorted)
    assert(a != Stats.permutation(qs, 8L, 3))
    assert(a != Stats.permutation(qs, 7L, 4))
  }

  test("tail rule: the chosen sample count leaves >= 10 samples beyond the quantile") {
    for (q <- Seq(0.5, 0.75, 0.9, 0.95)) {
      val n = samplesFor(q)
      // the count matches the samples that really lie above the quantile
      for (m <- Seq(n, n + 1, n + 17)) {
        val xs = (1 to m).map(_.toDouble)
        assert(xs.count(_ > Stats.quantile(xs, q)) == Stats.beyond(m, q))
      }
    }
    assert(samplesFor(0.9) == 92)
    // a run reports only the quantiles its sample supports
    assert(Stats.supported(samplesFor(0.5) - 1).isEmpty)
    assert(Stats.supported(samplesFor(0.5)) == Seq(0.5))
    assert(Stats.supported(samplesFor(0.75)) == Seq(0.5, 0.75))
    assert(Stats.supported(92) == Seq(0.5, 0.9))
    assert(Stats.supported(1000) == Seq(0.5, 0.99))
    for (n <- 1 to 300; q <- Stats.supported(n)) assert(Stats.beyond(n, q) >= 10)
  }

  test("quantile matches Python's statistics.quantiles(method='inclusive')") {
    val xs = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0)
    assert(Stats.median(xs) == 3.5)
    assert(math.abs(Stats.quantile(xs, 0.25) - 1.75) < 1e-12)
    assert(math.abs(Stats.quantile(xs, 0.75) - 5.25) < 1e-12)
  }

  test("fail_frac counts throws, fingerprint mismatches and failed checks") {
    def r(n: String, ok: Boolean, err: String = "") =
      OpResult(n, 1, 0.1, ok, err, None, Map.empty, Map.empty)
    val results = Seq(r("a", ok = true), r("b", ok = false, "boom"),
      r("c", ok = false, "hash x != golden y"), r("d", ok = true))
    val checks = Seq("convert:lineitem" -> None, "convert:orders" -> Some("rows differ"))
    val (attempted, failures) = Run.tally(results, checks)
    assert(attempted == 6)
    assert(failures.size == 3)
    assert(Stats.failFrac(attempted, failures.size) == 0.5)
    assert(Stats.failFrac(76, 0) == 0.0)
    assert(Stats.failFrac(0, 0) == 1.0)
    val golden = Map("q" -> Golden.Entry(2, Some(Fingerprint(2, 5L).hex)),
      "c" -> Golden.Entry(2, None))
    assert(Golden.check(golden, "q", Fingerprint(2, 5L)).isEmpty)
    assert(Golden.check(golden, "q", Fingerprint(2, 6L)).nonEmpty)
    assert(Golden.check(golden, "q", Fingerprint(3, 5L)).nonEmpty)
    assert(Golden.check(golden, "c", Fingerprint(2, 99L)).isEmpty) // count-only
    assert(Golden.check(golden, "zz", Fingerprint(2, 5L)).nonEmpty)
  }

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType),
    StructField("d", DoubleType), StructField("a", ArrayType(FloatType))))

  private def row(k: Long, s: String, d: Double, a: Seq[Float]): InternalRow =
    InternalRow(k, UTF8String.fromString(s), d,
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a.toArray))

  test("fingerprint is stable under row reordering and last-bit double noise") {
    val rows = (0 until 200).map(i => row(i % 17, s"s$i", i * 0.1 + 1e-3, Seq(i.toFloat, 0.5f)))
    val fp = Fingerprint.ofRows(schema, rows)
    val shuffled = new scala.util.Random(3).shuffle(rows)
    assert(Fingerprint.ofRows(schema, shuffled) == fp)
    // a sum reduced in another order differs only in the last bits
    val noisy = rows.map(r => row(r.getLong(0), r.getUTF8String(1).toString,
      Math.nextUp(r.getDouble(2)), Seq(r.getArray(3).getFloat(0), 0.5f)))
    assert(Fingerprint.ofRows(schema, noisy) == fp)
    // but a real change, a dropped row or a duplicated row is seen
    assert(Fingerprint.ofRows(schema, rows.updated(5, row(5, "s5", 9.0, Seq(5f, 0.5f)))) != fp)
    assert(Fingerprint.ofRows(schema, rows.tail) != fp)
    assert(Fingerprint.ofRows(schema, rows :+ rows.head) != fp)
  }

  test("fixture tables are stored with their declared FIXTURES.md types") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    val dir = java.nio.file.Files.createTempDirectory("perfbench-fixtures").toFile
    try {
      Fixtures.tables(spark, 0.0001).foreach { case (name, df) =>
        df.write.parquet(s"$dir/$name.parquet")
      }
      assert(Fixtures.schemas.keySet == graft.Tables.names.toSet)
      assert(Fixtures.mismatches(spark, dir.toString).isEmpty)
      // the events time column reads through graft's NTZ branch, as the real fixtures do
      val events = graft.Tables(spark, dir.toString, "events")
      assert(events.schema("ts").dataType == TimestampType)
      assert(events.count() == 100)
      // a table stored with another timestamp form is reported
      spark.read.parquet(s"$dir/orders.parquet")
        .withColumn("o_orderdate", org.apache.spark.sql.functions.col("o_orderdate").cast("timestamp"))
        .write.mode("overwrite").parquet(s"$dir/orders2.parquet")
      Files.deleteTree(new java.io.File(dir, "orders.parquet"))
      assert(new java.io.File(dir, "orders2.parquet").renameTo(new java.io.File(dir, "orders.parquet")))
      assert(Fixtures.mismatches(spark, dir.toString).map(_.takeWhile(_ != ' ')) == Seq("orders"))
    } finally {
      spark.stop()
      Files.deleteTree(dir)
    }
  }

  test("fingerprint of a query does not depend on its partitioning") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val df = spark.range(0, 5000).selectExpr("id % 97 AS k", "CAST(id AS STRING) AS s",
        "id / 7.0 AS d", "array(CAST(id AS FLOAT)) AS a")
      val agg = (p: Int) => df.repartition(p).groupBy("k").agg(
        org.apache.spark.sql.functions.sum("d").as("sd"),
        org.apache.spark.sql.functions.count("s").as("n"))
      val fp = Fingerprint.of(df)
      assert(fp.rows == 5000)
      assert(Fingerprint.of(df.repartition(7)) == fp)
      assert(Fingerprint.of(df.orderBy(org.apache.spark.sql.functions.desc("s"))) == fp)
      assert(Fingerprint.of(agg(3)) == Fingerprint.of(agg(11)))
    } finally spark.stop()
  }
}
