package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic fixture tables with the FIXTURES.md schemas (the TPC-H-ish
  * star schema plus `events`, `documents` and `embeddings`), sized like the
  * sf0.1 fixture set: lineitem 600k rows, orders 150k, events 100k,
  * documents 5k, embeddings 2k.
  *
  * Every column is a pure function of the row id and a per-column salt
  * (xxhash64), so the tables are identical for any partitioning and any run.
  * Timestamps are stored the way the real fixture files store them: INT64
  * micros without a UTC adjustment, which Spark reads as TIMESTAMP_NTZ.
  * Documents include exact and near duplicates so the dedup operators have
  * real work; embeddings cluster around ten label centroids.
  */
object Fixtures {
  val marker = "_PERFBENCH_COMPLETE"

  def ensure(spark: SparkSession, dir: String): Unit = {
    val done = new java.io.File(dir, marker)
    if (!done.exists()) {
      Files.deleteTree(new java.io.File(dir))
      val sf = 0.1
      tables(spark, sf).foreach { case (name, df) =>
        df.coalesce(1).write.parquet(s"$dir/$name.parquet")
      }
      val bad = mismatches(spark, dir)
      require(bad.isEmpty, s"fixture tables do not match their declared schemas: ${bad.mkString("; ")}")
      done.createNewFile()
    }
  }

  /** The FIXTURES.md schemas, as Spark reads the real fixture files. */
  val schemas: Map[String, StructType] = {
    def s(cols: (String, DataType)*) = StructType(cols.map { case (n, t) => StructField(n, t) })
    val (i, l, d, str, ts) = (IntegerType, LongType, DoubleType, StringType, TimestampNTZType)
    Map(
      "region" -> s("r_regionkey" -> i, "r_name" -> str),
      "nation" -> s("n_nationkey" -> i, "n_name" -> str, "n_regionkey" -> i),
      "customer" -> s("c_custkey" -> l, "c_name" -> str, "c_nationkey" -> i,
        "c_acctbal" -> d, "c_mktsegment" -> str),
      "supplier" -> s("s_suppkey" -> l, "s_name" -> str, "s_nationkey" -> i, "s_acctbal" -> d),
      "part" -> s("p_partkey" -> l, "p_name" -> str, "p_brand" -> str, "p_type" -> str,
        "p_size" -> i, "p_retailprice" -> d),
      "orders" -> s("o_orderkey" -> l, "o_custkey" -> l, "o_orderstatus" -> str,
        "o_totalprice" -> d, "o_orderdate" -> ts, "o_orderpriority" -> str),
      "lineitem" -> s("l_orderkey" -> l, "l_partkey" -> l, "l_suppkey" -> l,
        "l_linenumber" -> i, "l_quantity" -> d, "l_extendedprice" -> d, "l_discount" -> d,
        "l_tax" -> d, "l_returnflag" -> str, "l_linestatus" -> str, "l_shipdate" -> ts),
      "events" -> s("event_id" -> l, "ts" -> ts, "user_id" -> l, "event_type" -> str,
        "value" -> d, "props" -> str),
      "documents" -> s("doc_id" -> l, "text" -> str, "lang" -> str, "source" -> str,
        "n_chars" -> l),
      "embeddings" -> s("vec_id" -> l, "embedding" -> ArrayType(FloatType), "label" -> i))
  }

  /** One line per table under `dir` whose stored columns (names, order and
    * types; nullability aside) differ from its declared schema. */
  def mismatches(spark: SparkSession, dir: String): Seq[String] =
    schemas.toSeq.sortBy(_._1).flatMap { case (name, want) =>
      val got = spark.read.parquet(s"$dir/$name.parquet").schema
      val shape = (t: StructType) => t.fields.map(f => f.name -> f.dataType).toSeq
      if (shape(got) == shape(want)) None
      else Some(s"$name has ${got.simpleString}, declared ${want.simpleString}")
    }

  private def h(salt: Int, c: Column = col("id")): Column = xxhash64(c, lit(salt))
  private def uniform(salt: Int, n: Long, c: Column = col("id")): Column =
    pmod(h(salt, c), lit(n))
  private def pick(salt: Int, xs: Seq[String], c: Column = col("id")): Column =
    element_at(array(xs.map(lit): _*), (uniform(salt, xs.size.toLong, c) + 1).cast("int"))
  private def money(salt: Int, lo: Long, hi: Long): Column =
    (uniform(salt, (hi - lo) * 100) + lo * 100) / 100.0
  private def day(salt: Int, start: String, days: Long): Column =
    date_add(lit(start).cast("date"), uniform(salt, days).cast("int")).cast("timestamp_ntz")

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjectives = Seq("blue", "hot", "large", "small", "red", "green", "shiny",
    "cold", "dark", "light", "old", "new", "steel")
  private val nouns = Seq("ring", "bolt", "anvil", "widget", "gear")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val langs = Seq("de", "en", "es", "fr", "zh")
  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    def rows(base: Long) = math.max(1L, math.round(base * sf))
    val nCust = rows(150000); val nSupp = rows(10000); val nPart = rows(200000)
    val nOrders = rows(1500000); val nLines = rows(6000000); val nEvents = rows(1000000)
    val nDocs = rows(50000); val nVecs = rows(20000)
    def range(n: Long) = spark.range(0, n, 1, 1)
    val region = range(regions.size).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))
    val nation = range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))
    val customer = range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uniform(11, 25).cast("int").as("c_nationkey"),
      money(12, -1000, 10000).as("c_acctbal"),
      pick(13, segments).as("c_mktsegment"))
    val supplier = range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uniform(21, 25).cast("int").as("s_nationkey"),
      money(22, -1000, 10000).as("s_acctbal"))
    val part = range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(31, adjectives), pick(32, nouns)).as("p_name"),
      concat(lit("Brand#"), uniform(33, 25) + 1).as("p_brand"),
      pick(34, partTypes).as("p_type"),
      (uniform(35, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000)) / 10.0).as("p_retailprice"))
    val orders = range(nOrders).select(col("id").as("o_orderkey"),
      uniform(41, nCust).as("o_custkey"),
      pick(42, Seq("F", "O", "P")).as("o_orderstatus"),
      money(43, 1000, 500000).as("o_totalprice"),
      day(44, "1995-01-01", 2404).as("o_orderdate"),
      pick(45, priorities).as("o_orderpriority"))
    val qty = (uniform(55, 50) + 1).cast("double")
    val lineitem = range(nLines).select(uniform(51, nOrders).as("l_orderkey"),
      uniform(52, nPart).as("l_partkey"),
      uniform(53, nSupp).as("l_suppkey"),
      (uniform(54, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      (floor(qty * money(56, 900, 2100) * 100) / 100.0).as("l_extendedprice"),
      (uniform(57, 11) / 100.0).as("l_discount"),
      (uniform(58, 9) / 100.0).as("l_tax"),
      pick(59, Seq("A", "N", "R")).as("l_returnflag"),
      pick(60, Seq("F", "O")).as("l_linestatus"),
      day(61, "1995-01-02", 2498).as("l_shipdate"))
    // monotone-ish event time over 30 days, µs precision
    val step = 30L * 86400L * 1000000L / nEvents
    val events = range(nEvents).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * step + uniform(71, step))
        .cast("timestamp_ntz").as("ts"),
      uniform(72, rows(15000)).as("user_id"),
      pick(73, eventTypes).as("event_type"),
      (round(-log((uniform(74, 1000000) + 1) / 1000001.0) * 50.0 * 100) / 100.0).as("value"),
      format_string("{\"k\": %d}", uniform(75, 100)).as("props"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents(spark, nDocs), "embeddings" -> embeddings(spark, nVecs))
  }

  /** Word soup of 10–90 words per doc. One doc in ten repeats an earlier
    * doc's text exactly and one in ten repeats it with one word changed. */
  private def documents(spark: SparkSession, n: Long): DataFrame = {
    val words = array(vocab.map(lit): _*)
    def word(seed: Column, i: Column): Column =
      element_at(words, (pmod(xxhash64(seed, i, lit(81)), lit(vocab.size.toLong)) + 1).cast("int"))
    val kind = uniform(82, 10)
    val src = when(kind <= 1 && col("id") > 0, col("id") - 1 - uniform(83, 50))
      .otherwise(col("id"))
    val srcId = when(src < 0, col("id")).otherwise(src)
    val len = (pmod(xxhash64(col("src"), lit(84)), lit(81L)) + 10).cast("int")
    val edit = (uniform(85, 10) + 1).cast("int")
    spark.range(0, n, 1, 1)
      .select(col("id"), srcId.as("src"), kind.as("kind"))
      .select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(1), len), i =>
          when(col("kind") === 1 && i === edit, word(col("id"), i + 1000))
            .otherwise(word(col("src"), i))), " ").as("text"),
        pick(86, langs).as("lang"),
        concat(lit("src"), uniform(87, 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dim float vectors: label centroid plus per-vector noise, each
    * component a sum of two hash uniforms (a rough bell shape). */
  private def embeddings(spark: SparkSession, n: Long): DataFrame = {
    def u(seed: Column, j: Column, salt: Int): Column =
      pmod(xxhash64(seed, j, lit(salt)), lit(1000000L)) / 1000000.0 - 0.5
    val label = uniform(91, 10)
    spark.range(0, n, 1, 1).select(col("id"), label.cast("int").as("label"))
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          ((u(col("label"), j, 92) + u(col("label"), j, 93)) * 0.3 +
            (u(col("id"), j, 94) + u(col("id"), j, 95)) * 0.1).cast("float")).as("embedding"),
        col("label"))
  }
}

/** Small filesystem helpers the harness shares. */
object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Total bytes of regular files under a path. */
  def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum
    else if (f.isFile) f.length() else 0L
}
