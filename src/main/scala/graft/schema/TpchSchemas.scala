package graft.schema

import org.apache.spark.sql.types._

/** TPC-H schema registry — re-declaration of the reference's 8 fixed,
  * hand-declared Arrow schemas (/root/reference/src/tpch.rs:140-241) as Spark
  * StructTypes. Type mapping per SURVEY.md §1.3: Int64→Long, Int32→Integer,
  * Utf8→String, Date32→Date, Decimal128(p,s)→Decimal(p,s). The trailing
  * nullable `ignore` column models dbgen's trailing '|' delimiter
  * (src/tpch.rs:156 etc.) — it is declared for the raw-CSV read schema and
  * dropped before Parquet write (documented deviation, SURVEY §1.2).
  * Unknown table names throw, mirroring the reference panic (src/tpch.rs:239).
  */
object TpchSchemas {
  val tableNames: Seq[String] = Seq(
    "customer", "lineitem", "nation", "orders", "part", "partsupp", "region", "supplier")

  val tableExt: String = "tbl"

  def apply(table: String): StructType = schemas.getOrElse(table,
    throw new IllegalArgumentException(s"unknown TPC-H table: $table"))

  /** The columns a TPC-H Parquet table stores: the declaration minus the
    * raw-file-only `ignore` column. */
  def stored(table: String): StructType =
    StructType(apply(table).filterNot(_.name == "ignore"))

  private val schemas: Map[String, StructType] = Map(
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType, nullable = false),
      StructField("p_name", StringType, nullable = false),
      StructField("p_mfgr", StringType, nullable = false),
      StructField("p_brand", StringType, nullable = false),
      StructField("p_type", StringType, nullable = false),
      StructField("p_size", IntegerType, nullable = false),
      StructField("p_container", StringType, nullable = false),
      StructField("p_retailprice", DecimalType(11, 2), nullable = false),
      StructField("p_comment", StringType, nullable = false),
      StructField("ignore", StringType, nullable = true))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType, nullable = false),
      StructField("s_name", StringType, nullable = false),
      StructField("s_address", StringType, nullable = false),
      StructField("s_nationkey", LongType, nullable = false),
      StructField("s_phone", StringType, nullable = false),
      StructField("s_acctbal", DecimalType(11, 2), nullable = false),
      StructField("s_comment", StringType, nullable = false),
      StructField("ignore", StringType, nullable = true))),
    "partsupp" -> StructType(Seq(
      StructField("ps_partkey", LongType, nullable = false),
      StructField("ps_suppkey", LongType, nullable = false),
      StructField("ps_availqty", IntegerType, nullable = false),
      StructField("ps_supplycost", DecimalType(11, 2), nullable = false),
      StructField("ps_comment", StringType, nullable = false),
      StructField("ignore", StringType, nullable = true))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType, nullable = false),
      StructField("c_name", StringType, nullable = false),
      StructField("c_address", StringType, nullable = false),
      StructField("c_nationkey", LongType, nullable = false),
      StructField("c_phone", StringType, nullable = false),
      StructField("c_acctbal", DecimalType(11, 2), nullable = false),
      StructField("c_mktsegment", StringType, nullable = false),
      StructField("c_comment", StringType, nullable = false),
      StructField("ignore", StringType, nullable = true))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType, nullable = false),
      StructField("o_custkey", LongType, nullable = false),
      StructField("o_orderstatus", StringType, nullable = false),
      StructField("o_totalprice", DecimalType(11, 2), nullable = false),
      StructField("o_orderdate", DateType, nullable = false),
      StructField("o_orderpriority", StringType, nullable = false),
      StructField("o_clerk", StringType, nullable = false),
      StructField("o_shippriority", IntegerType, nullable = false),
      StructField("o_comment", StringType, nullable = false),
      StructField("ignore", StringType, nullable = true))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType, nullable = false),
      StructField("l_partkey", LongType, nullable = false),
      StructField("l_suppkey", LongType, nullable = false),
      StructField("l_linenumber", IntegerType, nullable = false),
      StructField("l_quantity", DecimalType(11, 2), nullable = false),
      StructField("l_extendedprice", DecimalType(11, 2), nullable = false),
      StructField("l_discount", DecimalType(11, 2), nullable = false),
      StructField("l_tax", DecimalType(11, 2), nullable = false),
      StructField("l_returnflag", StringType, nullable = false),
      StructField("l_linestatus", StringType, nullable = false),
      StructField("l_shipdate", DateType, nullable = false),
      StructField("l_commitdate", DateType, nullable = false),
      StructField("l_receiptdate", DateType, nullable = false),
      StructField("l_shipinstruct", StringType, nullable = false),
      StructField("l_shipmode", StringType, nullable = false),
      StructField("l_comment", StringType, nullable = false),
      StructField("ignore", StringType, nullable = true))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", LongType, nullable = false),
      StructField("n_name", StringType, nullable = false),
      StructField("n_regionkey", LongType, nullable = false),
      StructField("n_comment", StringType, nullable = false),
      StructField("ignore", StringType, nullable = true))),
    "region" -> StructType(Seq(
      StructField("r_regionkey", LongType, nullable = false),
      StructField("r_name", StringType, nullable = false),
      StructField("r_comment", StringType, nullable = false),
      StructField("ignore", StringType, nullable = true)))  )
}
