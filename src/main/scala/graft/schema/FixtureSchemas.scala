package graft.schema

import org.apache.spark.sql.types._

/** Fixture schema registry — the FIXTURES.md tables (the TPC-H-ish star
  * subset plus `events`, `documents` and `embeddings`) as Spark reads the
  * fixture files. Timestamps are stored as `timestamp[us]` without UTC
  * adjustment, which Spark reads as TIMESTAMP_NTZ. Every column is
  * nullable. Unknown table names throw, like [[TpchSchemas]] and
  * [[TpcdsSchemas]].
  */
object FixtureSchemas {
  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def apply(table: String): StructType = schemas.getOrElse(table,
    throw new IllegalArgumentException(s"unknown fixture table: $table"))

  /** Other types a column may be stored as. `events.ts` has shipped in
    * three storages: µs TIMESTAMP_NTZ (declared), TIMESTAMP(NANOS) read as
    * LONG through `spark.sql.legacy.parquet.nanosAsLong`, and a UTC-adjusted
    * TIMESTAMP. `graft.Tables` normalizes all three. */
  def alternatives(table: String): Map[String, Seq[DataType]] =
    if (table == "events") Map("ts" -> Seq(LongType, TimestampType)) else Map.empty

  private def s(cols: (String, DataType)*) =
    StructType(cols.map { case (n, t) => StructField(n, t) })
  private val (i, l, d, str, ts) = (IntegerType, LongType, DoubleType, StringType, TimestampNTZType)

  private val schemas: Map[String, StructType] = Map(
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
