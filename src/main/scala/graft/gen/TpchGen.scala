package graft.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.TpchSchemas
import GenUtil._

/** TPC-H data generation as native Spark jobs — replaces the reference's
  * dbgen process fan-out (/root/reference/src/tpch.rs:35-132) with
  * `spark.range(n, partitions)` + deterministic column expressions.
  *
  * Fidelity notes (documented deviations from dbgen):
  *  - schemas, key ranges, FK validity, value domains and date windows follow
  *    the TPC-H spec shapes the reference's schemas imply (src/tpch.rs:140-241);
  *  - dbgen's exact RNG streams are NOT reproduced — values are
  *    xxhash64-derived. Deterministic and partition-count-invariant, but not
  *    byte-identical to dbgen output. Comment columns follow the spec's
  *    sentence-grammar SHAPE over dbgen-flavored word lists
  *    (gen/TextGen.scala CommentText), not the exact dbgen corpus;
  *  - o_totalprice and o_orderstatus ARE derived from the order's lineitems
  *    (totalprice = round(sum(l_extendedprice * (1+l_tax) * (1-l_discount)),
  *    2); status = O/F/P per TPC-H 4.2.3) without a join: every lineitem
  *    value is a pure hash of (orderkey, linenumber) and the line count a
  *    hash of the order id, so the orders map job re-evaluates the same
  *    expressions over the ≤7 possible lines in place. Q18-shape queries
  *    (o_totalprice vs sum over lineitems) are consistent;
  *  - ps_suppkey follows the spec 4.2.3 supplier-assignment formula, so the
  *    (ps_partkey, ps_suppkey) primary key holds and part→supplier fan-out
  *    matches dbgen.
  *
  * Scale design: no shuffle anywhere — each table is one narrow map job over
  * spark.range (lineitem adds a narrow explode). 100 TB generation is
  * embarrassingly parallel and bounded only by write bandwidth. The eight
  * table jobs are submitted concurrently ([[graft.plans.Fanout]]), and
  * Spark's FIFO scheduler fills the slots a finishing small table leaves
  * idle with the next one's tasks. Each table writes one part per
  * [[GenUtil.rowsPerPartition]] range ids, up to the caller's partition
  * count ([[Generator]]): at small scales a task is mostly fixed cost —
  * ~45% of executor-task samples in warm sf0.01 ingest passes (task
  * deserialization 18%, re-generating the projection's source before the
  * codegen-cache lookup 17%, task commit 6%, writer open 3%) — so the
  * 5-row region and the 25-row nation write one part, not one per core.
  */
object TpchGen extends Generator {
  val name = "tpch"
  /** Generated-content version for marker-gated caches
    * ([[graft.ops.TpchFull]] via [[GenCache]]): bump when generation
    * semantics change so caches regenerate instead of serving stale
    * content. v1: initial full-schema generation. v2: o_custkey skips
    * custkeys divisible by 3 (dbgen 4.2.3 — a third of customers never
    * order; published Q22's NOT EXISTS cohort is empty without it). */
  val genVersion = 2
  def tableNames: Seq[String] = TpchSchemas.tableNames
  def tableExt: String = TpchSchemas.tableExt
  def schema(table: String): StructType = TpchSchemas(table)

  private val nations = Seq(
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1))
  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val instructs = Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val modes = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val containers = Seq("SM CASE", "SM BOX", "SM PACK", "SM PKG", "MED BAG",
    "MED BOX", "MED PKG", "MED PACK", "LG CASE", "LG BOX", "LG PACK", "LG PKG",
    "JUMBO BAG", "JUMBO BOX", "WRAP CASE", "WRAP BOX")
  private val colors = Seq("almond", "antique", "aquamarine", "azure", "beige",
    "bisque", "black", "blanched", "blue", "blush", "brown", "burlywood",
    "chartreuse", "chiffon", "chocolate", "coral", "cornflower", "cream", "cyan")
  private val types1 = Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  private val types2 = Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
  private val types3 = Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")

  private def counts(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "supplier" -> math.max(1, (10000 * sf).toLong),
    "customer" -> math.max(1, (150000 * sf).toLong),
    "part" -> math.max(1, (200000 * sf).toLong),
    "orders" -> math.max(1, (1500000 * sf).toLong))

  /** Length of the id range `tbl` is generated from: its row count for
    * every table but lineitem, which explodes its 1–7 lines from each id
    * of the orders range (so a lineitem part holds ~4× the rows of its
    * range). */
  def rowCount(tbl: String, sf: Double): Long = {
    val n = counts(sf)
    tbl match {
      case "partsupp" => n("part") * 4
      case "lineitem" => n("orders")
      case t => n.getOrElse(t, throw new IllegalArgumentException(s"unknown TPC-H table: $t"))
    }
  }

  private def key(c: Column): Column = c + 1

  /** Deterministic retail price as a function of partkey (TPC-H-spec shape),
    * reused by lineitem so l_extendedprice is consistent with part. */
  private def retail(pk: Column): Column =
    (retailCents(pk).cast(DecimalType(13, 0)) / 100).cast(DecimalType(11, 2))

  /** Lines per order: pure hash of the range id (shared by orders and
    * lineitem so the two tables agree without a join). */
  private def nLines: Column = expr("1 + pmod(xxhash64(id, 157), 7)")

  /** Per-line value expressions as pure functions of ONE 64-bit hash per
    * line, H = xxhash64(lk, 163) with lk = orderkey*8 + ln. lineitem emits
    * these as columns; orders re-evaluates them to derive o_totalprice and
    * o_orderstatus in the same narrow map job. All fields slice separate
    * bit windows of H (shiftrightunsigned keeps operands non-negative) —
    * generation is hash-bound, and one-hash-per-line is 5x fewer xxhash64
    * evals than per-field hashing (measured 5.4x on the orders table). */
  private def lineH(lk: Column): Column = h(lk, 163)
  private def linePartL(hh: Column, nParts: Long): Column = pmod(hh, lit(nParts)) + 1
  private def lineQtyL(hh: Column): Column =
    pmod(shiftrightunsigned(hh, 8), lit(50)) + 1
  private def lineTaxPct(hh: Column): Column = pmod(shiftrightunsigned(hh, 14), lit(9))
  private def lineDiscPct(hh: Column): Column = pmod(shiftrightunsigned(hh, 18), lit(11))
  private def lineShipDays(hh: Column): Column =
    (pmod(shiftrightunsigned(hh, 25), lit(121)) + 1).cast(IntegerType)
  private def retailCents(pk: Column): Column =
    lit(90000) + pmod(pk, lit(20001)) + pmod(pk, lit(1000)) * 100
  private val statusCutoff = lit("1995-06-17").cast(DateType)
  private def lineShip(hh: Column, orderDate: Column): Column =
    date_add(orderDate, lineShipDays(hh))

  /** Build one table as a DataFrame (column order = reference schema minus
    * the raw-file-only `ignore` column). */
  def table(spark: SparkSession, tbl: String, sf: Double, partitions: Int): DataFrame = {
    val n = counts(sf)
    val base = spark.range(0, rowCount(tbl, sf), 1, math.max(1, partitions))
    val S = n("supplier"); val C = n("customer"); val P = n("part")
    tbl match {
      case "region" =>
        base.select(col("id").as("r_regionkey"),
          element_at(array(regions.map(lit): _*), col("id").cast(IntegerType) + 1).as("r_name"),
          comment(3).as("r_comment"))
      case "nation" =>
        base.select(col("id").as("n_nationkey"),
          element_at(array(nations.map(x => lit(x._1)): _*), col("id").cast(IntegerType) + 1).as("n_name"),
          element_at(array(nations.map(x => lit(x._2.toLong)): _*), col("id").cast(IntegerType) + 1).as("n_regionkey"),
          comment(5).as("n_comment"))
      case "supplier" =>
        base.select(key(col("id")).as("s_suppkey"),
          concat(lit("Supplier#"), lpad(key(col("id")).cast(StringType), 9, "0")).as("s_name"),
          words(7, 4, vocab).as("s_address"),
          uniLong(11, 0, 24).as("s_nationkey"),
          phone(13).as("s_phone"),
          money(17, -999.99, 9999.99).as("s_acctbal"),
          comment(19).as("s_comment"))
      case "part" =>
        base.select(key(col("id")).as("p_partkey"),
          concat_ws(" ", pick(23, colors), pick(29, colors), pick(31, colors)).as("p_name"),
          concat(lit("Manufacturer#"), (pmod(h(37), lit(5)) + 1).cast(StringType)).as("p_mfgr"),
          concat(lit("Brand#"), (pmod(h(37), lit(5)) + 1).cast(StringType),
            (pmod(h(41), lit(5)) + 1).cast(StringType)).as("p_brand"),
          concat_ws(" ", pick(43, types1), pick(47, types2), pick(53, types3)).as("p_type"),
          uniLong(59, 1, 50).cast(IntegerType).as("p_size"),
          pick(61, containers).as("p_container"),
          retail(key(col("id"))).as("p_retailprice"),
          comment(67).as("p_comment"))
      case "partsupp" =>
        // TPC-H spec supplier assignment (4.2.3): supplier i of part pk is
        // ((pk + i*(S/4 + (pk-1)/S)) mod S) + 1 — the 4 suppliers of a part
        // are distinct at spec-valid scales (a hash draw can collide,
        // breaking the (ps_partkey, ps_suppkey) primary key) and parts
        // spread over suppliers exactly like dbgen. Integer div throughout.
        // Below S=4 the S/4 stride term is 0 and all four draws for a part
        // collide — fail loudly rather than silently break the PK.
        require(S >= 4,
          s"partsupp needs S >= 4 suppliers for the 4.2.3 assignment formula (got S=$S; use sf >= 0.0004)")
        base.select((expr("id div 4") + 1).as("ps_partkey"),
          (pmod(expr(s"(id div 4 + 1) + pmod(id, 4) * (${S / 4} + (id div 4) div $S)"),
            lit(S)) + 1).as("ps_suppkey"),
          uniLong(73, 1, 9999).cast(IntegerType).as("ps_availqty"),
          money(79, 1.00, 1000.00).as("ps_supplycost"),
          comment(83).as("ps_comment"))
      case "customer" =>
        base.select(key(col("id")).as("c_custkey"),
          concat(lit("Customer#"), lpad(key(col("id")).cast(StringType), 9, "0")).as("c_name"),
          words(89, 4, vocab).as("c_address"),
          uniLong(97, 0, 24).as("c_nationkey"),
          phone(101).as("c_phone"),
          money(103, -999.99, 9999.99).as("c_acctbal"),
          pick(107, segments).as("c_mktsegment"),
          comment(109).as("c_comment"))
      case "orders" =>
        // o_totalprice AND o_orderstatus derive from the order's lineitems
        // (TPC-H 4.2.3: status O = all lines O, F = all F, else P), computed
        // in place with ZERO shuffle by the TpchOrderDerived native
        // expression — one tight JIT'd loop over the ≤7 lines. (The unrolled
        // plain-Catalyst fold produced a 14 KB codegen method, past
        // HotSpot's 8 KB JIT limit, and ran interpreted at 5.4x the cost.)
        val drv = TpchOrderDerived.column(col("id"), P)
        base.select(col("id"), drv.as("drv"))
          .select(key(col("id")).as("o_orderkey"),
          // dbgen never assigns orders to custkeys divisible by 3 (spec
          // 4.2.3): draw uniformly over the 2C/3 valid keys and map
          // u → (u div 2)*3 + (u mod 2) + 1, hitting exactly 1,2,4,5,7,…
          {
            val u = pmod(h(113), lit(C - C / 3))
            (floor(u / lit(2)).cast(LongType) * 3 + pmod(u, lit(2)) + 1)
              .as("o_custkey")
          },
          when(col("drv.n_open") === col("drv.n_lines"), "O")
            .when(col("drv.n_open") === 0, "F")
            .otherwise("P").as("o_orderstatus"),
          (col("drv.total_cents").cast(DecimalType(13, 0)) / 100)
            .cast(DecimalType(11, 2)).as("o_totalprice"),
          date(137, "1992-01-01", 2406).as("o_orderdate"),
          pick(139, priorities).as("o_orderpriority"),
          concat(lit("Clerk#"), lpad((pmod(h(149), lit(math.max(1L, (1000 * sf).toLong))) + 1)
            .cast(StringType), 9, "0")).as("o_clerk"),
          lit(0).as("o_shippriority"),
          comment(151).as("o_comment"))
      case "lineitem" =>
        // 1–7 lines per order, exploded from the orders id range (narrow op —
        // no shuffle; line values hash on (orderkey, linenumber)).
        val o = base.select(col("id"),
          key(col("id")).as("l_orderkey"),
          date(137, "1992-01-01", 2406).as("o_orderdate"),
          explode(sequence(lit(1).cast(LongType), nLines)).as("ln"))
        val lk = col("l_orderkey") * 8 + col("ln")
        val hh = lineH(lk)
        val ship = lineShip(hh, col("o_orderdate"))
        val receipt = date_add(ship, pmod(h(lk, 179), lit(30)).cast(IntegerType) + 1)
        o.select(col("l_orderkey"),
          linePartL(hh, P).as("l_partkey"),
          (pmod(h(lk, 181), lit(S)) + 1).as("l_suppkey"),
          col("ln").cast(IntegerType).as("l_linenumber"),
          lineQtyL(hh).cast(DecimalType(11, 2)).as("l_quantity"),
          (lineQtyL(hh).cast(DecimalType(11, 2)) * retail(linePartL(hh, P)))
            .cast(DecimalType(11, 2)).as("l_extendedprice"),
          (lineDiscPct(hh).cast(DecimalType(11, 2)) / 100)
            .cast(DecimalType(11, 2)).as("l_discount"),
          (lineTaxPct(hh).cast(DecimalType(11, 2)) / 100)
            .cast(DecimalType(11, 2)).as("l_tax"),
          when(receipt <= statusCutoff,
            pick(lk, 197, Seq("R", "A"))).otherwise(lit("N")).as("l_returnflag"),
          when(ship > statusCutoff, lit("O")).otherwise(lit("F"))
            .as("l_linestatus"),
          ship.as("l_shipdate"),
          date_add(col("o_orderdate"), pmod(h(lk, 199), lit(61)).cast(IntegerType) + 30)
            .as("l_commitdate"),
          receipt.as("l_receiptdate"),
          pick(lk, 211, instructs).as("l_shipinstruct"),
          pick(lk, 223, modes).as("l_shipmode"),
          comment(227).as("l_comment"))
      case other => throw new IllegalArgumentException(s"unknown TPC-H table: $other")
    }
  }

  /** Raw rows end in '|' like dbgen's (src/tpch.rs:96-129). */
  protected def rawTrailingPipe: Boolean = true
}
