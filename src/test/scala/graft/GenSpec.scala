package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.gen.{TpchGen, TpcdsGen}

/** Generator properties (SURVEY §5.3): partition-count invariance mirrors
  * dbgen's -C/-S chunking contract (src/tpch.rs:69-72) — same (table, sf)
  * content for ANY partition count; TPC-DS tables match their declared
  * schemas and scaled row counts. */
class GenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Materialize a generated table to temp parquet and read it back — the
    * product's own consumption path (ensure()/CLI write parquet; queries
    * read it). The money-coherence tests filter on DERIVED money columns;
    * over a LIVE generation plan Catalyst pushes such a filter through the
    * staged projects all the way to Range, re-inlining the alias chain
    * into one giant condition (measured 3k+ expression nodes for the
    * 4-column refund-split identity) that exceeds janino's 64 KB method
    * limit and falls back to interpreted eval — correct but slow, and an
    * ERROR line in the log. Reading the parquet back tests the same data
    * invariants on the plan shape users actually run. */
  private val matDir = java.nio.file.Files.createTempDirectory("genspec_mat")
  private def materialized(tbl: String, sf: Double): org.apache.spark.sql.DataFrame = {
    val path = s"$matDir/$tbl-$sf"
    if (!new java.io.File(path).exists())
      graft.gen.TpcdsGen.table(spark, tbl, sf, 4).write.parquet(path)
    spark.read.parquet(path)
  }

  test("TPC-H generation is partition-count invariant") {
    Seq("supplier", "orders", "lineitem").foreach { t =>
      val p1 = TpchGen.table(spark, t, 0.001, 1)
      val p7 = TpchGen.table(spark, t, 0.001, 7)
      val p32 = TpchGen.table(spark, t, 0.001, 32)
      assert(p1.exceptAll(p7).count() == 0 && p7.exceptAll(p1).count() == 0,
        s"$t differs between 1 and 7 partitions")
      assert(p1.exceptAll(p32).count() == 0 && p32.exceptAll(p1).count() == 0,
        s"$t differs between 1 and 32 partitions")
    }
  }

  test("TPC-H generated tables match the registry schema (minus ignore)") {
    TpchGen.tableNames.foreach { t =>
      val expected = TpchGen.schema(t).fields.filterNot(_.name == "ignore")
        .map(f => (f.name, f.dataType)).toSeq
      val actual = TpchGen.table(spark, t, 0.001, 2).schema.fields
        .map(f => (f.name, f.dataType)).toSeq
      assert(actual == expected, s"$t schema mismatch")
    }
  }

  test("TPC-H FK domains are valid at sf0.001") {
    import org.apache.spark.sql.functions._
    val sf = 0.001
    val li = TpchGen.table(spark, "lineitem", sf, 2)
    val nOrders = TpchGen.table(spark, "orders", sf, 2).count()
    val nParts = TpchGen.table(spark, "part", sf, 2).count()
    val bad = li.filter(col("l_orderkey") < 1 || col("l_orderkey") > nOrders ||
      col("l_partkey") < 1 || col("l_partkey") > nParts).count()
    assert(bad == 0)
    assert(li.groupBy("l_orderkey", "l_linenumber").count()
      .filter(col("count") > 1).count() == 0, "duplicate line numbers")
  }

  test("o_custkey skips custkeys divisible by 3 (dbgen 4.2.3) but covers the rest") {
    import org.apache.spark.sql.functions._
    val sf = 0.001
    val o = TpchGen.table(spark, "orders", sf, 2)
    assert(o.filter(pmod(col("o_custkey"), lit(3)) === 0).count() == 0,
      "an order landed on a custkey divisible by 3")
    val c = TpchGen.table(spark, "customer", sf, 2).count()
    // in-range, and the valid 2/3 of the key space is actually drawn from
    assert(o.filter(col("o_custkey") < 1 || col("o_custkey") > c).count() == 0)
    val distinct = o.select("o_custkey").distinct().count()
    assert(distinct > (c - c / 3) / 2,
      s"only $distinct of ${c - c / 3} valid custkeys ever order")
  }

  test("o_totalprice equals the order's lineitem charge sum exactly") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val sf = 0.001
    val o = TpchGen.table(spark, "orders", sf, 4).select("o_orderkey", "o_totalprice")
    val agg = TpchGen.table(spark, "lineitem", sf, 4)
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) + col("l_tax"))
        * (lit(1) - col("l_discount"))), 2).cast(DecimalType(11, 2)).as("derived"))
    val joined = o.join(agg, col("o_orderkey") === col("l_orderkey"))
    assert(joined.count() == o.count(), "every order has lineitems")
    val bad = joined.filter(col("o_totalprice") =!= col("derived")).count()
    assert(bad == 0, s"$bad orders disagree with their lineitem sum")
  }

  test("o_orderstatus derives from lineitem linestatus (all-O, all-F, else P)") {
    import org.apache.spark.sql.functions._
    val sf = 0.001
    val o = TpchGen.table(spark, "orders", sf, 4).select("o_orderkey", "o_orderstatus")
    val derived = TpchGen.table(spark, "lineitem", sf, 4)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_linestatus") === "O", 1).otherwise(0)).as("nO"))
      .select(col("l_orderkey"),
        when(col("nO") === col("n"), "O").when(col("nO") === 0, "F")
          .otherwise("P").as("want"))
    val joined = o.join(derived, col("o_orderkey") === col("l_orderkey"))
    assert(joined.count() == o.count())
    assert(joined.filter(col("o_orderstatus") =!= col("want")).count() == 0)
    // and all three statuses actually occur
    assert(o.select("o_orderstatus").distinct().count() == 3)
  }

  test("partsupp primary key holds: 4 distinct suppliers per part, in range") {
    import org.apache.spark.sql.functions._
    val sf = 0.01
    val ps = TpchGen.table(spark, "partsupp", sf, 4)
    val nSupp = TpchGen.table(spark, "supplier", sf, 4).count()
    assert(ps.groupBy("ps_partkey", "ps_suppkey").count()
      .filter(col("count") > 1).count() == 0, "duplicate (partkey, suppkey)")
    assert(ps.groupBy("ps_partkey")
      .agg(countDistinct("ps_suppkey").as("ns"))
      .filter(col("ns") =!= 4).count() == 0, "a part lacks 4 distinct suppliers")
    assert(ps.filter(col("ps_suppkey") < 1 || col("ps_suppkey") > nSupp).count() == 0)
  }

  test("partsupp fails loudly below the 4-supplier minimum (tiny sf)") {
    // at sf < ~0.0004 the 4.2.3 stride term S/4 is 0 and all four draws for
    // a part collide — the generator must refuse, not silently break the PK
    val e = intercept[IllegalArgumentException] {
      TpchGen.table(spark, "partsupp", 0.0001, 1)
    }
    assert(e.getMessage.contains("S >= 4"), e.getMessage)
  }

  test("basketed TPC-DS facts fail loudly past the Int32 ticket ceiling") {
    // ticket/order numbers are Int32 per the reference schema; a basket
    // count past Int.MaxValue would wrap them negative in non-ANSI mode and
    // corrupt the returns⋈sales PK linkage — the generator must refuse
    // (plan construction time, no job). With the exact closed-form count
    // (v14 pattern: avg 6.125 lines/ticket) store_sales hits 2^31 baskets
    // at sf ≈ 4566; the returns fact re-evaluates the same basket ids and
    // must refuse too.
    for (tbl <- Seq("store_sales", "store_returns")) {
      val e = intercept[IllegalArgumentException] {
        TpcdsGen.table(spark, tbl, 5000, 1)
      }
      assert(e.getMessage.contains("would wrap"), e.getMessage)
    }
    // under the exact ceiling (the old minLines=1 bound wrongly rejected
    // everything past sf ≈ 745): constructs fine
    TpcdsGen.table(spark, "store_sales", 4500, 1)
    TpcdsGen.table(spark, "store_sales", 100, 1)
  }

  test("TPC-DS FKs are valid over the target dim's key range at this sf") {
    import org.apache.spark.sql.functions._
    val sf = 0.01
    val ss = TpcdsGen.table(spark, "store_sales", sf, 4)
    val cust = TpcdsGen.table(spark, "customer", sf, 4).select("c_customer_sk")
    val nonNull = ss.filter(col("ss_customer_sk").isNotNull)
    val matched = nonNull
      .join(cust, col("ss_customer_sk") === col("c_customer_sk")).count()
    assert(matched == nonNull.count(),
      "every non-null ss_customer_sk resolves in customer")
    // every sales and returns fact's item FK resolves in item: q14's
    // totals (and every item-sliced query) depend on it
    val item = TpcdsGen.table(spark, "item", sf, 4).select("i_item_sk")
    for ((fact, fk) <- Seq("store_sales" -> "ss_item_sk", "catalog_sales" -> "cs_item_sk",
        "web_sales" -> "ws_item_sk", "store_returns" -> "sr_item_sk",
        "catalog_returns" -> "cr_item_sk", "web_returns" -> "wr_item_sk")) {
      val keys = TpcdsGen.table(spark, fact, sf, 4).select(fk).filter(col(fk).isNotNull)
      val orphans = keys.join(item, col(fk) === col("i_item_sk"), "left_anti").count()
      assert(keys.count() > 0 && orphans == 0,
        s"$orphans non-null $fk values of $fact do not resolve in item")
    }
    // date FK spans date_dim's fixed 73,049 keys — not a 1..1000 stub domain
    val Array(lo, hi) = ss.agg(min("ss_sold_date_sk"), max("ss_sold_date_sk"))
      .head().toSeq.map(_.asInstanceOf[Int]).toArray
    assert(lo >= 1 && hi <= 73049, s"date FK out of range [$lo,$hi]")
    assert(hi > 10000, s"date FK domain too narrow (max=$hi)")
    // and the FK draw is partition-count invariant like everything else
    val p3 = TpcdsGen.table(spark, "store_sales", 0.001, 3)
      .select("ss_sold_date_sk", "ss_customer_sk", "ss_item_sk")
    val p11 = TpcdsGen.table(spark, "store_sales", 0.001, 11)
      .select("ss_sold_date_sk", "ss_customer_sk", "ss_item_sk")
    assert(p3.exceptAll(p11).count() == 0 && p11.exceptAll(p3).count() == 0)
  }

  test("date_dim and time_dim are true calendars; date FKs land in the sales window") {
    import org.apache.spark.sql.functions._
    val dd = TpcdsGen.table(spark, "date_dim", 1.0, 4)
    // sk 1 = 1900-01-01; derived fields must agree with the actual date
    val bad = dd.filter(
      col("d_date") =!= expr("date_add(DATE'1900-01-01', d_date_sk - 1)") ||
        col("d_year") =!= year(col("d_date")) ||
        col("d_moy") =!= month(col("d_date")) ||
        col("d_dom") =!= dayofmonth(col("d_date")) ||
        col("d_qoy") =!= quarter(col("d_date")) ||
        col("d_dow") =!= dayofweek(col("d_date")) - 1 ||
        (col("d_weekend") === "Y") =!= dayofweek(col("d_date")).isin(1, 7))
    assert(bad.count() == 0, "date_dim calendar fields inconsistent")
    val td = TpcdsGen.table(spark, "time_dim", 1.0, 4)
    val badT = td.filter(
      col("t_time") =!= col("t_time_sk") - 1 ||
        col("t_hour") * 3600 + col("t_minute") * 60 + col("t_second") =!= col("t_time"))
    assert(badT.count() == 0, "time_dim fields inconsistent")
    // fact date FKs: valid AND inside the 1998-2002 sales window
    val ss = TpcdsGen.table(spark, "store_sales", 0.01, 4)
      .join(dd, col("ss_sold_date_sk") === col("d_date_sk"))
    assert(ss.filter(col("d_year") < 1998 || col("d_year") > 2002).count() == 0,
      "sales dates outside the dsdgen-like window")
    assert(ss.select(countDistinct(col("d_year"))).head().getLong(0) == 5,
      "sales dates don't span the window")
  }

  test("all 24 TPC-DS tables generate with exact schema and scaled row count") {
    TpcdsGen.tableNames.foreach { t =>
      val df = TpcdsGen.table(spark, t, 0.001, 2)
      val expected = TpcdsGen.schema(t).fields.map(f => (f.name, f.dataType)).toSeq
      val actual = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
      assert(actual == expected, s"$t schema mismatch")
      assert(df.count() == TpcdsGen.rowCount(t, 0.001), s"$t row count")
    }
  }

  test("TPC-DS generation is partition-count invariant") {
    Seq("item", "store_sales").foreach { t =>
      val p1 = TpcdsGen.table(spark, t, 0.001, 1)
      val p9 = TpcdsGen.table(spark, t, 0.001, 9)
      assert(p1.exceptAll(p9).count() == 0 && p9.exceptAll(p1).count() == 0, t)
    }
  }

  test("tableSlice ≡ the full table's id range; concatenated slices ≡ full") {
    // the disk-budgeted written-generation probe (r15 verdict #4)
    // extrapolates slice-write wall-clock ×denominator — sound only if a
    // slice IS the table restricted to that row range, bit for bit
    Seq("store_sales", "store_returns", "date_dim", "item").foreach { t =>
      val rows = TpcdsGen.rowCount(t, 0.001)
      val full = TpcdsGen.table(spark, t, 0.001, 4)
      val mid = rows / 3
      val a = TpcdsGen.tableSlice(spark, t, 0.001, 4, 0L, mid)
      val b = TpcdsGen.tableSlice(spark, t, 0.001, 4, mid, rows)
      assert(a.count() + b.count() === rows, t)
      val cat = a.unionByName(b)
      assert(cat.exceptAll(full).count() == 0 && full.exceptAll(cat).count() == 0,
        s"$t: slices do not reassemble the full table")
    }
    // out-of-bounds slices fail loudly
    intercept[IllegalArgumentException] {
      TpcdsGen.tableSlice(spark, "item", 0.001, 4, 5L, 4L)
    }
  }

  test("fixed-cardinality TPC-DS dims ignore scale factor") {
    // calendar/bucket dims plus the v8 physical-site floors (store,
    // call_center, web_site, warehouse): tiny-world degeneracy guard
    Seq("date_dim", "time_dim", "income_band", "ship_mode",
        "store", "call_center", "web_site", "warehouse").foreach { t =>
      assert(TpcdsGen.rowCount(t, 0.001) == TpcdsGen.rowCount(t, 100.0), t)
    }
  }

  test("v19: customer_demographics scales only up to its full cross product") {
    // linear prefix below sf1 (gate caches bit-identical to v18) ...
    assert(TpcdsGen.rowCount("customer_demographics", 0.01) == 19208L)
    assert(TpcdsGen.rowCount("customer_demographics", 0.1) == 192080L)
    // ... then capped at dsdgen's fixed 1,920,800-row cross product, so
    // cd stays broadcastable (never fact-sized) at any scale factor
    Seq(1.0, 10.0, 100.0, 1000.0).foreach { sf =>
      assert(TpcdsGen.rowCount("customer_demographics", sf) == 1920800L, s"sf$sf")
    }
  }

  test("sales facts are basketed: dense tickets, basket-coherent FKs") {
    import org.apache.spark.sql.functions._
    val sf = 0.01
    val ss = TpcdsGen.table(spark, "store_sales", sf, 4)
    val rows = TpcdsGen.rowCount("store_sales", sf)
    // v9: variable-size baskets follow the periodic pattern exactly — the
    // expected ticket-size multiset is closed-form from (pattern, rows):
    // `full` whole blocks contribute the pattern verbatim; the partial
    // block truncates its last basket at the row boundary
    val pat = TpcdsGen.storePattern
    val cum = pat.scanLeft(0)(_ + _)
    val (t, full, rem) = (pat.sum, rows / pat.sum, (rows % pat.sum).toInt)
    val expected = scala.collection.mutable.Map[Long, Long]()
      .withDefaultValue(0L)
    pat.foreach(s => expected(s.toLong) += full)
    cum.init.zip(pat).foreach { case (start, s) =>
      if (start < rem) expected(math.min(s, rem - start).toLong) += 1 }
    val nTickets = full * pat.size + cum.init.count(_ < rem)
    val agg = ss.groupBy("ss_ticket_number").count()
    val got = agg.groupBy("count").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected.toMap,
      s"ticket-size distribution mismatch: got $got expected $expected")
    val Array(lo, hi) = ss.agg(min("ss_ticket_number"), max("ss_ticket_number"))
      .head().toSeq.map(_.asInstanceOf[Int]).toArray
    assert(lo == 1 && hi == nTickets, s"tickets not dense [$lo,$hi] vs $nTickets")
    // catalog/web orders keep their fixed 4-line baskets
    val cs = TpcdsGen.table(spark, "catalog_sales", sf, 4)
      .groupBy("cs_order_number").count()
    assert(cs.filter(col("count") =!= 4).count() <= 1, // boundary basket
      "catalog order with unexpected line count")
    // every basket-level FK (incl. its null decision) is constant per ticket
    val bad = ss.groupBy("ss_ticket_number").agg(
      countDistinct(col("ss_customer_sk")).as("nc"),
      countDistinct(col("ss_sold_date_sk")).as("nd"),
      countDistinct(col("ss_store_sk")).as("ns"),
      (count(lit(1)) - count(col("ss_customer_sk"))).as("nullc"),
      count(lit(1)).as("n"))
      .filter(col("nc") > 1 || col("nd") > 1 || col("ns") > 1 ||
        (col("nullc") =!= 0 && col("nullc") =!= col("n")))
    assert(bad.count() == 0, "basket-level FK varies within a ticket")
  }

  test("item merchandise hierarchy: brand → class → category, ids 1:1 with strings") {
    import org.apache.spark.sql.functions._
    val it = TpcdsGen.table(spark, "item", 0.01, 4)
    // functional dependencies over non-null pairs, both directions for the
    // id↔string pairs (dsdgen ties them; a violation means a grouping by
    // (id, string) would fan out)
    for ((a, b) <- Seq(
      "i_brand" -> "i_class", "i_class" -> "i_category",
      "i_brand_id" -> "i_brand", "i_brand" -> "i_brand_id",
      "i_class_id" -> "i_class", "i_class" -> "i_class_id",
      "i_category_id" -> "i_category", "i_category" -> "i_category_id",
      "i_manufact_id" -> "i_manufact", "i_manufact" -> "i_manufact_id")) {
      val fanout = it.filter(col(a).isNotNull && col(b).isNotNull)
        .groupBy(a).agg(countDistinct(col(b)).as("n")).filter(col("n") > 1)
      assert(fanout.count() == 0, s"$a does not determine $b")
    }
    // id and string of one member are null TOGETHER (v6): otherwise a
    // grouping by (id, string) still fans an id into a (string, NULL)
    // second group that the non-null FD check above can't see
    for ((idc, strc) <- Seq(
      "i_category_id" -> "i_category", "i_class_id" -> "i_class",
      "i_brand_id" -> "i_brand", "i_manufact_id" -> "i_manufact")) {
      assert(it.filter(col(idc).isNull =!= col(strc).isNull).count() == 0,
        s"$idc and $strc draw independent null decisions")
      assert(it.filter(col(idc).isNull).count() > 0,
        s"$idc carries no nulls at all — the coherence check is vacuous")
    }
  }

  test("spark.graft.cacheRoot relocates the materialization cache") {
    import java.nio.file.{Files, Paths}
    val tmpRoot = Files.createTempDirectory("graft_cacheroot_test").toString
    assert(graft.gen.GenCache.rootFor(spark, "graft_x/gen1") == "/tmp/graft_x/gen1",
      "default cache root must stay /tmp (the oracle paths pin it)")
    spark.conf.set("spark.graft.cacheRoot", tmpRoot + "/")
    try {
      assert(graft.gen.GenCache.rootFor(spark, "graft_x/gen1") ==
        s"$tmpRoot/graft_x/gen1")
      // a full ensure() cycle lands (and marks) the data under the override
      val dir = graft.gen.GenCache.ensure(spark,
        graft.gen.GenCache.rootFor(spark, "graft_x/gen1"), "/root/testdata/sf0.001") {
        (s, sf, tmp) =>
          s.range(math.max(1, (sf * 1000).toLong)).write.parquet(s"$tmp/t.parquet")
      }
      assert(dir.startsWith(tmpRoot), s"cache landed outside the override: $dir")
      assert(Files.exists(Paths.get(dir, "_GRAFT_COMPLETE")), "marker missing")
      assert(Files.exists(Paths.get(dir, "t.parquet")), "data missing")
    } finally spark.conf.unset("spark.graft.cacheRoot")
  }

  test("stale-generation sweep skips a sibling whose scale lock is held") {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val parent = Files.createTempDirectory("graft_gencache_test")
    val stale = parent.resolve("gen1")
    val cur = parent.resolve("gen2")
    Files.createDirectories(stale.resolve("sf0.01"))
    Files.createDirectories(cur)
    val lockFile = stale.resolve("sf0.01.lock")
    val ch = java.nio.channels.FileChannel.open(lockFile,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    // tryLock in THIS JVM marks the file locked for any other channel too
    // (OverlappingFileLockException) — exactly the signal sweep must honor
    val held = ch.tryLock()
    try {
      graft.gen.GenCache.sweepStaleSiblings(spark, cur)
      assert(Files.exists(stale.resolve("sf0.01")),
        "sweep deleted a generation whose scale lock was held")
    } finally { held.release(); ch.close() }
    graft.gen.GenCache.sweepStaleSiblings(spark, cur)
    assert(!Files.exists(stale), "sweep skipped an unlocked stale generation")
  }

  test("(order_number, item_sk) is a true PK on every sales channel") {
    import org.apache.spark.sql.functions._
    // dsdgen guarantees distinct items within a ticket; the prime-stepped
    // basket item tour reproduces that exactly (not just w.h.p.)
    for ((tbl, ord, item) <- Seq(
      ("store_sales", "ss_ticket_number", "ss_item_sk"),
      ("catalog_sales", "cs_order_number", "cs_item_sk"),
      ("web_sales", "ws_order_number", "ws_item_sk"))) {
      val df = TpcdsGen.table(spark, tbl, 0.01, 4)
      val n = df.count()
      val d = df.select(ord, item).distinct().count()
      assert(d == n, s"$tbl: $n rows but only $d distinct ($ord, $item) pairs")
    }
  }

  test("returns facts reference actual sales rows (join on order+item)") {
    import org.apache.spark.sql.functions._
    val sf = 0.01
    val ss = TpcdsGen.table(spark, "store_sales", sf, 4)
    val sr = TpcdsGen.table(spark, "store_returns", sf, 4)
    val j = sr.join(ss,
      sr("sr_ticket_number") === ss("ss_ticket_number") &&
        sr("sr_item_sk") === ss("ss_item_sk"), "left")
    // every return hits EXACTLY its originating sale: (ticket, item) is a
    // true PK on the sales side since v3, so the left join is 1:1
    assert(j.filter(ss("ss_item_sk").isNull).count() == 0,
      "a return references no sales row")
    assert(j.count() == sr.count(), "returns⋈sales fan-out: PK violated")
    // the linked columns agree with the matched sale, nulls included
    assert(j.filter(!(sr("sr_customer_sk") <=> ss("ss_customer_sk"))).count() == 0,
      "sr_customer_sk disagrees with the originating sale")
    // returns never precede their sale
    assert(j.filter(sr("sr_returned_date_sk") < ss("ss_sold_date_sk")).count() == 0,
      "a return predates its sale")
    // injective draw: ~10% of sales lines returned, none twice
    assert(sr.select("sr_ticket_number", "sr_item_sk").distinct().count()
      == sr.count(), "returns collide on (order,item)")
    // and returns generation is partition-count invariant like everything
    val p3 = TpcdsGen.table(spark, "store_returns", 0.001, 3)
    val p11 = TpcdsGen.table(spark, "store_returns", 0.001, 11)
    assert(p3.exceptAll(p11).count() == 0 && p11.exceptAll(p3).count() == 0)
    // v17: ~90% of returning parties ARE the buyer (their demo/address
    // keys follow the bill side — the v15 linkage); ~10% are an
    // INDEPENDENT customer, so Q85's published cd1 = cd2 equality arms
    // are real predicates, not vacuous pass-alls
    val wr = TpcdsGen.table(spark, "web_returns", 0.01, 4)
    val wrN = wr.count().toDouble
    val sameShare = wr.filter(
      col("wr_returning_customer_sk") <=> col("wr_refunded_customer_sk") &&
      col("wr_returning_cdemo_sk") <=> col("wr_refunded_cdemo_sk") &&
      col("wr_returning_hdemo_sk") <=> col("wr_refunded_hdemo_sk") &&
      col("wr_returning_addr_sk") <=> col("wr_refunded_addr_sk"))
      .count().toDouble / wrN
    assert(sameShare > 0.84 && sameShare < 0.96,
      f"buyer-is-returner share $sameShare%.3f outside the 90%% draw band")
    // the fresh party's keys are ROW-COHERENT: they re-evaluate that
    // customer row's own c_current_* draws
    val cust = TpcdsGen.table(spark, "customer", 0.01, 4)
      .select(col("c_customer_sk"), col("c_current_cdemo_sk"),
        col("c_current_hdemo_sk"), col("c_current_addr_sk"))
    val fresh = wr.filter(
        !(col("wr_returning_customer_sk") <=> col("wr_refunded_customer_sk")))
      .join(cust, col("wr_returning_customer_sk") === col("c_customer_sk"))
    assert(fresh.count() > 0, "no independent returning parties drawn")
    assert(fresh.filter(
      !(col("wr_returning_cdemo_sk") <=> col("c_current_cdemo_sk")) ||
      !(col("wr_returning_hdemo_sk") <=> col("c_current_hdemo_sk")) ||
      !(col("wr_returning_addr_sk") <=> col("c_current_addr_sk"))).count() == 0,
      "an independent returning party's keys disagree with its customer row")
  }

  test("sales money columns are arithmetically coherent") {
    import org.apache.spark.sql.functions._
    // the derivation chain holds EXACTLY on stored (cent-rounded) columns
    // wherever the participating columns are non-null; bounds keep every
    // ext value inside DECIMAL(7,2)
    for (t <- Seq("store_sales", "catalog_sales", "web_sales")) {
      val p = Map("store_sales" -> "ss", "catalog_sales" -> "cs",
        "web_sales" -> "ws")(t)
      val df = materialized(t, 0.01)
      def c(n: String) = col(s"${p}_$n")
      def d2(x: org.apache.spark.sql.Column) =
        x.cast(org.apache.spark.sql.types.DecimalType(7, 2))
      val checks = Seq(
        ("qty in [1,100]", c("quantity") < 1 || c("quantity") > 100),
        ("sales <= list", c("sales_price") > c("list_price")),
        // decimal literal: a double 2.5 would take the double-rounding path
        // and disagree on exact-halfway cents
        ("list <= 2.5x wholesale",
          c("list_price") > d2(c("wholesale_cost") * lit(BigDecimal("2.50")))),
        ("ext_sales = sales x qty", c("ext_sales_price") =!= d2(c("sales_price") * c("quantity"))),
        ("ext_list = list x qty", c("ext_list_price") =!= d2(c("list_price") * c("quantity"))),
        ("ext_wholesale = whl x qty", c("ext_wholesale_cost") =!= d2(c("wholesale_cost") * c("quantity"))),
        ("ext_discount = (list-sales) x qty",
          c("ext_discount_amt") =!= d2((c("list_price") - c("sales_price")) * c("quantity"))),
        ("net_paid = ext_sales - coupon", c("net_paid") =!= d2(c("ext_sales_price") - c("coupon_amt"))),
        ("net_paid_inc_tax = net_paid + tax", c("net_paid_inc_tax") =!= d2(c("net_paid") + c("ext_tax"))),
        ("net_profit = net_paid - ext_wholesale",
          c("net_profit") =!= d2(c("net_paid") - c("ext_wholesale_cost"))))
      for ((label, viol) <- checks)
        assert(df.filter(viol).count() == 0, s"$t: $label violated")
      // most coupons are zero (promo-driven), but not all
      val withCoupon = df.filter(c("coupon_amt") > 0).count()
      assert(withCoupon > 0 && withCoupon < df.count() / 2, s"$t coupon shape")
    }
  }

  test("returns money columns are coherent with the linked sale") {
    import org.apache.spark.sql.functions._
    val ss = materialized("store_sales", 0.01)
    val sr = materialized("store_returns", 0.01)
    def d2(x: org.apache.spark.sql.Column) =
      x.cast(org.apache.spark.sql.types.DecimalType(7, 2))
    val j = sr.join(ss, sr("sr_ticket_number") === ss("ss_ticket_number") &&
      sr("sr_item_sk") === ss("ss_item_sk"))
    // can't return more than was sold; refund value prices returned units
    // at the sale's unit price. A basket can (rarely) repeat an item, so a
    // return matches >1 sales line — the invariant is EXISTS a matched line
    // satisfying it (the one the generator linked), not ALL matches.
    val perReturn = j
      .filter(sr("sr_return_quantity").isNotNull && ss("ss_quantity").isNotNull &&
        sr("sr_return_amt").isNotNull && ss("ss_sales_price").isNotNull)
      .groupBy(sr("sr_ticket_number"), sr("sr_item_sk"),
        sr("sr_return_quantity"), sr("sr_return_amt"))
      .agg(max(ss("ss_quantity")).as("max_qty"),
        max((sr("sr_return_amt") ===
          d2(ss("ss_sales_price") * sr("sr_return_quantity"))).cast("int")).as("amt_ok"))
    assert(perReturn.filter(col("sr_return_quantity") > col("max_qty")).count() == 0,
      "returned more than sold")
    assert(sr.filter(col("sr_return_quantity") < 1).count() == 0)
    assert(perReturn.filter(col("amt_ok") === 0).count() == 0,
      "return_amt != unit sales price x returned qty on every matched line")
    // the refund split sums exactly; net_loss decomposes exactly
    assert(sr.filter(col("sr_refunded_cash") + col("sr_reversed_charge") +
      col("sr_store_credit") =!= col("sr_return_amt_inc_tax")).count() == 0,
      "refund split does not sum to amt_inc_tax")
    assert(sr.filter(col("sr_net_loss") =!= d2(col("sr_return_amt_inc_tax") +
      col("sr_fee") + col("sr_return_ship_cost"))).count() == 0,
      "net_loss decomposition broken")
  }

  test("dictionary columns draw from their spec domains") {
    import org.apache.spark.sql.functions._
    val cd = TpcdsGen.table(spark, "customer_demographics", 0.001, 2)
    val genders = cd.select("cd_gender").filter(col("cd_gender").isNotNull)
      .distinct().collect().map(_.getString(0)).toSet
    assert(genders.subsetOf(Set("M", "F")) && genders.size == 2, genders)
    val item = TpcdsGen.table(spark, "item", 0.01, 2)
    val cats = item.select("i_category").filter(col("i_category").isNotNull)
      .distinct().collect().map(_.getString(0)).toSet
    assert(cats.subsetOf(Set("Books", "Children", "Electronics", "Home",
      "Jewelry", "Men", "Music", "Shoes", "Sports", "Women")), cats)
    assert(cats.size >= 8, s"category domain under-covered: $cats")
    // v7 domains: store and address CITIES share one domain (published
    // queries compare them), ship-mode types are the spec buckets, and
    // customer flags/salutations are domain-valued
    def domain(tbl: String, sf: Double, c: String): Set[String] =
      TpcdsGen.table(spark, tbl, sf, 2).select(c).filter(col(c).isNotNull)
        .distinct().collect().map(_.getString(0)).toSet
    val sCity = domain("store", 1.0, "s_city")
    val caCity = domain("customer_address", 0.01, "ca_city")
    assert(sCity.nonEmpty && caCity.nonEmpty && sCity.subsetOf(caCity ++ sCity))
    assert((sCity intersect caCity).nonEmpty,
      s"store and address cities share no values: $sCity vs $caCity")
    assert(domain("ship_mode", 1.0, "sm_type").subsetOf(Set("EXPRESS",
      "NEXT DAY", "OVERNIGHT", "REGULAR", "TWO DAY", "LIBRARY")))
    assert(domain("customer", 0.01, "c_preferred_cust_flag")
      .subsetOf(Set("Y", "N")))
  }

  test("v8: zips are 5-digit from one shared domain; managers number 1..100") {
    import org.apache.spark.sql.functions._
    def zipDomain(tbl: String, sf: Double, c: String): Set[String] =
      TpcdsGen.table(spark, tbl, sf, 2).select(c).filter(col(c).isNotNull)
        .distinct().collect().map(_.getString(0)).toSet
    val caZips = zipDomain("customer_address", 0.01, "ca_zip")
    assert(caZips.nonEmpty && caZips.forall(_.matches("\\d{5}")),
      s"ca_zip not 5-digit: ${caZips.take(5)}")
    val sZips = zipDomain("store", 1.0, "s_zip")
    assert(sZips.nonEmpty && sZips.forall(_.matches("\\d{5}")),
      s"s_zip not 5-digit: $sZips")
    // shared CLOSED domain: both columns draw from the same 100 values
    // (sf0.01's 500 address draws may miss ~1 value, so subset-of-observed
    // is too strict; union cardinality bounds the domain instead)
    assert((caZips ++ sZips).size <= 100,
      s"zip domain larger than the declared 100: ${(caZips ++ sZips).size}")
    assert((caZips intersect sZips).nonEmpty,
      "store and address zips share no values")
    // 2-prefix grain is coarser than the zip grain but not degenerate —
    // Q8's substr(zip, 1, 2) intersection needs both
    val prefixes = caZips.map(_.take(2))
    assert(prefixes.size >= 10 && prefixes.size < caZips.size,
      s"zip 2-prefix grain degenerate: ${prefixes.size} of ${caZips.size}")
    val mgr = TpcdsGen.table(spark, "item", 0.01, 2)
      .select("i_manager_id").filter(col("i_manager_id").isNotNull)
      .agg(min("i_manager_id"), max("i_manager_id")).head()
    assert(mgr.getInt(0) >= 1 && mgr.getInt(1) <= 100,
      s"i_manager_id outside 1..100: $mgr")
  }

  test("v14: zip locality — stores in the urban core, addresses 20% core") {
    import org.apache.spark.sql.functions._
    val core = (0 until 100 by 8).map(i => f"${10000 + i * 607}%05d")
      .take(12).toSet
    val sZips = TpcdsGen.table(spark, "store", 1.0, 2)
      .select("s_zip").filter(col("s_zip").isNotNull)
      .collect().map(_.getString(0))
    assert(sZips.nonEmpty && sZips.forall(core),
      s"store zip outside the urban core: ${sZips.filterNot(core).toSeq}")
    // 2-prefixes of the core are pairwise distinct — the store-prefix
    // grain Q8 intersects on must stay as wide as the store dim
    assert(core.map(_.take(2)).size == core.size,
      "urban-core 2-prefixes collide")
    val ca = TpcdsGen.table(spark, "customer_address", 0.01, 2)
      .select("ca_zip").filter(col("ca_zip").isNotNull)
      .collect().map(_.getString(0))
    val share = ca.count(core).toDouble / ca.length
    // 25% core draw + 75%×(12/100) incidental = 0.34 expected; ±3.5σ
    // at the 500-address gate scale
    assert(share > 0.26 && share < 0.42,
      f"address urban-core share $share%.3f outside [0.26, 0.42]")
  }

  test("v15: published-literal state roster — cyclic store states, weighted addresses") {
    import org.apache.spark.sql.functions._
    // every storeStates member has a store at the 12-row floor (cyclic —
    // the published s_state = 'TN' point filters, Q1/Q27/Q36, are
    // structural, never a hash-draw accident), and none is nulled
    val sStates = TpcdsGen.table(spark, "store", 1.0, 2)
      .select("s_state").collect().map(_.getString(0))
    assert(!sStates.contains(null), "s_state nulled — roster has holes")
    assert(sStates.toSet == TpcdsGen.storeStates.toSet,
      s"store state roster mismatch: ${sStates.toSet}")
    // address states draw the full 25-state roster at the 4:1 slot
    // weights; every minor state a published predicate names is present
    val ca = TpcdsGen.table(spark, "customer_address", 0.1, 2)
      .select("ca_state").filter(col("ca_state").isNotNull)
      .collect().map(_.getString(0))
    val n = ca.length.toDouble
    val majorShare = ca.count(TpcdsGen.majorStates.toSet).toDouble / n
    // majors hold 40 of 55 slots = 72.7%; ±4σ at the 5000-address scale
    assert(majorShare > 0.70 && majorShare < 0.76,
      f"major-state share $majorShare%.3f outside [0.70, 0.76]")
    val missing = TpcdsGen.minorStates.filterNot(ca.toSet)
    assert(missing.isEmpty, s"minor states absent at sf0.1: $missing")
    // the timezone map covers the whole roster (coherence test relies on it)
    for (s <- TpcdsGen.majorStates ++ TpcdsGen.minorStates ++ TpcdsGen.storeStates)
      assert(TpcdsGen.stateGmt.contains(s), s"stateGmt missing $s")
  }

  test("v16: cyclic counties — every county holds a store; Williamson holds a call center") {
    // Q73's published 4-county list and Q16's published Williamson
    // call-center gate must be structural, never a hash-draw accident
    val sCty = TpcdsGen.table(spark, "store", 1.0, 2)
      .select("s_county").collect().map(_.getString(0))
    assert(!sCty.contains(null), "s_county nulled — roster has holes")
    for (c <- Seq("Williamson County", "Franklin Parish", "Bronx County",
        "Orange County"))
      assert(sCty.contains(c), s"no store in $c")
    val ccCty = TpcdsGen.table(spark, "call_center", 1.0, 2)
      .select("cc_county").collect().map(_.getString(0))
    assert(!ccCty.contains(null), "cc_county nulled")
    assert(ccCty.contains("Williamson County"), "no Williamson call center")
  }

  test("v10: two concurrent driver JVMs share one cache root; exactly-once generation") {
    // The fleet scenario the cacheRoot knob exists for: N INDEPENDENT
    // drivers (separate JVMs — the in-JVM `synchronized` can't help) race
    // GenCache.ensure on one shared POSIX root. The java.nio file-lock +
    // tmp + atomic-rename + marker protocol must let exactly one generate
    // while the other blocks then reuses, and neither may observe a
    // partial cache. Each probe (graft.tools.GenOnce) appends to
    // <root>/gen.log inside its generate closure and validates marker +
    // exact row counts before exiting 0.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_fleet_test").toString
    // probe stdout lives OUTSIDE the cache parent: the versioned-root sweep
    // treats unknown sibling files of the cache root as stale strays (by
    // design — the parent is graft-owned) and would delete the logs
    val outDir = Files.createTempDirectory("graft_fleet_out").toString
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList.sliding(2).collect {
        case List(flag, v) if flag == "--add-opens" || flag == "--add-exports" =>
          List(flag, v)
      }.flatten.toList
    def probe(id: String): Process = new ProcessBuilder(
      (List(javaBin) ++ jvmArgs ++ List("-Xmx2g",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", System.getProperty("java.class.path"),
        "graft.tools.GenOnce", root, "/root/testdata/sf0.001", id)).asJava)
      .redirectErrorStream(true)
      .redirectOutput(new java.io.File(s"$outDir/probe-$id.out"))
      .start()
    val (p1, p2) = (probe("p1"), probe("p2"))
    assert(p1.waitFor(600, java.util.concurrent.TimeUnit.SECONDS), "p1 timed out")
    assert(p2.waitFor(600, java.util.concurrent.TimeUnit.SECONDS), "p2 timed out")
    def out(id: String) = new String(Files.readAllBytes(Paths.get(s"$outDir/probe-$id.out")))
    assert(p1.exitValue() == 0, s"p1 failed:\n${out("p1").takeRight(2000)}")
    assert(p2.exitValue() == 0, s"p2 failed:\n${out("p2").takeRight(2000)}")
    val log = Paths.get(root, "gencache_probe", "gen.log")
    assert(Files.exists(log), "no generation ran at all")
    val gens = Files.readAllLines(log).asScala
    assert(gens.size == 1, s"generation ran ${gens.size} times: $gens")
    assert(Files.exists(Paths.get(root, "gencache_probe", "sf0.001", "_GRAFT_COMPLETE")))
    // no leftover tmp staging dir
    val leftovers = Files.list(Paths.get(root, "gencache_probe")).iterator().asScala
      .filter(_.getFileName.toString.startsWith(".")).toList
    assert(leftovers.isEmpty, s"staging leftovers: $leftovers")
  }

  test("v10: channel-calibrated money — per-channel revenue within 5% of the mean") {
    import org.apache.spark.sql.functions._
    // order-stat wholesale draws (ss=min4, cs=2nd of 4, ws=max4) equalize
    // expected per-item revenue across the 4:2:1 channel row volumes — the
    // published cross-channel parity bands (Q58 ±10%) depend on it
    def total(tbl: String, c: String): Double =
      TpcdsGen.table(spark, tbl, 0.01, 4)
        .agg(sum(col(c)).cast("double")).head().getDouble(0)
    val ss = total("store_sales", "ss_ext_sales_price")
    val cs = total("catalog_sales", "cs_ext_sales_price")
    val ws = total("web_sales", "ws_ext_sales_price")
    val mean = (ss + cs + ws) / 3.0
    for ((n, v) <- Seq("ss" -> ss, "cs" -> cs, "ws" -> ws))
      assert(math.abs(v - mean) / mean < 0.05,
        f"$n channel revenue $v%.0f deviates >5%% from mean $mean%.0f")
    // wholesale means order as min4 < 2nd-of-4 < max4 over one range
    def whlStats(tbl: String, c: String) =
      TpcdsGen.table(spark, tbl, 0.01, 4)
        .agg(avg(col(c)).cast("double"), min(col(c)).cast("double"),
          max(col(c)).cast("double")).head()
    val (w1, w2, w3) = (whlStats("store_sales", "ss_wholesale_cost"),
      whlStats("catalog_sales", "cs_wholesale_cost"),
      whlStats("web_sales", "ws_wholesale_cost"))
    assert(w1.getDouble(0) < w2.getDouble(0) && w2.getDouble(0) < w3.getDouble(0),
      s"wholesale means not ordered: $w1 $w2 $w3")
    for (w <- Seq(w1, w2, w3))
      assert(w.getDouble(1) >= 1.0 && w.getDouble(2) <= 99.99,
        s"wholesale outside published [1, 99.99]: $w")
  }

  test("v10: demographics count domains, birth calendar, countries") {
    import org.apache.spark.sql.functions._
    val hd = TpcdsGen.table(spark, "household_demographics", 1.0, 2)
    val h = hd.agg(min("hd_dep_count"), max("hd_dep_count"),
      min("hd_vehicle_count"), max("hd_vehicle_count")).head()
    assert(h.getInt(0) >= 0 && h.getInt(1) <= 9, s"hd_dep_count: $h")
    assert(h.getInt(2) >= -1 && h.getInt(3) <= 4, s"hd_vehicle_count: $h")
    val cd = TpcdsGen.table(spark, "customer_demographics", 0.001, 2)
      .agg(min("cd_dep_count"), max("cd_dep_count"),
        min("cd_dep_employed_count"), max("cd_dep_employed_count")).head()
    assert(cd.getInt(0) >= 0 && cd.getInt(1) <= 6, s"cd_dep_count: $cd")
    val cu = TpcdsGen.table(spark, "customer", 0.01, 2)
    val b = cu.agg(min("c_birth_day"), max("c_birth_day"),
      min("c_birth_month"), max("c_birth_month"),
      min("c_birth_year"), max("c_birth_year")).head()
    assert(b.getInt(0) >= 1 && b.getInt(1) <= 31, s"birth_day: $b")
    assert(b.getInt(2) >= 1 && b.getInt(3) <= 12, s"birth_month: $b")
    assert(b.getInt(4) >= 1924 && b.getInt(5) <= 1992, s"birth_year: $b")
    val countries = cu.select("c_birth_country")
      .filter(col("c_birth_country").isNotNull)
      .distinct().collect().map(_.getString(0)).toSet
    assert(countries.contains("UNITED STATES") && countries.size >= 10,
      s"birth countries under-covered: ${countries.take(5)}")
    assert(countries.forall(c => c == c.toUpperCase), "countries not uppercase")
    val caCountry = TpcdsGen.table(spark, "customer_address", 0.01, 2)
      .select("ca_country").filter(col("ca_country").isNotNull)
      .distinct().collect().map(_.getString(0)).toSet
    assert(caCountry == Set("United States"), s"ca_country: $caCountry")
    // v11: store names cycle through the dsdgen syllables — every name
    // (Q96 filters 'ese') exists at any store count >= 10, by construction
    // rather than by hash luck
    val storeNames = TpcdsGen.table(spark, "store", 1.0, 2)
      .select("s_store_name").filter(col("s_store_name").isNotNull)
      .distinct().collect().map(_.getString(0)).toSet
    assert(storeNames == TpcdsGen.storeNameSyllables.toSet,
      s"store names are not exactly the ten dsdgen syllables: $storeNames")
  }

  test("v12: full color vocabulary; carriers cyclic and never nulled") {
    import org.apache.spark.sql.functions._
    // every color literal a published query names must be in-domain
    val colors = TpcdsGen.table(spark, "item", 1.0, 2)
      .select("i_color").filter(col("i_color").isNotNull)
      .distinct().collect().map(_.getString(0)).toSet
    val published = Set("pale", "slate", "blanched", "burnished", "powder",
      "khaki", "orchid", "firebrick", "rose", "metallic", "gainsboro",
      "chiffon", "purple", "burlywood", "indian", "spring", "floral",
      "medium")
    assert(published.subsetOf(colors),
      s"published colors missing from the generated domain: ${published -- colors}")
    assert(colors.size > 60, s"color domain too small: ${colors.size}")
    // carriers cycle through the dsdgen roster with NO null erasure —
    // Q66's published DHL/BARIAN filter must match at every scale
    val carriers = TpcdsGen.table(spark, "ship_mode", 1.0, 2)
      .select("sm_carrier").collect().map(_.getString(0))
    assert(!carriers.contains(null), "sm_carrier nulled — roster has holes")
    assert(carriers.toSet == TpcdsGen.carriers.toSet,
      s"carrier roster mismatch: ${carriers.toSet}")
  }

  test("v20: i_units draws the dsdgen unit roster, never nulled") {
    import org.apache.spark.sql.functions._
    // Q41's published per-arm i_units gates (Ounce/Oz, Bunch/Ton, …) are
    // only provable if units are domain-valued; null-exempt because the
    // published joint leaves single-digit qualifying items at the proof
    // scale (see TpcdsGen.unitsRoster doc)
    val units = TpcdsGen.table(spark, "item", 0.01, 4)
      .select("i_units").collect().map(_.getString(0))
    assert(!units.contains(null), "i_units nulled — roster is null-exempt")
    assert(units.toSet == TpcdsGen.unitsRoster.toSet,
      s"unit roster mismatch: ${units.toSet}")
    val publishedUnits = Set("Ounce", "Oz", "Bunch", "Ton", "N/A", "Dozen",
      "Box", "Pound", "Pallet", "Gross", "Cup", "Dram", "Each", "Tbl",
      "Lb", "Bundle")
    assert(publishedUnits.subsetOf(TpcdsGen.unitsRoster.toSet),
      "a published Q41 unit literal is missing from the roster")
  }

  test("v13: gmt offsets are coherent with the row's state") {
    import org.apache.spark.sql.functions._
    // every (state, offset) pair matches the dsdgen-style timezone map —
    // published ca_gmt_offset/s_gmt_offset = -5 gates depend on it
    for ((tbl, st, off) <- Seq(
        ("customer_address", "ca_state", "ca_gmt_offset"),
        ("store", "s_state", "s_gmt_offset"))) {
      val pairs = TpcdsGen.table(spark, tbl, 0.01, 2)
        .select(st, off).filter(col(st).isNotNull && col(off).isNotNull)
        .distinct().collect()
        .map(r => r.getString(0) -> r.getDecimal(1).intValue()).toSet
      assert(pairs.nonEmpty, s"$tbl has no (state, gmt) pairs")
      val bad = pairs.filterNot { case (s, o) => TpcdsGen.stateGmt(s) == o }
      assert(bad.isEmpty, s"$tbl (state, gmt) pairs off the timezone map: $bad")
      // the published -5 band is non-empty at this scale
      assert(pairs.exists(_._2 == -5), s"$tbl has no -5 offsets")
    }
  }

  test("v10: sold dates are seasonal (super days), other date FKs uniform") {
    import org.apache.spark.sql.functions._
    val dd = TpcdsGen.table(spark, "date_dim", 1.0, 2)
      .select(col("d_date_sk"), col("d_moy"), col("d_year"))
    val ss = TpcdsGen.table(spark, "store_sales", 0.01, 4)
      .join(dd, col("ss_sold_date_sk") === col("d_date_sk"))
    val n = ss.count().toDouble
    // ten super days + holiday window both sit in Nov/Dec: expect ~33%
    // of sales there vs ~16% under a uniform calendar
    val novDec = ss.filter(col("d_moy") >= 11).count().toDouble
    assert(novDec / n > 0.25 && novDec / n < 0.45,
      f"Nov+Dec share ${novDec / n}%.3f outside the seasonal band")
    // every year still represented roughly equally (super days are per-year)
    val years = ss.groupBy("d_year").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(years.keySet == Set(1998, 1999, 2000, 2001, 2002), years.keySet)
    val (ymin, ymax) = (years.values.min.toDouble, years.values.max.toDouble)
    assert(ymax / ymin < 1.3, s"sold-date years skewed: $years")
    // the published Q23 gate has support: some (item, day) exceeds 4 sales
    val gate = ss.groupBy("ss_item_sk", "d_date_sk").count()
      .filter(col("count") > 4).count()
    assert(gate > 0, "no (item, day) cell exceeds 4 sales — Q23 gate empty")
    // inventory (non-sold) date FKs stay uniform: Nov+Dec ~ 16%
    val inv = TpcdsGen.table(spark, "inventory", 0.001, 4)
      .join(dd, col("inv_date_sk") === col("d_date_sk"))
    val invN = inv.count().toDouble
    val invNovDec = inv.filter(col("d_moy") >= 11).count().toDouble
    assert(invNovDec / invN < 0.25,
      f"inventory dates unexpectedly seasonal: ${invNovDec / invN}%.3f")
  }

  test("v18: seasonal item popularity — season-coherent colors, in-season concentration, yearly mass flat") {
    import org.apache.spark.sql.functions._
    // (a) the Q56 published triple shares one residue class mod 12 (the
    // vocab order is semantic — a careless re-sort would silently move
    // the triple out of its October season)
    val v = TpcdsGen.colorVocab
    val res = Seq("slate", "blanched", "burnished").map(c => v.indexOf(c) % 12)
    assert(res.distinct == Seq(9), s"Q56 triple residues $res != 9")
    // (b) item colors come from the season block's vocab slice: an item in
    // block r (0-based index / (n/12)) only wears colors with idx ≡ r mod 12
    val items = TpcdsGen.table(spark, "item", 0.01, 4)
      .select(col("i_item_sk"), col("i_color")).collect()
    val n = items.length
    val b = math.max(1, n / 12)
    items.filter(_.get(1) != null).foreach { r =>
      val sk = r.getAs[Number](0).longValue()
      val block = (((sk - 1) / b) % 12).toInt
      val idx = v.indexOf(r.getString(1))
      assert(idx % 12 == block,
        s"item $sk (block $block) wears off-season color ${r.getString(1)} (residue ${idx % 12})")
    }
    // (c) in-season concentration: October-block items take well over the
    // uniform 1/12 share of October store lines
    val dd = TpcdsGen.table(spark, "date_dim", 1.0, 2)
      .select(col("d_date_sk"), col("d_moy"))
    val ss = TpcdsGen.table(spark, "store_sales", 0.01, 4)
      .join(dd, col("ss_sold_date_sk") === col("d_date_sk"))
    val oct = ss.filter(col("d_moy") === 10)
    val octN = oct.count().toDouble
    val octInSeason = oct
      .filter(((col("ss_item_sk") - 1) / b).cast("long") === 9).count().toDouble
    val uniformShare = b.toDouble / n
    assert(octInSeason / octN > 2 * uniformShare,
      f"October in-season share ${octInSeason / octN}%.3f not concentrated (uniform $uniformShare%.3f)")
    // (d) per-item YEARLY mass is flat across the NON-HOLIDAY season
    // blocks (each is boosted once a year by the same amount); the Nov and
    // Dec blocks run hotter BY DESIGN — the v10 super-day/holiday date
    // mass lands in their season, so the redirect compounds there
    // (holiday items are more popular, the dsdgen-like shape)
    val perBlock = ss.filter(col("ss_item_sk") <= 12L * b)
      .groupBy((((col("ss_item_sk") - 1) / b).cast("long")).as("blk"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nonHoliday = perBlock.filter(_._1 <= 9).values
    val (bmin, bmax) = (nonHoliday.min.toDouble, nonHoliday.max.toDouble)
    assert(bmax / bmin < 1.25,
      s"non-holiday yearly per-block mass skewed ${bmax / bmin}: $perBlock")
    assert(perBlock(11L) > bmax && perBlock(10L) > bmin,
      s"holiday blocks not hotter than the uniform ten: $perBlock")
  }

  test("fact-table generation compiles under whole-stage codegen (no 64 KB fallback)") {
    // Regression for the staged-projection refactor: the old single-select
    // form inlined the money derivation chain into each of the 16 money
    // outputs, the generated method blew janino's 64 KB limit, and Spark
    // silently fell back to interpreted projection (sf1 generation was 5×
    // slower). doCodeGen + compile reproduces exactly what the executor
    // would compile; a janino failure throws here instead of hiding in a
    // WARN log line.
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val facts = Seq("store_sales", "catalog_sales", "web_sales",
      "store_returns", "catalog_returns", "web_returns")
    facts.foreach { tbl =>
      val df = TpcdsGen.table(spark, tbl, 0.001, 2)
      val spans = df.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w
      }
      assert(spans.nonEmpty, s"$tbl plan has no WholeStageCodegen span")
      spans.foreach { w =>
        val (_, code) = w.doCodeGen()
        CodeGenerator.compile(code) // throws on janino failure
      }
    }
  }
}
