package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.gen.TpcdsGen

/** TPC-DS query shapes over graft-generated TPC-DS parquet.
  *
  * The reference generates TPC-DS data precisely so engines can run the
  * TPC-DS workload over it (/root/reference/README.md:3-6; schemas
  * /root/reference/src/tpcds.rs:135-636). These queries close that loop:
  * each materializes the generated tables at the fixture-matched scale
  * (deterministic, generated once, cached on disk) and runs a published
  * TPC-DS query shape over them. Filters use the generator's spec-true
  * dictionary columns (i_category, cd_*, p_channel_*, t_meal_time) rather
  * than dsdgen's id-specific predicates — hash-uniform ids make a
  * single-manufact filter empty at test scale, while the dictionary
  * domains carry the published queries' selectivity shape.
  *
  * One text per query: each declared query is the SQL text in [[texts]],
  * which DuckDB runs as the oracle and Spark runs through [[TpcSql]] over
  * the same generated tables. A hand-written DataFrame form stays only
  * where its doc gives the reason: a measured SQL/hand ratio, a
  * Materialize barrier, or a named PlanGuardSpec assertion the SQL plan
  * fails.
  *
  * Scale design: every dimension side is explicitly broadcast (date_dim's
  * filtered slice, item, promotion, demographics, time_dim — all
  * fixed-cardinality or sublinear in sf). The hints live in the SQL text
  * as `/*+ BROADCAST(x) */` (a comment to DuckDB), in the hand forms as
  * `broadcast(...)`; customer and customer_address grow with sf and are
  * never hinted. The only shuffles are the fact-side group-bys and the
  * returns⋈sales PK join, which IS the workload. At 100 TB the facts
  * stream map-side through the broadcast joins and shuffle only the
  * (few-hundred-group) aggregation rows.
  *
  * Oracle note: the DuckDB oracle reads the SAME generated parquet via
  * absolute paths pinned to the driver's correctness scale (sf0.01) —
  * these entries therefore hash-match only when checked at sf0.01, which
  * is the driver's gate. Money aggregates stay DECIMAL (exact, order-
  * independent) until a single final CAST AS DOUBLE on both sides;
  * averages are computed as exact-sum ÷ count so both engines divide the
  * same two exact values once.
  */
object Tpcds {
  /** Version-keyed so a generator-semantics bump regenerates rather than
    * serving a stale cache. The DEFAULT root also anchors the pinned
    * oracle paths, so Spark and DuckDB read the same generation; a
    * `spark.graft.cacheRoot` override ([[graft.gen.GenCache.rootFor]])
    * relocates the live cache for cluster/shared-FS deployments and is
    * not oracle-checkable. */
  private val root = s"/tmp/graft_tpcds/gen${TpcdsGen.genVersion}"
  private def liveRoot(spark: SparkSession): String =
    graft.gen.GenCache.rootFor(spark, s"graft_tpcds/gen${TpcdsGen.genVersion}")

  /** Generate-once: all 24 tables at the fixture-matched scale, via the
    * shared crash-safe cache protocol ([[graft.gen.GenCache]]: exclusive
    * file lock, tmp + atomic rename, marker-gated, stale-generation
    * sweeping). Generation is deterministic and partition-count invariant
    * (GenSpec); each table gets at most 16 parts, one per
    * [[graft.gen.GenUtil.rowsPerPartition]] rows. */
  def ensure(spark: SparkSession, sfDir: String): String = {
    val dir = graft.gen.GenCache.ensure(spark, liveRoot(spark), sfDir) { (s, sf, tmp) =>
      TpcdsGen.generateParquet(s, sf, 16, tmp)
    }
    // partitions ∝ data, derived where the engine first knows the size
    // (the r14 sf100 Q72 OOM finding — see ShuffleScale's scaladoc)
    graft.plans.ShuffleScale.tuneFor(spark, dir)
    dir
  }

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.Catalog.table(spark, s"$dir/$name.parquet", graft.schema.TpcdsSchemas(name))

  /** Exact integer CENTS of quantity × unit price, as a LONG (r18
    * optimization, guide §2.3 narrower types / §1.2 per-task work).
    * qty × price lands at DECIMAL(18,2), so a per-row SUM buffer needs
    * (28,2) — past Catalyst's compact-long range — and every row pays a
    * BigDecimal round-trip. Long cents carry the identical exact value:
    * ×100 is injective on (·,2) decimals, the generator bounds qty ≤ 100
    * and unit prices < $220 (list = wholesale(≤100) × <2.20), so a line
    * is < 2.2e6 cents and a per-group sum overflows only past ~4e12
    * lines per group — and ANSI mode throws loudly there rather than
    * corrupting. Downstream doubles are unchanged: cents < 2^53 are
    * exactly representable, so cast(cents)/100.0 rounds the same exact
    * rational once, just like cast(DECIMAL(·,2)) did. */
  private def centsL(spark: SparkSession, qty: Column, price: Column): Column = {
    // the documented overflow posture ("ANSI throws loudly") is only real
    // when ANSI mode is actually on — SessionDefaults pins it, but the
    // conf-injection seam could flip it, so assert at construction time,
    // on the session the query is built on, rather than let a wrapped
    // long corrupt a sum silently
    TpcSql.requireAnsi(spark)
    qty.cast(LongType) * (price * 100).cast(LongType)
  }

  /** [Q-tpcds-q1] TPC-DS Q1 shape: the CORRELATED-SUBQUERY workload —
    * customers whose yearly store-returns total exceeds 1.2× their store's
    * average. The oracle SQL keeps the published form (two correlated
    * per-store scalar subqueries over the ctr CTE); this side computes the
    * same per-store count and sum as ONE window over the (customer, store)
    * aggregate, partitioned by the store key — the q65 precedent: the
    * aggregate is built once, so the year's store_returns are scanned
    * once, with no Materialize barrier (no job at construction) and no
    * temp view (concurrent constructions share no session-global name).
    * Null store keys form their own window partition but never pass the
    * inner store join, exactly as the subqueries' null correlation never
    * matches. The 1.2× threshold is compared in exact
    * cross-multiplied form (total × count × 5 > sum × 6, the same decimal
    * arithmetic the SQL text runs) so the filter boundary is bit-identical
    * in Spark and DuckDB — avg() would divide in decimal on one engine and
    * double on the other. The PUBLISHED s_state = 'TN' store gate runs as
    * written (structural since genVersion 15's cyclic store-state roster).
    * A window partition holds one store's (customer, store) groups. The
    * TN stores broadcast; customer grows with sf, so its join is left to
    * the planner (broadcast at gate and bench scales by size).
    * Kept as a hand form: its one-pass window (no Materialize, no temp
    * view) beats the published correlated-subquery text 1.88x at sf0.1
    * (hand 0.73 s, text 1.37 s, median of 5 interleaved runs, local[4]). */
  def q_tpcds_q1(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensure(spark, sfDir)
    val dd = t(spark, dir, "date_dim").filter(col("d_year") === 2000)
      .select("d_date_sk")
    val ctr = t(spark, dir, "store_returns")
      .join(broadcast(dd), col("sr_returned_date_sk") === col("d_date_sk"))
      .groupBy(col("sr_customer_sk").as("ctr_customer_sk"),
        col("sr_store_sk").as("ctr_store_sk"))
      .agg(sum(col("sr_return_amt")).as("ctr_total_return"))
    val wStore = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ctr_store_sk"))
    ctr.withColumn("ctr_count", count(lit(1)).over(wStore))
      .withColumn("ctr_sum", sum(col("ctr_total_return")).over(wStore))
      .filter(col("ctr_total_return") * (col("ctr_count") * 5) > col("ctr_sum") * 6)
      .join(broadcast(t(spark, dir, "store").filter(col("s_state") === "TN")
          .select("s_store_sk")),
        col("ctr_store_sk") === col("s_store_sk"))
      .join(t(spark, dir, "customer").select("c_customer_sk", "c_customer_id"),
        col("ctr_customer_sk") === col("c_customer_sk"))
      .select("c_customer_id")
  }

  /** [Q-tpcds-q72] TPC-DS Q72 shape — the join-order stress query: catalog
    * sales ⋈ weekly inventory snapshots on (item, week) with the
    * low-stock inequality residual. BOTH sides are facts, so this is the
    * one declared query whose primary join legitimately shuffles two fact
    * tables — each keyed on the composite (item_sk, week_seq), with the
    * date dims broadcast into both sides first so the shuffled rows carry
    * only the join columns + measures. At 100 TB this plan shuffles each
    * fact exactly once on a high-cardinality composite key; the
    * demographics filter prunes the sales side before its exchange.
    * Kept as a hand form: the text runs 2.43x its time at sf0.1 (hand 0.53
    * s, text 1.29 s, median of 5 interleaved runs, local[4]). */
  def q_tpcds_q72(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensure(spark, sfDir)
    val d1 = t(spark, dir, "date_dim")
      .select(col("d_date_sk").as("d1_sk"), col("d_week_seq").as("wk"))
    val d2 = t(spark, dir, "date_dim")
      .select(col("d_date_sk").as("d2_sk"), col("d_week_seq").as("wk2"))
    val hd = t(spark, dir, "household_demographics")
      .filter(col("hd_buy_potential") === "1001-5000").select("hd_demo_sk")
    val inv = t(spark, dir, "inventory")
      .join(broadcast(d2), col("inv_date_sk") === col("d2_sk"))
      .select(col("inv_item_sk"), col("wk2"), col("inv_quantity_on_hand"))
    t(spark, dir, "catalog_sales")
      .join(broadcast(hd), col("cs_bill_hdemo_sk") === col("hd_demo_sk"))
      .join(broadcast(d1), col("cs_sold_date_sk") === col("d1_sk"))
      .join(inv, col("inv_item_sk") === col("cs_item_sk") &&
        col("wk2") === col("wk") &&
        col("inv_quantity_on_hand") < col("cs_quantity"))
      .groupBy(col("cs_item_sk"), col("wk"))
      .agg(count(lit(1)).as("low_stock_count"))
  }

  /** [Q-tpcds-q14] TPC-DS Q14 (first iteration), PUBLISHED shape:
    * cross_items = items whose (brand_id, class_id, category_id) tuple
    * sold in ALL THREE channels over the published three-year window —
    * the hierarchy-tuple INTERSECT, not a raw item_sk intersect (the
    * generator's item hierarchy is functionally dependent, so tuple
    * membership is an item property and the published per-item cross_items
    * semi join collapses to a tuple-keyed semi join); avg_sales = the
    * all-channel three-year average of quantity × list_price; the
    * November report keeps (channel, tuple) cells whose sales beat that
    * average, ROLLUP'd over (channel, brand, class, category). The
    * published 1999..2001 window and 2001-11 report month run as written
    * on the generated calendar.
    * Spark-first plan: the INTERSECT collapses into ONE inner three-way
    * join of the per-channel tuple aggregates (each aggregate consumed
    * EXACTLY once — a semi-join/union form read each one 2-3× with
    * divergent column pruning, defeating exchange reuse: 7 fact scans
    * measured, vs 3 item-joined + 3 date-only here), unpivoted to
    * (channel, tuple) cells in one explode projection; avg_sales comes
    * from plain date-only scans (no item join — the published CTE's own
    * shape). Dims broadcast; the only shuffles are the
    * ≤|brand×class×category| tuple aggregates. Hash-stable discipline
    * (SURVEY §7.4): money summed as exact integer cents, the avg_sales
    * gate decided by integer cross-multiplication
    * (novCents·totCnt > totCents), the double emitted once at the output
    * boundary. NULL-component tuples stay in the avg_sales totals (as
    * published) but are excluded from cross membership on both engines —
    * Spark join equality and SQL INTERSECT disagree on NULL tuples.
    * Kept as a hand form: Materialize barrier, and the text runs 2.38x its
    * time at sf0.1 (hand 1.40 s, text 3.33 s, median of 5 interleaved runs,
    * local[4]). */
  def q_tpcds_q14(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensure(spark, sfDir)
    val key = Seq("i_brand_id", "i_class_id", "i_category_id")
    val it = t(spark, dir, "item")
      .select(col("i_item_sk") +: key.map(col): _*)
    val dd = t(spark, dir, "date_dim").filter(col("d_year").between(1999, 2001))
      .select(col("d_date_sk"),
        (col("d_year") === 2001 && col("d_moy") === 11).as("is_nov"))
    def cents(pfx: String) =
      (col(s"${pfx}_quantity") * col(s"${pfx}_list_price") * 100)
        .cast(DecimalType(38, 0))
    // r19 (guide §1.2 "don't compute things you throw away" / §2.4 remove
    // passes): ONE pass per channel serves BOTH consumers — the published
    // avg_sales totals used to re-scan all three facts (a date-only
    // chanTot each), although the per-tuple aggregates already read the
    // identical 3-year rows. Each channel now aggregates once at the
    // (tuple, is_nov, cents-null) grain with a single function set
    // [sum(cents), count(1)]; the November cells collapse that grain to
    // tuple rows, and the totals sum it outright. The grain result is
    // materialized ONCE per execution by an eager localCheckpoint (guide
    // §3.3's materialization barrier; the q_dedup_cluster precedent):
    // pure-DAG sharing was measured and does NOT survive the optimizer —
    // the cross-membership join infers IsNotNull on the tuple keys and
    // pushes it into its copy's item scans, so the two consumers'
    // exchange subtrees stop being canonically equal and ReuseExchange
    // leaves two scans per channel (r19 measurement: inMB unchanged,
    // 0 fact-scan reuse). The checkpoint is bounded (≤ 4× tuple-grain
    // rows per channel), recomputed on every execution (no cross-run
    // state), and the three channels materialize CONCURRENTLY from a
    // 3-thread pool (guide §2.6 — overlap independent jobs), so the
    // local wall pays ~one channel's aggregate, not three. Fact scans
    // 6 → 3 (plans/r19/q_tpcds_q14_{before,after}.txt; the after plan's
    // grain legs appear as the checkpointed scans). Correctness notes:
    // NULL-component tuples stay IN the grain aggregate (groupBy keeps
    // NULL-key groups; the published totals include them — the isNotNull
    // cross-membership gate moved above, into `joined`), and the item
    // join is row-preserving by construction (every fact *_item_sk draws
    // over item's full key range, TpcdsGen.fkSuffix; probed r19: 0 NULLs
    // / 0 orphans in all three facts at sf0.01 AND sf0.1). The cents-null
    // grain bit keeps the published count semantics exact under the
    // generator's ~5% measure NULLs: avg_sales counts non-NULL products,
    // the November cell count counts rows.
    def grain(fact: String, pfx: String): DataFrame =
      t(spark, dir, fact)
        .select(col(s"${pfx}_sold_date_sk").as("dsk"),
          col(s"${pfx}_item_sk").as("isk"), cents(pfx).as("cents"))
        .join(broadcast(dd), col("dsk") === col("d_date_sk"))
        .join(broadcast(it), col("isk") === col("i_item_sk"))
        .groupBy(key.map(col) :+ col("is_nov") :+
          col("cents").isNull.as("no_cents"): _*)
        .agg(sum(col("cents")).as("cents_sum"), count(lit(1)).as("cnt"))
    val grainNames = Seq("store_sales" -> "ss", "catalog_sales" -> "cs",
      "web_sales" -> "ws")
    val grains: Seq[(String, DataFrame)] = grainNames.map(_._2).zip(
      graft.plans.Materialize.concurrently(
        grainNames.map { case (f, p) => grain(f, p) }))
    // November cells at the tuple grain (tuples with zero November rows
    // kept, nov_cnt = 0 — group existence is what cross membership tests)
    def perTuple(pfx: String): DataFrame =
      grains.collectFirst { case (`pfx`, df) => df }.get
        .groupBy(key.map(col): _*)
        .agg(sum(when(col("is_nov"), col("cents_sum")))
            .as(s"${pfx}_nov_cents"),
          coalesce(sum(when(col("is_nov"), col("cnt"))), lit(0L))
            .as(s"${pfx}_nov_cnt"))
    // the published avg_sales scalar, summed from the same grain
    // aggregates (exact decimal/long addition — identical values to the
    // direct row sums), cross-joined as one broadcast row (a hash join
    // under graft.plans.SingleRowAttach); count skips NULL products
    // exactly as count(qty*price) did
    val tot = grains.map { case (_, df) =>
        df.select(col("cents_sum").as("c"),
          when(!col("no_cents"), col("cnt")).as("n"))
      }.reduce(_ union _)
      .agg(sum(col("c")).as("tot_cents"), sum(col("n")).as("tot_cnt"))
    val nonNullKey = key.map(col(_).isNotNull).reduce(_ && _)
    val joined = perTuple("ss").filter(nonNullKey)
      .join(perTuple("cs"), key)
      .join(perTuple("ws"), key)
    def cell(name: String, pfx: String) =
      struct(lit(name).as("channel"), col(s"${pfx}_nov_cents").as("nov_cents"),
        col(s"${pfx}_nov_cnt").as("nov_cnt"))
    joined
      .select(key.map(col) :+ explode(array(cell("store", "ss"),
        cell("catalog", "cs"), cell("web", "ws"))).as("c"): _*)
      .select(key.map(col) :+ col("c.channel") :+ col("c.nov_cents") :+
        col("c.nov_cnt"): _*)
      .filter(col("nov_cnt") > 0)
      .crossJoin(broadcast(tot))
      .filter(col("nov_cents") * col("tot_cnt") > col("tot_cents"))
      .rollup(col("channel"), col("i_brand_id"), col("i_class_id"),
        col("i_category_id"))
      .agg((sum(col("nov_cents")).cast(DoubleType) / 100.0).as("sales"),
        sum(col("nov_cnt")).as("number_sales"))
  }

  /** [Q-tpcds-q93] TPC-DS Q93 shape: actual net sales after returns — per
    * customer, (quantity − returned quantity) × unit price when a line was
    * partially returned, the full line value otherwise. This leans directly
    * on the generator's arithmetic coherence invariants (GenSpec): the
    * (ticket, item) PK makes the LEFT join 1:1 and return_quantity ≤ sold
    * quantity keeps net sales non-negative. Plan: ONE keyed fact⋈fact
    * shuffle on the composite PK, then a customer-keyed aggregate; bottom-
    * 100 on a total order.
    * Kept as a hand form: the text runs 1.24x its time at sf0.1 (hand 0.19
    * s, text 0.23 s, median of 5 interleaved runs, local[4]). */
  def q_tpcds_q93(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensure(spark, sfDir)
    val ss = t(spark, dir, "store_sales").select(
      col("ss_ticket_number"), col("ss_item_sk"), col("ss_customer_sk"),
      col("ss_quantity"), col("ss_sales_price"))
    val sr = t(spark, dir, "store_returns").select(
      col("sr_ticket_number"), col("sr_item_sk"), col("sr_return_quantity"))
    ss.join(sr, col("ss_ticket_number") === col("sr_ticket_number") &&
        col("ss_item_sk") === col("sr_item_sk"), "left_outer")
      .filter(col("ss_customer_sk").isNotNull)
      .select(col("ss_customer_sk"),
        // r18: long-cents instead of a DECIMAL(18,2) product per row —
        // the (28,2) sum buffer this fed was the query's per-row cost
        // (see centsL; value and downstream double bit-identical)
        when(col("sr_return_quantity").isNotNull,
          centsL(spark, col("ss_quantity") - col("sr_return_quantity"),
            col("ss_sales_price")))
          .otherwise(centsL(spark, col("ss_quantity"), col("ss_sales_price")))
          .as("act_sales"))
      .groupBy(col("ss_customer_sk"))
      .agg(sum(col("act_sales")).as("sum_dec"))
      .select(col("ss_customer_sk"),
        (col("sum_dec").cast(DoubleType) / 100.0).as("sumsales"))
      .orderBy(col("sumsales"), col("ss_customer_sk"))
      .limit(100)
  }

  /** [Q-tpcds-q5] TPC-DS Q5 shape: the OTHER three-channel rollup — sales
    * and returns rows UNION ALL'd into one stream per channel (store /
    * catalog page / web site grain), aggregated once at the business-id
    * key, then rolled up over (channel, id). The web leg exercises the
    * returns→sales PK linkage directly: web_returns carries no site FK, so
    * each return finds its site through the (order_number, item_sk) join
    * the generator guarantees 1:1. The PUBLISHED 14-day window
    * (2000-08-23 + 14 days) runs as written — the v10 seasonal sold-date
    * mass puts ~130/100/20 channel lines in the slice at sf0.01; the
    * pre-v15 year widening dated from the uniform-date generations.
    * Plan: each channel is one
    * union-then-aggregate pass — facts never join each other except the
    * keyed wr→ws PK lookup; dims and date broadcast.
    * Kept as a hand form: PlanGuardSpec assertion "Q5 wr side lost its
    * date-slice semi below the PK join" fails on the text's plan (text
    * 0.98x at sf0.1). */
  def q_tpcds_q5(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensure(spark, sfDir)
    val dd = t(spark, dir, "date_dim")
      .filter(col("d_date").between("2000-08-23", "2000-09-06"))
      .select("d_date_sk")
    val D72 = org.apache.spark.sql.types.DecimalType(7, 2)
    val z = lit(BigDecimal(0)).cast(D72)
    val DEC = org.apache.spark.sql.types.DecimalType(27, 2)
    def dec(c: Column) = c.cast(DEC)
    // one channel: (sk, date_sk, sales_price, profit, return_amt, net_loss)
    // rows from sales+returns → keyed aggregate at the dim business id
    def channel(part: DataFrame, dim: DataFrame, dimSk: String, dimId: String,
                chName: String, idPrefix: String): DataFrame =
      part.join(broadcast(dd), col("date_sk") === col("d_date_sk"))
        .join(broadcast(dim), col("sk") === col(dimSk))
        .groupBy(col(dimId))
        .agg(dec(sum(col("sales_price"))).as("sales"),
          dec(sum(col("return_amt"))).as("returns"),
          dec(sum(col("profit")) - sum(col("net_loss"))).as("profit"))
        .select(lit(chName).as("channel"),
          concat(lit(idPrefix), col(dimId)).as("id"),
          col("sales"), col("returns"), col("profit"))
    val ssPart = t(spark, dir, "store_sales").select(
      col("ss_store_sk").as("sk"), col("ss_sold_date_sk").as("date_sk"),
      col("ss_ext_sales_price").as("sales_price"), col("ss_net_profit").as("profit"),
      z.as("return_amt"), z.as("net_loss"))
    val srPart = t(spark, dir, "store_returns").select(
      col("sr_store_sk").as("sk"), col("sr_returned_date_sk").as("date_sk"),
      z.as("sales_price"), z.as("profit"),
      col("sr_return_amt").as("return_amt"), col("sr_net_loss").as("net_loss"))
    val csPart = t(spark, dir, "catalog_sales").select(
      col("cs_catalog_page_sk").as("sk"), col("cs_sold_date_sk").as("date_sk"),
      col("cs_ext_sales_price").as("sales_price"), col("cs_net_profit").as("profit"),
      z.as("return_amt"), z.as("net_loss"))
    val crPart = t(spark, dir, "catalog_returns").select(
      col("cr_catalog_page_sk").as("sk"), col("cr_returned_date_sk").as("date_sk"),
      z.as("sales_price"), z.as("profit"),
      col("cr_return_amount").as("return_amt"), col("cr_net_loss").as("net_loss"))
    val wsPart = t(spark, dir, "web_sales").select(
      col("ws_web_site_sk").as("sk"), col("ws_sold_date_sk").as("date_sk"),
      col("ws_ext_sales_price").as("sales_price"), col("ws_net_profit").as("profit"),
      z.as("return_amt"), z.as("net_loss"))
    // web_returns has no site FK: ride the (order, item) PK back to the sale
    val wrPart = t(spark, dir, "web_returns").select(
        col("wr_item_sk"), col("wr_order_number"),
        col("wr_returned_date_sk").as("date_sk"),
        col("wr_return_amt").as("return_amt"), col("wr_net_loss").as("net_loss"))
      // r18: the 14-day window gates wr_returned_date_sk only, which the
      // PK join passes through untouched, so the date gate commutes below
      // the join (channel()'s dd join re-checks it, a no-op). Before, the
      // sr→ws lookup carried EVERY return ever taken — the whole returns
      // table broadcast (or, past the broadcast cap at scale, both sides
      // shuffled at fact grain). Now the build side is the two-week
      // slice (~0.8% of returns; guide §3.2 pre-filter-the-join-input).
      .join(broadcast(dd), col("date_sk") === col("d_date_sk"), "left_semi")
      .join(t(spark, dir, "web_sales").select(
          col("ws_item_sk"), col("ws_order_number"), col("ws_web_site_sk")),
        col("wr_item_sk") === col("ws_item_sk") &&
          col("wr_order_number") === col("ws_order_number"))
      .select(col("ws_web_site_sk").as("sk"), col("date_sk"),
        z.as("sales_price"), z.as("profit"), col("return_amt"), col("net_loss"))
    val store = channel(ssPart.union(srPart),
      t(spark, dir, "store").select("s_store_sk", "s_store_id"),
      "s_store_sk", "s_store_id", "store channel", "store")
    val catalog = channel(csPart.union(crPart),
      t(spark, dir, "catalog_page").select("cp_catalog_page_sk", "cp_catalog_page_id"),
      "cp_catalog_page_sk", "cp_catalog_page_id", "catalog channel", "catalog_page")
    val web = channel(wsPart.union(wrPart),
      t(spark, dir, "web_site").select("web_site_sk", "web_site_id"),
      "web_site_sk", "web_site_id", "web channel", "web_site")
    store.union(catalog).union(web)
      .rollup(col("channel"), col("id"))
      .agg(sum(col("sales")).cast(DoubleType).as("sales"),
        sum(col("returns")).cast(DoubleType).as("returns"),
        sum(col("profit")).cast(DoubleType).as("profit"))
  }

  /** [Q-tpcds-q65] TPC-DS Q65 shape: a store's slow movers — (store, item)
    * revenue vs the store's average item revenue, keeping items below a
    * fraction of it. TWO-LEVEL aggregate decorrelation: the per-(store,
    * item) revenue aggregate feeds a per-store average, attached back by a
    * broadcast join on the store key with the threshold as a residual;
    * the slow-mover cut is the PUBLISHED ≤ 10% of the store average (the
    * v10 order-statistic price skew gives cell revenues a real deep
    * tail — ~6% of (store, item) cells sit under the published cut; the
    * pre-v10 hash-uniform revenues had none, which is what the interim
    * ≤ 90% adaptation worked around). Hash-stable output discipline
    * (SURVEY §7.4): revenue is summed as exact integer CENTS and the
    * below-average cut is decided by exact integer CROSS-MULTIPLICATION
    * (rev·10·cnt ≤ total, the Q1 precedent) — no computed double decides
    * membership, so the boundary is bit-identical on any engine.
    * Plan: ONE fact shuffle on the (store, item) composite; the per-store
    * average is |stores| rows, broadcast.
    * Kept as a hand form: PlanGuardSpec assertion "Q65 per-store totals
    * lost their store-partitioned window" fails on the text's plan (text
    * 1.19x at sf0.1). */
  def q_tpcds_q65(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensure(spark, sfDir)
    val dd = t(spark, dir, "date_dim").filter(col("d_year") === 2000)
      .select("d_date_sk")
    val sc = t(spark, dir, "store_sales")
      .filter(col("ss_store_sk").isNotNull && col("ss_item_sk").isNotNull)
      .join(broadcast(dd), col("ss_sold_date_sk") === col("d_date_sk"))
      .groupBy(col("ss_store_sk"), col("ss_item_sk"))
      // r18: ×100 hoisted past the sum — sum((7,2)) runs on Catalyst's
      // DecimalAggregates long path (one BigDecimal multiply per GROUP,
      // zero per row); (sum·100)::(38,0) is the identical exact cents value
      .agg((sum(col("ss_sales_price")) * 100).cast(DecimalType(38, 0))
        .as("rev_c"))
    // r19: the per-store totals ride a WINDOW over the same (store, item)
    // aggregate instead of a re-derived broadcast side — the re-derivation
    // re-ran the whole fact aggregate (the optimizer specializes shared
    // subtrees; Materialize scaladoc), so the year's store_sales were
    // scanned twice per execution. One window partitioned by the store key
    // computes identical exact values (sum/count over the same rows) with
    // ZERO extra scans; partitions are ≤|item| rows, so no skew at any sf
    // (plans/r19/q_tpcds_q65_{before,after}.txt: store_sales 2 → 1 scans).
    val wStore = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ss_store_sk"))
    sc.withColumn("tot_c", sum(col("rev_c")).over(wStore))
      .withColumn("cnt", count(lit(1)).over(wStore))
      .filter(col("rev_c") * 10 * col("cnt") <= col("tot_c"))
      .join(broadcast(t(spark, dir, "store").select("s_store_sk", "s_store_name")),
        col("ss_store_sk") === col("s_store_sk"))
      .join(broadcast(t(spark, dir, "item")
          .select("i_item_sk", "i_item_desc", "i_current_price", "i_wholesale_cost", "i_brand")),
        col("ss_item_sk") === col("i_item_sk"))
      // Nullable decimal passthroughs cast to DOUBLE at the output
      // boundary (r11 NULL-decimal hash-divergence evidence).
      .select(col("s_store_name"), col("i_item_desc"),
        (col("rev_c").cast(DoubleType) / 100.0).as("revenue"),
        col("i_current_price").cast(DoubleType).as("i_current_price"),
        col("i_wholesale_cost").cast(DoubleType).as("i_wholesale_cost"),
        col("i_brand"))
  }

  /** Five structured-zip values used by Q15/Q45's published-form
    * `substr(ca_zip, 1, 5) IN (...)` predicates (genVersion 8 draws every
    * *_zip from a shared 100-value 5-digit domain; these are members). */
  private val zipList = Seq("10607", "22140", "40350", "58560", "70093")

  /** Q8's published qualifying-geography literal zip list, re-expressed
    * over the generated domain: the first 60 of the 100 domain zips (the
    * published query names ~400 of dsdgen's 40k zips; this keeps the same
    * "most-but-not-all zips qualify" coverage, and includes 8 of the 12
    * urban-core zips so the INTERSECT with the preferred-customer leg is
    * discriminating, not empty). */
  private val q8ZipList: Seq[String] =
    (0 until 60).map(i => f"${10000 + i * 607}%05d")

  /** [Q-tpcds-q8] TPC-DS Q8: store net profit for one quarter, restricted
    * to stores near BOTH a qualifying geography and a preferred-customer
    * hotspot — the published two-leg zip set: a literal zip list
    * INTERSECTed with the 5-char zips holding > 10 preferred customers
    * (published constant, real under genVersion 14's 20% urban-core
    * address locality — uniform draws capped densities at ~8), matched to
    * stores on the published 2-prefix. Both legs are sub-linear aggregates
    * over dims; the intersect and the store semi join broadcast, so the
    * fact side streams through broadcasts only. The literal list names 60
    * domain zips (the published 400 literals assume dsdgen's 40k-zip
    * domain; same 60% coverage).
    * Kept as a hand form: PlanGuardSpec assertion "Q8 fact side shuffles a
    * join" fails on the text's plan, which has a SortMergeJoin (text 1.06x
    * at sf0.1). */
  def q_tpcds_q8(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensure(spark, sfDir)
    val dd = t(spark, dir, "date_dim")
      .filter(col("d_year") === 2000 && col("d_qoy") === 1).select("d_date_sk")
    // collapse the geography leg to its ≤|list| distinct zips BEFORE the
    // intersect: the address scan is customer-sized at scale, the
    // distinct is map-side, and both intersect inputs stay broadcastable
    val geo = t(spark, dir, "customer_address")
      .filter(substring(col("ca_zip"), 1, 5).isin(q8ZipList: _*))
      .select(substring(col("ca_zip"), 1, 5).as("zip5")).distinct()
    val hot = t(spark, dir, "customer")
      .filter(col("c_preferred_cust_flag") === "Y")
      .select("c_current_addr_sk")
      .join(t(spark, dir, "customer_address"),
        col("c_current_addr_sk") === col("ca_address_sk"))
      .groupBy(substring(col("ca_zip"), 1, 5).as("zip5"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 10 && col("zip5").isNotNull)
      .select("zip5")
    // both legs are distinct sub-linear sets, so the published INTERSECT
    // is exactly a broadcast left-semi (Dataset.intersect would plan an
    // unhinted SortMergeJoin over the statless aggregates)
    val qualifying = geo.join(broadcast(hot), Seq("zip5"), "left_semi")
      .select(substring(col("zip5"), 1, 2).as("zip2")).distinct()
    val st = t(spark, dir, "store").select("s_store_sk", "s_store_name", "s_zip")
      .join(broadcast(qualifying),
        substring(col("s_zip"), 1, 2) === col("zip2"), "left_semi")
    t(spark, dir, "store_sales")
      .select("ss_sold_date_sk", "ss_store_sk", "ss_net_profit")
      .join(broadcast(dd), col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(st), col("ss_store_sk") === col("s_store_sk"))
      .groupBy(col("s_store_name"))
      .agg(sum(col("ss_net_profit")).cast(DoubleType).as("net_profit"))
  }

  /** [Q-tpcds-q31] TPC-DS Q31 shape: counties where web revenue grew
    * FASTER than store revenue across consecutive quarters — per-channel
    * (county, quarter) aggregates, quarter-pivoted by conditional
    * aggregation (one pass; the published six-way self-join re-reads the
    * same tiny aggregate six times), inner-joined across channels on
    * county, ratio-compared as single double divisions of exact sums.
    * Both channel aggregates shuffle once on the county key; everything
    * after operates on ≤ |county domain| rows.
    * Kept as a hand form: the text runs 1.20x its time at sf0.1 (hand 0.37
    * s, text 0.44 s, median of 5 interleaved runs, local[4]). */
  def q_tpcds_q31(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensure(spark, sfDir)
    val dd = t(spark, dir, "date_dim")
      .filter(col("d_year") === 2000 && col("d_qoy").isin(1, 2, 3))
      .select("d_date_sk", "d_qoy")
    val addr = t(spark, dir, "customer_address")
      .select("ca_address_sk", "ca_county")
    def byQ(fact: String, dateCol: String, addrCol: String, amtCol: String,
            pfx: String): DataFrame =
      t(spark, dir, fact).select(dateCol, addrCol, amtCol)
        .join(broadcast(dd), col(dateCol) === col("d_date_sk"))
        .join(addr, col(addrCol) === col("ca_address_sk"))
        .filter(col("ca_county").isNotNull)
        .groupBy(col("ca_county"))
        .agg(
          sum(when(col("d_qoy") === 1, col(amtCol))).as(s"${pfx}1"),
          sum(when(col("d_qoy") === 2, col(amtCol))).as(s"${pfx}2"),
          sum(when(col("d_qoy") === 3, col(amtCol))).as(s"${pfx}3"))
        .filter(col(s"${pfx}1").isNotNull && col(s"${pfx}2").isNotNull &&
          col(s"${pfx}3").isNotNull)
    val ss = byQ("store_sales", "ss_sold_date_sk", "ss_addr_sk",
      "ss_ext_sales_price", "s")
    val ws = byQ("web_sales", "ws_sold_date_sk", "ws_bill_addr_sk",
      "ws_ext_sales_price", "w").withColumnRenamed("ca_county", "w_county")
    def ratio(hi: Column, lo: Column): Column =
      hi.cast(DoubleType) / lo.cast(DoubleType)
    ss.join(ws, col("ca_county") === col("w_county"))
      .filter(col("s1") > 0 && col("s2") > 0 && col("w1") > 0 && col("w2") > 0)
      .filter(ratio(col("w2"), col("w1")) > ratio(col("s2"), col("s1")) &&
        ratio(col("w3"), col("w2")) > ratio(col("s3"), col("s2")))
      .select(col("ca_county"),
        ratio(col("w2"), col("w1")).as("web_q1_q2_increase"),
        ratio(col("s2"), col("s1")).as("store_q1_q2_increase"),
        ratio(col("w3"), col("w2")).as("web_q2_q3_increase"),
        ratio(col("s3"), col("s2")).as("store_q2_q3_increase"))
  }

  /** [Q-tpcds-q78] TPC-DS Q78 shape: customers' store loyalty ratio over
    * RETURNS-FREE lines — each channel aggregates only lines never
    * returned (left-anti on the (order, item) returns PK; the published
    * LEFT JOIN … WHERE return-key IS NULL), store totals left-join the
    * other two channels on the PUBLISHED (year, item, customer) triple —
    * real since v10's seasonal sold-date concentration (~600 cross-
    * channel pair-year cells at sf0.01) — keep customers active
    * elsewhere, ratio = the PUBLISHED ROUND(store qty ÷ other qty, 2) —
    * evaluated EXACTLY as a half-up integer micro-ratio over the two
    * BIGINT quantity sums (the Q75/Q32/Q92 cross-multiplication
    * technique; no engine-dependent double rounding reaches the
    * output). The channel aggregates
    * are the scale work: one (order, item)-keyed anti join + one
    * (item, customer)-keyed aggregate each; the outer merges ride the
    * same pair key.
    * Kept as a hand form: PlanGuardSpec assertion "Q78 returns filter not
    * an anti join" fails on the text's plan (text 1.01x at sf0.1). */
  def q_tpcds_q78(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensure(spark, sfDir)
    val dd = t(spark, dir, "date_dim").filter(col("d_year") === 2000)
      .select("d_date_sk")
    def chan(fact: String, dateCol: String, custCol: String, ordCol: String,
             itemCol: String, qtyCol: String, wcCol: String, spCol: String,
             ret: String, rOrdCol: String, rItemCol: String,
             pfx: String): DataFrame =
      t(spark, dir, fact)
        .select(col(dateCol), col(custCol), col(ordCol), col(itemCol),
          col(qtyCol), col(wcCol), col(spCol))
        .join(broadcast(dd), col(dateCol) === col("d_date_sk"))
        .join(t(spark, dir, ret).select(col(rOrdCol), col(rItemCol)),
          col(ordCol) === col(rOrdCol) && col(itemCol) === col(rItemCol),
          "left_anti")
        .filter(col(custCol).isNotNull)
        .groupBy(col(custCol).as(s"${pfx}_customer_sk"),
          col(itemCol).as(s"${pfx}_item_sk"))
        .agg(sum(col(qtyCol)).as(s"${pfx}_qty"),
          sum(col(wcCol)).as(s"${pfx}_wc"),
          sum(col(spCol)).as(s"${pfx}_sp"))
    val ss = chan("store_sales", "ss_sold_date_sk", "ss_customer_sk",
      "ss_ticket_number", "ss_item_sk", "ss_quantity", "ss_wholesale_cost",
      "ss_sales_price", "store_returns", "sr_ticket_number", "sr_item_sk", "ss")
    val ws = chan("web_sales", "ws_sold_date_sk", "ws_bill_customer_sk",
      "ws_order_number", "ws_item_sk", "ws_quantity", "ws_wholesale_cost",
      "ws_sales_price", "web_returns", "wr_order_number", "wr_item_sk", "ws")
    val cs = chan("catalog_sales", "cs_sold_date_sk", "cs_bill_customer_sk",
      "cs_order_number", "cs_item_sk", "cs_quantity", "cs_wholesale_cost",
      "cs_sales_price", "catalog_returns", "cr_order_number", "cr_item_sk",
      "cs")
    val other = coalesce(col("ws_qty"), lit(0L)) + coalesce(col("cs_qty"), lit(0L))
    ss.join(ws, col("ss_customer_sk") === col("ws_customer_sk") &&
        col("ss_item_sk") === col("ws_item_sk"), "left_outer")
      .join(cs, col("ss_customer_sk") === col("cs_customer_sk") &&
        col("ss_item_sk") === col("cs_item_sk"), "left_outer")
      .filter(other > 0)
      .withColumn("other_q", other)
      .select(col("ss_customer_sk").as("customer_sk"),
        col("ss_item_sk").as("item_sk"),
        // the published ROUND(ss_qty/other, 2): half-up of a ratio of two
        // BIGINT sums = ⌊(a·100·2 + b) / (2·b)⌋ by integral divide — exact
        // in any engine; one int→double conversion + /100.0 (both exact)
        (expr("(ss_qty * 200 + other_q) div (other_q * 2)")
          .cast(DoubleType) / 100.0).as("ratio"),
        col("ss_qty").as("store_qty"),
        col("ss_wc").cast(DoubleType).as("store_wholesale_cost"),
        col("ss_sp").cast(DoubleType).as("store_sales_price"),
        other.as("other_chan_qty"),
        (coalesce(col("ws_wc"), lit(0)) + coalesce(col("cs_wc"), lit(0)))
          .cast(DoubleType).as("other_chan_wholesale_cost"),
        (coalesce(col("ws_sp"), lit(0)) + coalesce(col("cs_sp"), lit(0)))
          .cast(DoubleType).as("other_chan_sales_price"))
  }

  /** Shared body of TPC-DS Q30/Q81 — customers whose yearly channel
    * returns exceed 1.2× their state's average. The published correlated
    * per-state average decorrelates into a per-state aggregate joined back
    * on the state key (one extra keyed shuffle over the ≤ states×customers
    * aggregate instead of a rescan per row); customer + address dims
    * broadcast. Exact DECIMAL totals; the threshold is the one
    * double-division boundary. */
  private def stateReturnOutliers(
      spark: SparkSession, dir: String, fact: String, custCol: String,
      addrCol: String, dateCol: String, amtCol: String,
      homeState: String, custExtra: Seq[String],
      extraCols: Seq[String]): DataFrame = {
    val dd = t(spark, dir, "date_dim").filter(col("d_year") === 2000)
      .select("d_date_sk")
    val ca = t(spark, dir, "customer_address")
      .select(col("ca_address_sk").as("r_addr_sk"), col("ca_state").as("ctr_state"))
    // Hash-stable output discipline (SURVEY §7.4): returns are summed as
    // exact integer CENTS and the 1.2× outlier cut is decided by exact
    // integer CROSS-MULTIPLICATION (ctr·cnt·5 > total·6, the Q1
    // precedent) — no computed double decides membership, so the boundary
    // is bit-identical on any engine; the emitted total is one
    // correctly-rounded int→double conversion plus an IEEE division.
    // r19: ctr is consumed by both the state-threshold aggregate and the
    // outlier filter — the optimizer specialized the two copies and the
    // year's returns were scanned twice per execution. The (customer,
    // state)-grain aggregate materializes once (Materialize scaladoc;
    // plans/r19/q_tpcds_q{30,81}_{before,after}.txt: returns 2 → 1 scans).
    // The thr attach stays a 50-row broadcast — a state-partitioned window
    // would put a whole state in one task at 100 TB (guide §2.5 skew).
    val ctr = graft.plans.Materialize.concurrently(Seq(t(spark, dir, fact)
      .select(custCol, addrCol, dateCol, amtCol)
      .join(broadcast(dd), col(dateCol) === col("d_date_sk"))
      .join(broadcast(ca), col(addrCol) === col("r_addr_sk"))
      .groupBy(col(custCol).as("ctr_customer_sk"), col("ctr_state"))
      // r18: ×100 hoisted past the sum (see q65) — identical exact cents
      .agg((sum(col(amtCol)) * 100).cast(DecimalType(38, 0)).as("ctr_c"))))
      .head
    val thr = ctr.groupBy(col("ctr_state").as("t_state"))
      .agg(sum(col("ctr_c")).as("tot_c"), count(col("ctr_c")).as("cnt"))
    // extraCols entries may be "expr AS name" (used to cast nullable
    // DECIMAL passthroughs like ca_gmt_offset to DOUBLE at the output
    // boundary — r11 NULL-decimal hash-divergence evidence); the output
    // select refers to them by their final name.
    val extraNames = extraCols.map(c => c.split("(?i) AS ").last.trim)
    val cust = t(spark, dir, "customer")
      .join(broadcast(t(spark, dir, "customer_address")
          .filter(col("ca_state") === homeState)
          .selectExpr(Seq("ca_address_sk AS home_addr_sk") ++ extraCols: _*)),
        col("c_current_addr_sk") === col("home_addr_sk"))
    ctr.join(broadcast(thr), col("ctr_state") === col("t_state"))
      .filter(col("ctr_c") * col("cnt") * 5 > col("tot_c") * 6)
      .join(cust, col("ctr_customer_sk") === col("c_customer_sk"))
      .select(Seq(col("c_customer_id"), col("c_salutation"),
        col("c_first_name"), col("c_last_name")) ++
        custExtra.map(col) ++ extraNames.map(col) :+
        (col("ctr_c").cast(DoubleType) / 100.0).as("ctr_total_return"): _*)
  }

  /** [Q-tpcds-q30] TPC-DS Q30 shape: WEB-returns state outliers among
    * customers now living in GA, with the PUBLISHED customer block
    * (preferred flag, birth day/month/year, birth country — genVersion 10
    * draws them from calendar/FIPS domains — and the last-review id).
    * Kept as a hand form: Materialize barrier in stateReturnOutliers (one
    * returns-fact scan instead of two); the text runs 0.98x its time at
    * sf0.1 (median of 5 interleaved runs, local[4]); re-measure at sf1
    * before converting. */
  def q_tpcds_q30(spark: SparkSession, sfDir: String): DataFrame =
    stateReturnOutliers(spark, ensure(spark, sfDir), "web_returns",
      "wr_returning_customer_sk", "wr_returning_addr_sk",
      "wr_returned_date_sk", "wr_return_amt", "GA",
      Seq("c_preferred_cust_flag", "c_birth_day", "c_birth_month",
        "c_birth_year", "c_birth_country", "c_last_review_date_sk"),
      Seq.empty)

  /** [Q-tpcds-q81] TPC-DS Q81 shape: CATALOG-returns state outliers among
    * customers now living in IL, with the PUBLISHED full address block
    * (street number/name/type, suite, city, county, state, zip, country,
    * gmt offset, location type — v10 structures street names and pins
    * ca_country).
    * Kept as a hand form: Materialize barrier in stateReturnOutliers (one
    * returns-fact scan instead of two); the text runs 1.04x its time at
    * sf0.1 (median of 5 interleaved runs, local[4]); re-measure at sf1
    * before converting. */
  def q_tpcds_q81(spark: SparkSession, sfDir: String): DataFrame =
    stateReturnOutliers(spark, ensure(spark, sfDir), "catalog_returns",
      "cr_returning_customer_sk", "cr_returning_addr_sk",
      "cr_returned_date_sk", "cr_return_amt_inc_tax", "IL", Seq.empty,
      Seq("ca_street_number", "ca_street_name", "ca_street_type",
        "ca_suite_number", "ca_city", "ca_county", "ca_state", "ca_zip",
        "ca_country",
        "CAST(ca_gmt_offset AS DOUBLE) AS ca_gmt_offset",
        "ca_location_type"))

  /** [Q-tpcds-q23b] TPC-DS Q23's SECOND iteration: the same frequent-item
    * × best-customer month of cross-channel purchases, reported PER
    * CUSTOMER NAME instead of as one corpus total. Reuses Q23's gates
    * (above-mean-frequency items, ≥50%-of-max spenders — both gates
    * relative, so they carry the selectivity shape to any sf) and attaches the buyer's name by a
    * customer-keyed join; no LIMIT (the published top-100 is a prefix of
    * a name-ordered list — at the gate scale the full ≤|best| result is
    * the stabler comparison).
    * Kept as a hand form: Materialize barrier (each gate's fact scan runs
    * once; the text would inline both gates into both channels). At sf0.1
    * the text is faster (0.83x: hand 1.75 s, text 1.45 s, median of 5
    * interleaved runs, local[4]) because the barrier's eager job dominates
    * at that size; re-measure at sf1 before converting. */
  def q_tpcds_q23b(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensure(spark, sfDir)
    val dd4 = t(spark, dir, "date_dim")
      .filter(col("d_year").between(1999, 2002)).select("d_date_sk")
    // r19: the per-item counts are read twice (corpus mean + gate) and the
    // mean attach SPECIALIZES its copy (the mean branch prunes
    // differently than the gate branch), so AQE stage reuse cannot
    // collapse them — the executed plan scanned the 4-year store history
    // once per copy. The item-grain counts materialize ONCE
    // (Materialize scaladoc; executed store_sales scans 3 → 2,
    // plans/r19/q_tpcds_q23b_{before,after}.txt). spend stays plain DAG:
    // its consumers (max gate + two monthLines semis) stay canonically
    // equal and AQE already reuses its single scan (the q23 audit).
    val counts0 = graft.plans.Materialize.concurrently(Seq(
      t(spark, dir, "store_sales")
        .join(broadcast(dd4), col("ss_sold_date_sk") === col("d_date_sk"))
        .groupBy(col("ss_item_sk").as("freq_item"))
        .agg(count(lit(1)).as("cnt")))).head
    val spend = t(spark, dir, "store_sales")
      .filter(col("ss_customer_sk").isNotNull)
      .join(broadcast(dd4), col("ss_sold_date_sk") === col("d_date_sk"))
      .groupBy(col("ss_customer_sk").as("cust"))
      .agg(sum(centsL(spark, col("ss_quantity"), col("ss_sales_price"))).as("ssales"))
    val freq = counts0
      .transform { counts =>
        // scale-invariant frequency gate: "frequent" = above the corpus
        // MEAN per-item count, so the selectivity shape survives any sf
        // (an absolute count is only right at one scale). The 1-row mean
        // is cross-joined as one broadcast row (SingleRowAttach keys it).
        val mean = counts
          .agg(sum(col("cnt")).as("tot"), count(lit(1)).as("n"))
        counts
          .crossJoin(broadcast(mean))
          .filter(col("cnt").cast(DoubleType) >
            col("tot").cast(DoubleType) / col("n"))
      }.select("freq_item")
    // r18: long-cents spend (see centsL) — the gate
    // ratio and every downstream double are derived from the same exact
    // values (the aggregate itself is materialized above)
    val best = spend
      .crossJoin(broadcast(spend.agg(max(col("ssales")).as("mx"))))
      .filter(col("ssales").cast(DoubleType) >
        col("mx").cast(DoubleType) * 0.5)
      .select(col("cust").as("best_cust"))
    val ddm = t(spark, dir, "date_dim")
      .filter(col("d_year") === 2000 && col("d_moy") === 3)
      .select(col("d_date_sk").as("m_date_sk"))
    def monthLines(fact: String, dateCol: String, itemCol: String,
                   custCol: String, qty: String, price: String) =
      t(spark, dir, fact)
        .join(broadcast(ddm), col(dateCol) === col("m_date_sk"))
        // r19: explicit broadcasts — the materialized gates no longer carry
        // runtime size stats, and without the hint the static planner
        // treats them as fact-sized and shuffles the month facts into
        // sort-merge semis (measured). Broadcast is the audited scale
        // shape: freq is item-dimension-scale (the ubiquitous
        // broadcast(it) class) and best is the ≥50%-of-max spender set —
        // selective by construction at every sf.
        .join(broadcast(freq), col(itemCol) === col("freq_item"), "left_semi")
        .join(broadcast(best), col(custCol) === col("best_cust"), "left_semi")
        .select(col(custCol).as("buyer"), centsL(spark, col(qty), col(price)).as("amt"))
    val cust = t(spark, dir, "customer")
      .select("c_customer_sk", "c_last_name", "c_first_name")
    monthLines("catalog_sales", "cs_sold_date_sk", "cs_item_sk",
      "cs_bill_customer_sk", "cs_quantity", "cs_list_price")
      .union(monthLines("web_sales", "ws_sold_date_sk", "ws_item_sk",
        "ws_bill_customer_sk", "ws_quantity", "ws_list_price"))
      .join(cust, col("buyer") === col("c_customer_sk"))
      .groupBy(col("c_last_name"), col("c_first_name"))
      .agg((sum(col("amt")).cast(DoubleType) / 100.0).as("sales"))
  }

  /** PUBLISHED-FORM proof scale (r12 verdict #3): the published predicates
    * that are measured structurally EMPTY at the sf0.01 gate (Q38's day
    * grain, Q13's published demo×geo joint, Q24's single color, Q41's
    * 40-wide manufact band, Q64's 6-color × $10 price slice) are measured
    * NON-EMPTY one decade up — so their `*_pub` twins pin to the sf1
    * generated cache and run the published form THERE, converting the
    * committed density measurements into oracle-backed proofs. The twins
    * ignore the fixture sfDir entirely (both engines read the pinned
    * cache), and sit in [[graft.SparkEntry.pinnedScaleProofs]] so the
    * sf-proportional bench record doesn't mix scales. Their texts read
    * tables through the dialect's `Pp`. */
  val pubScale = "sf1"
  val pubTwins: Set[String] = Set(
    "q_tpcds_q38_pub", "q_tpcds_q13_pub", "q_tpcds_q41_pub",
    "q_tpcds_q24_pub", "q_tpcds_q64_pub")
  private def pubDir(spark: SparkSession): String = ensure(spark, pubScale)

  /** DuckDB oracle SQL over the SAME generated parquet, path-pinned to the
    * correctness gate's scale ([[TpcSql.oracleScale]]). */
  val oracle: Map[String, String] = texts(TpcSql.duckdb(root, pubScale))

  /** Every declared query's one SQL text, written against `d` ([[TpcSql]]). */
  private def texts(d: TpcSql.Dialect): Map[String, String] = {
    import d.{Div, M, P, Pp}
    Map(
    // [Q-tpcds-q3] TPC-DS Q3 shape: store_sales ⋈ date_dim ⋈ item, November
    // slice of one category, brand-level revenue.
    "q_tpcds_q3" ->
      s"""SELECT /*+ BROADCAST(date_dim, item) */ d_year, i_brand_id, i_brand,
         | CAST(sum(ss_ext_sales_price) AS DOUBLE) AS ext_price
         |FROM ${P("store_sales")} JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |JOIN ${P("item")} ON ss_item_sk = i_item_sk
         |WHERE d_moy = 11 AND i_category = 'Books'
         |GROUP BY d_year, i_brand_id, i_brand""".stripMargin,
    // [Q-tpcds-q7] TPC-DS Q7 shape: store_sales star over demographics +
    // promotion + date + item, per-item average quantities/prices.
    "q_tpcds_q7" ->
      s"""SELECT /*+ BROADCAST(customer_demographics, date_dim, promotion, item) */
         | i_item_id,
         | CAST(sum(ss_quantity) AS DOUBLE) / count(ss_quantity) AS agg1,
         | CAST(sum(ss_list_price) AS DOUBLE) / count(ss_list_price) AS agg2,
         | CAST(sum(ss_coupon_amt) AS DOUBLE) / count(ss_coupon_amt) AS agg3,
         | CAST(sum(ss_sales_price) AS DOUBLE) / count(ss_sales_price) AS agg4
         |FROM ${P("store_sales")}
         |JOIN ${P("customer_demographics")} ON ss_cdemo_sk = cd_demo_sk
         |JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |JOIN ${P("promotion")} ON ss_promo_sk = p_promo_sk
         |JOIN ${P("item")} ON ss_item_sk = i_item_sk
         |WHERE cd_gender = 'M' AND cd_marital_status = 'S'
         |  AND cd_education_status = 'College'
         |  AND (p_channel_email = 'N' OR p_channel_event = 'N') AND d_year = 2000
         |GROUP BY i_item_id""".stripMargin,
    // [Q-tpcds-returns] store_returns ⋈ store_sales on the (ticket, item) PK —
    // the linkage TpcdsGen.returnsDf guarantees — rolled up to category return
    // totals for one year.
    "q_tpcds_returns" ->
      s"""SELECT /*+ BROADCAST(date_dim, item) */ i_category, count(*) AS n_returns,
         | CAST(sum(sr_return_quantity) AS BIGINT) AS returned_qty,
         | CAST(sum(sr_return_amt) AS DOUBLE) AS returned_amt,
         | CAST(sum(ss_net_paid) AS DOUBLE) AS sold_amt
         |FROM ${P("store_returns")}
         |JOIN ${P("store_sales")}
         |  ON sr_ticket_number = ss_ticket_number AND sr_item_sk = ss_item_sk
         |JOIN ${P("date_dim")} ON sr_returned_date_sk = d_date_sk
         |JOIN ${P("item")} ON sr_item_sk = i_item_sk
         |WHERE d_year = 2000
         |GROUP BY i_category""".stripMargin,
    // [Q-tpcds-q22] TPC-DS Q22 shape: inventory ⋈ date_dim ⋈ item, one
    // d_month_seq year, average quantity-on-hand by ROLLUP of the item
    // hierarchy.
    "q_tpcds_q22" ->
      s"""SELECT /*+ BROADCAST(date_dim, item) */
         | i_product_name, i_brand, i_class, i_category,
         | CAST(sum(inv_quantity_on_hand) AS DOUBLE) / count(inv_quantity_on_hand) AS qoh
         |FROM ${P("inventory")} JOIN ${P("date_dim")} ON inv_date_sk = d_date_sk
         |JOIN ${P("item")} ON inv_item_sk = i_item_sk
         |WHERE d_month_seq BETWEEN 1200 AND 1211
         |GROUP BY ROLLUP(i_product_name, i_brand, i_class, i_category)""".stripMargin,
    // [Q-tpcds-q71] TPC-DS Q71 shape: the three sales channels UNION ALL'd,
    // one brand category in one month, revenue by brand × meal-time hour
    // (exercises time_dim's derived bands).
    "q_tpcds_q71" ->
      s"""SELECT /*+ BROADCAST(date_dim, item, time_dim) */
         | i_brand_id, i_brand, t_hour, CAST(sum(price) AS DOUBLE) AS ext_price
         |FROM (
         |  SELECT ws_ext_sales_price AS price, ws_item_sk AS item,
         |         ws_sold_time_sk AS tim, ws_sold_date_sk AS dat FROM ${P("web_sales")}
         |  UNION ALL SELECT cs_ext_sales_price, cs_item_sk, cs_sold_time_sk,
         |         cs_sold_date_sk FROM ${P("catalog_sales")}
         |  UNION ALL SELECT ss_ext_sales_price, ss_item_sk, ss_sold_time_sk,
         |         ss_sold_date_sk FROM ${P("store_sales")}
         |) s
         |JOIN ${P("date_dim")} ON dat = d_date_sk
         |JOIN ${P("item")} ON item = i_item_sk
         |JOIN ${P("time_dim")} ON tim = t_time_sk
         |WHERE d_moy = 11 AND d_year = 2000 AND i_category = 'Electronics'
         |  AND t_meal_time IN ('breakfast', 'dinner')
         |GROUP BY i_brand_id, i_brand, t_hour""".stripMargin,
    "q_tpcds_q1" ->
      s"""WITH ctr AS (
         |  SELECT /*+ BROADCAST(date_dim) */
         |   sr_customer_sk AS ctr_customer_sk, sr_store_sk AS ctr_store_sk,
         |         sum(sr_return_amt) AS ctr_total_return
         |  FROM ${P("store_returns")}
         |  JOIN ${P("date_dim")} ON sr_returned_date_sk = d_date_sk
         |  WHERE d_year = 2000
         |  GROUP BY sr_customer_sk, sr_store_sk)
         |SELECT /*+ BROADCAST(store) */ c_customer_id
         |FROM ctr ctr1
         |JOIN ${P("store")} ON ctr1.ctr_store_sk = s_store_sk
         |JOIN ${P("customer")} ON ctr1.ctr_customer_sk = c_customer_sk
         |WHERE s_state = 'TN'
         |  AND ctr1.ctr_total_return * (SELECT count(*) * 5 FROM ctr ctr2
         |                               WHERE ctr2.ctr_store_sk = ctr1.ctr_store_sk)
         |    > (SELECT sum(ctr_total_return) * 6 FROM ctr ctr2
         |       WHERE ctr2.ctr_store_sk = ctr1.ctr_store_sk)""".stripMargin,
    // [Q-tpcds-q91] TPC-DS Q91 shape: catalog_returns ⋈ catalog_sales on the
    // (order, item) PK — exercising the catalog-channel returns linkage the
    // generator wires (TpcdsGen.returnsLinks) — rolled up per call center with
    // the returned-year dim.
    "q_tpcds_q91" ->
      s"""SELECT /*+ BROADCAST(date_dim, call_center) */
         | cc_call_center_id, count(*) AS n_returns,
         | CAST(sum(cr_return_amount) AS DOUBLE) AS returned_amt,
         | CAST(sum(cr_net_loss) AS DOUBLE) AS net_loss,
         | CAST(sum(cs_net_paid) AS DOUBLE) AS sold_amt
         |FROM ${P("catalog_returns")}
         |JOIN ${P("catalog_sales")}
         |  ON cr_order_number = cs_order_number AND cr_item_sk = cs_item_sk
         |JOIN ${P("date_dim")} ON cr_returned_date_sk = d_date_sk
         |JOIN ${P("call_center")} ON cr_call_center_sk = cc_call_center_sk
         |WHERE d_year = 2000
         |GROUP BY cc_call_center_id""".stripMargin,
    // [Q-tpcds-q85] TPC-DS Q85: return reasons under the PUBLISHED
    // double-demographic audit — web_returns ⋈ web_sales on the (order, item)
    // PK, then BOTH demographics rows (cd1 = refunded party, cd2 = returning
    // party) with the published cd1 = cd2 marital/ education equality arms,
    // and the refunded address with the published ca_country = 'United States'
    // ∧ state-triple ∧ net-profit disjunction.
    "q_tpcds_q85" ->
      s"""SELECT /*+ BROADCAST(date_dim, web_page, reason) */
         | substr(r_reason_desc, 1, 20) AS reason,
         | CAST(sum(ws_quantity) AS DOUBLE) / count(ws_quantity) AS avg_qty,
         | CAST(sum(wr_refunded_cash) AS DOUBLE) / count(wr_refunded_cash)
         |  AS avg_refunded_cash,
         | CAST(sum(wr_fee) AS DOUBLE) / count(wr_fee) AS avg_fee
         |FROM ${P("web_returns")}
         |JOIN ${P("web_sales")}
         |  ON wr_order_number = ws_order_number AND wr_item_sk = ws_item_sk
         |JOIN ${P("date_dim")} ON ws_sold_date_sk = d_date_sk
         |JOIN ${P("web_page")} ON ws_web_page_sk = wp_web_page_sk
         |JOIN ${P("customer_demographics")} cd1
         |  ON wr_refunded_cdemo_sk = cd1.cd_demo_sk
         |JOIN ${P("customer_demographics")} cd2
         |  ON wr_returning_cdemo_sk = cd2.cd_demo_sk
         |JOIN ${P("customer_address")} ON wr_refunded_addr_sk = ca_address_sk
         |JOIN ${P("reason")} ON wr_reason_sk = r_reason_sk
         |WHERE d_year = 2000
         | AND ((cd1.cd_marital_status = 'M'
         |   AND cd1.cd_marital_status = cd2.cd_marital_status
         |   AND cd1.cd_education_status = 'Advanced Degree'
         |   AND cd1.cd_education_status = cd2.cd_education_status
         |   AND ws_sales_price BETWEEN 5 AND 250)
         |  OR (cd1.cd_marital_status = 'S'
         |   AND cd1.cd_marital_status = cd2.cd_marital_status
         |   AND cd1.cd_education_status = 'College'
         |   AND cd1.cd_education_status = cd2.cd_education_status
         |   AND ws_sales_price BETWEEN 1 AND 200)
         |  OR (cd1.cd_marital_status = 'W'
         |   AND cd1.cd_marital_status = cd2.cd_marital_status
         |   AND cd1.cd_education_status = '2 yr Degree'
         |   AND cd1.cd_education_status = cd2.cd_education_status
         |   AND ws_sales_price BETWEEN 5 AND 250))
         | AND ((ca_country = 'United States' AND ca_state IN ('TX', 'OH', 'NY')
         |   AND ws_net_profit BETWEEN -5000 AND 2500)
         |  OR (ca_country = 'United States' AND ca_state IN ('CA', 'IL', 'PA')
         |   AND ws_net_profit BETWEEN -4000 AND 4000)
         |  OR (ca_country = 'United States' AND ca_state IN ('GA', 'WA', 'MS')
         |   AND ws_net_profit BETWEEN -5000 AND 5000))
         |GROUP BY 1""".stripMargin,
    // [Q-tpcds-q99] TPC-DS Q99 shape: catalog shipping-delay distribution —
    // days between sold and ship date bucketed at 30/60/90/120, by warehouse ×
    // ship mode × call center.
    "q_tpcds_q99" ->
      s"""SELECT /*+ BROADCAST(date_dim, warehouse, ship_mode, call_center) */
         | substr(w_warehouse_name, 1, 20) AS wh, sm_type, cc_call_center_id,
         | CAST(sum(CASE WHEN cs_ship_date_sk - cs_sold_date_sk <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
         | CAST(sum(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 30
         |   AND cs_ship_date_sk - cs_sold_date_sk <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
         | CAST(sum(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 60
         |   AND cs_ship_date_sk - cs_sold_date_sk <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
         | CAST(sum(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 90
         |   AND cs_ship_date_sk - cs_sold_date_sk <= 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120,
         | CAST(sum(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 120 THEN 1 ELSE 0 END) AS BIGINT) AS dmore
         |FROM ${P("catalog_sales")}
         |JOIN ${P("date_dim")} ON cs_ship_date_sk = d_date_sk
         |JOIN ${P("warehouse")} ON cs_warehouse_sk = w_warehouse_sk
         |JOIN ${P("ship_mode")} ON cs_ship_mode_sk = sm_ship_mode_sk
         |JOIN ${P("call_center")} ON cs_call_center_sk = cc_call_center_sk
         |WHERE d_month_seq BETWEEN 1200 AND 1211
         |GROUP BY substr(w_warehouse_name, 1, 20), sm_type, cc_call_center_id""".stripMargin,
    // [Q-tpcds-q84] TPC-DS Q84 shape: store returns attributed through the
    // customer's household demographics and income band, sliced by address
    // state, gated by the PUBLISHED income-band bounds (ib_lower_bound >=
    // 38128, ib_upper_bound <= 38128+50000 — the generator's ordered $10k
    // bands make exactly four of twenty qualify).
    "q_tpcds_q84" ->
      s"""SELECT /*+ BROADCAST(household_demographics, income_band) */
         | ca_state, ib_lower_bound, count(*) AS n_returns,
         | CAST(sum(sr_return_amt) AS DOUBLE) AS returned_amt
         |FROM ${P("store_returns")}
         |JOIN ${P("customer")} ON sr_customer_sk = c_customer_sk
         |JOIN ${P("customer_address")} ON c_current_addr_sk = ca_address_sk
         |JOIN ${P("household_demographics")} ON c_current_hdemo_sk = hd_demo_sk
         |JOIN ${P("income_band")} ON hd_income_band_sk = ib_income_band_sk
         |WHERE ca_state IN ('CA', 'TX') AND ib_lower_bound >= 38128
         | AND ib_upper_bound <= 38128 + 50000
         |GROUP BY ca_state, ib_lower_bound""".stripMargin,
    // [Q-tpcds-q36] TPC-DS Q36: gross margin by category/class with a ROLLUP
    // and a rank WINDOW OVER THE AGGREGATE — the window runs over the
    // few-hundred-row rollup result (never the fact), partitioned by the
    // hierarchy level and the parent category exactly as published, gated on
    // the PUBLISHED s_state IN ('TN' ×8) store slice (structural since
    // genVersion 15's cyclic store-state roster).
    "q_tpcds_q36" ->
      s"""SELECT /*+ BROADCAST(date_dim, store, item) */
         | CAST(sum(ss_net_profit) AS DOUBLE) / CAST(sum(ss_ext_sales_price) AS DOUBLE) AS gross_margin,
         | i_category, i_class,
         | CAST(GROUPING(i_category) + GROUPING(i_class) AS INT) AS lochierarchy,
         | CAST(rank() OVER (
         |   PARTITION BY GROUPING(i_category) + GROUPING(i_class),
         |     CASE WHEN GROUPING(i_class) = 0 THEN i_category END
         |   ORDER BY CAST(sum(ss_net_profit) AS DOUBLE) / CAST(sum(ss_ext_sales_price) AS DOUBLE) ASC) AS INT)
         |   AS rank_within_parent
         |FROM ${P("store_sales")}
         |JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |JOIN ${P("store")} ON ss_store_sk = s_store_sk
         |JOIN ${P("item")} ON ss_item_sk = i_item_sk
         |WHERE d_year = 2000
         | AND s_state IN ('TN', 'TN', 'TN', 'TN', 'TN', 'TN', 'TN', 'TN')
         |GROUP BY ROLLUP(i_category, i_class)""".stripMargin,
    // [Q-tpcds-q47] TPC-DS Q47 shape: monthly brand sales vs the brand-year
    // average with prior/next month neighbors — the WINDOW-OVER-AGGREGATE
    // time-series shape.
    "q_tpcds_q47" ->
      s"""SELECT * FROM (
         | SELECT i_category, i_brand, d_year, d_moy,
         |  CAST(s AS DOUBLE) AS sum_sales,
         |  CAST(sum(s) OVER wy AS DOUBLE) / count(*) OVER wy AS avg_monthly_sales,
         |  CAST(lag(s) OVER ws AS DOUBLE) AS psum,
         |  CAST(lead(s) OVER ws AS DOUBLE) AS nsum
         | FROM (
         |  SELECT /*+ BROADCAST(date_dim, item) */
         |   i_category, i_brand, d_year, d_moy, sum(ss_sales_price) AS s
         |  FROM ${P("store_sales")}
         |  JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |  JOIN ${P("item")} ON ss_item_sk = i_item_sk
         |  WHERE d_year IN (1999, 2000, 2001)
         |  GROUP BY i_category, i_brand, d_year, d_moy) m
         | WINDOW wy AS (PARTITION BY i_category, i_brand, d_year),
         |  ws AS (PARTITION BY i_category, i_brand ORDER BY d_year, d_moy)
         |) v WHERE d_year = 2000 AND avg_monthly_sales > 0""".stripMargin,
    // [Q-tpcds-q59] TPC-DS Q59 shape: week-over-year comparison — weekly
    // day-of-week sales totals SELF-JOINED on (week_seq = week_seq − 52).
    "q_tpcds_q59" ->
      s"""WITH wss AS (
         | SELECT /*+ BROADCAST(date_dim) */ d_week_seq,
         |  sum(CASE WHEN d_day_name = 'Sunday' THEN ss_sales_price END) AS sun,
         |  sum(CASE WHEN d_day_name = 'Monday' THEN ss_sales_price END) AS mon,
         |  sum(CASE WHEN d_day_name = 'Tuesday' THEN ss_sales_price END) AS tue,
         |  sum(CASE WHEN d_day_name = 'Wednesday' THEN ss_sales_price END) AS wed,
         |  sum(CASE WHEN d_day_name = 'Thursday' THEN ss_sales_price END) AS thu,
         |  sum(CASE WHEN d_day_name = 'Friday' THEN ss_sales_price END) AS fri,
         |  sum(CASE WHEN d_day_name = 'Saturday' THEN ss_sales_price END) AS sat
         | FROM ${P("store_sales")}
         | JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         | GROUP BY d_week_seq)
         |SELECT y.d_week_seq AS week_seq,
         | CAST(y.sun AS DOUBLE) / CAST(z.sun AS DOUBLE) AS sun_r,
         | CAST(y.mon AS DOUBLE) / CAST(z.mon AS DOUBLE) AS mon_r,
         | CAST(y.tue AS DOUBLE) / CAST(z.tue AS DOUBLE) AS tue_r,
         | CAST(y.wed AS DOUBLE) / CAST(z.wed AS DOUBLE) AS wed_r,
         | CAST(y.thu AS DOUBLE) / CAST(z.thu AS DOUBLE) AS thu_r,
         | CAST(y.fri AS DOUBLE) / CAST(z.fri AS DOUBLE) AS fri_r,
         | CAST(y.sat AS DOUBLE) / CAST(z.sat AS DOUBLE) AS sat_r
         |FROM wss y JOIN wss z ON y.d_week_seq = z.d_week_seq - 52
         |WHERE y.d_week_seq IN (SELECT /*+ BROADCAST(date_dim) */
         | d_week_seq FROM ${P("date_dim")} WHERE d_year = 2000)""".stripMargin,
    // [Q-tpcds-q88] TPC-DS Q88 shape: the 8 half-hour-bucket store traffic
    // counts.
    "q_tpcds_q88" ->
      s"""SELECT /*+ BROADCAST(household_demographics, time_dim) */
         | count(*) FILTER (WHERE t_hour = 8 AND t_minute >= 30) AS h8_30_to_9,
         | count(*) FILTER (WHERE t_hour = 9 AND t_minute < 30) AS h9_to_9_30,
         | count(*) FILTER (WHERE t_hour = 9 AND t_minute >= 30) AS h9_30_to_10,
         | count(*) FILTER (WHERE t_hour = 10 AND t_minute < 30) AS h10_to_10_30,
         | count(*) FILTER (WHERE t_hour = 10 AND t_minute >= 30) AS h10_30_to_11,
         | count(*) FILTER (WHERE t_hour = 11 AND t_minute < 30) AS h11_to_11_30,
         | count(*) FILTER (WHERE t_hour = 11 AND t_minute >= 30) AS h11_30_to_12,
         | count(*) FILTER (WHERE t_hour = 12 AND t_minute < 30) AS h12_to_12_30
         |FROM ${P("store_sales")}
         |JOIN ${P("household_demographics")} ON ss_hdemo_sk = hd_demo_sk
         |JOIN ${P("time_dim")} ON ss_sold_time_sk = t_time_sk
         |WHERE ((hd_dep_count = 4 AND hd_vehicle_count <= 6)
         |  OR (hd_dep_count = 2 AND hd_vehicle_count <= 4)
         |  OR (hd_dep_count = 0 AND hd_vehicle_count <= 2))
         | AND t_hour BETWEEN 8 AND 12""".stripMargin,
    // [Q-tpcds-q51] TPC-DS Q51 shape: per-item CUMULATIVE daily revenue on the
    // web and store channels, FULL OUTER joined on (item, day), keeping days
    // where the web run-rate leads.
    "q_tpcds_q51" ->
      s"""WITH web AS (
         | SELECT /*+ BROADCAST(date_dim) */ ws_item_sk AS item_sk, d_date,
         |  sum(sum(ws_sales_price)) OVER (PARTITION BY ws_item_sk ORDER BY d_date) AS cume
         | FROM ${P("web_sales")} JOIN ${P("date_dim")} ON ws_sold_date_sk = d_date_sk
         | WHERE d_year = 2000 AND d_moy <= 3 GROUP BY ws_item_sk, d_date),
         |store AS (
         | SELECT /*+ BROADCAST(date_dim) */ ss_item_sk AS item_sk, d_date,
         |  sum(sum(ss_sales_price)) OVER (PARTITION BY ss_item_sk ORDER BY d_date) AS cume
         | FROM ${P("store_sales")} JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         | WHERE d_year = 2000 AND d_moy <= 3 GROUP BY ss_item_sk, d_date)
         |SELECT COALESCE(w.item_sk, s.item_sk) AS item_sk,
         | COALESCE(w.d_date, s.d_date) AS d_date,
         | CAST(w.cume AS DOUBLE) AS web_cumulative,
         | CAST(s.cume AS DOUBLE) AS store_cumulative
         |FROM web w FULL OUTER JOIN store s
         | ON w.item_sk = s.item_sk AND w.d_date = s.d_date
         |WHERE COALESCE(w.cume, 0) > COALESCE(s.cume, 0)""".stripMargin,
    // [Q-tpcds-q95] TPC-DS Q95 shape: ship-window web orders that shipped from
    // MORE THAN ONE warehouse and were (partly) returned.
    "q_tpcds_q95" ->
      s"""SELECT /*+ BROADCAST(date_dim) */
         | count(DISTINCT ws_order_number) AS order_count,
         | CAST(sum(ws_ext_ship_cost) AS DOUBLE) AS total_shipping_cost,
         | CAST(sum(ws_net_profit) AS DOUBLE) AS total_net_profit
         |FROM ${P("web_sales")} JOIN ${P("date_dim")} ON ws_ship_date_sk = d_date_sk
         |WHERE d_year = 2000 AND d_moy <= 2
         | AND ws_order_number IN (SELECT ws_order_number FROM ${P("web_sales")}
         |   GROUP BY ws_order_number HAVING count(DISTINCT ws_warehouse_sk) > 1)
         | AND ws_order_number IN (SELECT wr_order_number FROM ${P("web_returns")})""".stripMargin,
    "q_tpcds_q72" ->
      s"""SELECT /*+ BROADCAST(household_demographics, d1, d2) */
         | cs_item_sk, d1.d_week_seq AS wk, count(*) AS low_stock_count
         |FROM ${P("catalog_sales")}
         |JOIN ${P("household_demographics")} ON cs_bill_hdemo_sk = hd_demo_sk
         |JOIN ${P("date_dim")} d1 ON cs_sold_date_sk = d1.d_date_sk
         |JOIN ${P("inventory")} ON inv_item_sk = cs_item_sk
         |JOIN ${P("date_dim")} d2 ON inv_date_sk = d2.d_date_sk
         |WHERE hd_buy_potential = '1001-5000'
         |  AND d2.d_week_seq = d1.d_week_seq
         |  AND inv_quantity_on_hand < cs_quantity
         |GROUP BY cs_item_sk, d1.d_week_seq""".stripMargin,
    // [Q-tpcds-q29] TPC-DS Q29 shape — the THREE-fact chain: items bought in
    // store, RETURNED, then bought again by the same customer through the
    // catalog.
    "q_tpcds_q29" ->
      s"""SELECT /*+ BROADCAST(item) */ i_category,
         | CAST(sum(ss_quantity) AS BIGINT) AS store_sales_quantity,
         | CAST(sum(sr_return_quantity) AS BIGINT) AS store_returns_quantity,
         | CAST(sum(cs_quantity) AS BIGINT) AS catalog_sales_quantity
         |FROM ${P("store_sales")}
         |JOIN ${P("store_returns")} ON ss_ticket_number = sr_ticket_number
         | AND ss_item_sk = sr_item_sk
         |JOIN ${P("catalog_sales")} ON cs_bill_customer_sk = sr_customer_sk
         | AND cs_item_sk = sr_item_sk
         | AND cs_sold_date_sk >= sr_returned_date_sk
         |JOIN ${P("item")} ON ss_item_sk = i_item_sk
         |GROUP BY i_category""".stripMargin,
    "q_tpcds_q14" -> {
      def leg(fact: String, pfx: String) =
        s"""SELECT /*+ BROADCAST(item) */ i_brand_id, i_class_id, i_category_id,
           |  sum(cents) AS yr_cents, count(cents) AS yr_cnt,
           |  sum(CASE WHEN is_nov THEN cents END) AS nov_cents,
           |  count(CASE WHEN is_nov THEN 1 END) AS nov_cnt
           | FROM (SELECT ${pfx}_sold_date_sk AS dsk, ${pfx}_item_sk AS isk,
           |   CAST(${pfx}_quantity * ${pfx}_list_price * 100 AS BIGINT) AS cents
           |  FROM ${P(fact)}) f
           | JOIN dd ON dsk = d_date_sk
           | JOIN ${P("item")} ON isk = i_item_sk
           | GROUP BY 1, 2, 3""".stripMargin
      def rep(src: String, name: String) =
        s"""SELECT '$name' AS channel, i_brand_id, i_class_id, i_category_id,
           |  nov_cents, nov_cnt
           | FROM $src JOIN cross_t USING (i_brand_id, i_class_id, i_category_id)
           | CROSS JOIN tot
           | WHERE nov_cnt > 0 AND nov_cents * tot_cnt > tot_cents""".stripMargin
      s"""WITH dd AS (SELECT /*+ BROADCAST(date_dim) */
         | d_date_sk, (d_year = 2001 AND d_moy = 11) AS is_nov
         |  FROM ${P("date_dim")} WHERE d_year BETWEEN 1999 AND 2001),
         |st AS (${leg("store_sales", "ss")}),
         |ct AS (${leg("catalog_sales", "cs")}),
         |wt AS (${leg("web_sales", "ws")}),
         |cross_t AS (
         | SELECT i_brand_id, i_class_id, i_category_id FROM st
         |  WHERE i_brand_id IS NOT NULL AND i_class_id IS NOT NULL
         |   AND i_category_id IS NOT NULL
         | INTERSECT SELECT i_brand_id, i_class_id, i_category_id FROM ct
         | INTERSECT SELECT i_brand_id, i_class_id, i_category_id FROM wt),
         |tot AS (SELECT sum(yr_cents) AS tot_cents, sum(yr_cnt) AS tot_cnt
         | FROM (SELECT yr_cents, yr_cnt FROM st
         |  UNION ALL SELECT yr_cents, yr_cnt FROM ct
         |  UNION ALL SELECT yr_cents, yr_cnt FROM wt) u)
         |SELECT channel, i_brand_id, i_class_id, i_category_id,
         | CAST(sum(nov_cents) AS DOUBLE) / 100.0 AS sales,
         | CAST(sum(nov_cnt) AS BIGINT) AS number_sales
         |FROM (${rep("st", "store")}
         | UNION ALL ${rep("ct", "catalog")}
         | UNION ALL ${rep("wt", "web")}) y
         |GROUP BY ROLLUP(channel, i_brand_id, i_class_id, i_category_id)""".stripMargin
    },
    // [Q-tpcds-q11] TPC-DS Q11 shape: customers whose web spend grew faster
    // year-over-year than their store spend.
    "q_tpcds_q11" ->
      s"""WITH s AS (
         | SELECT /*+ BROADCAST(date_dim) */ ss_customer_sk AS cust,
         |  sum(CASE WHEN d_year = 2000 THEN ss_ext_sales_price END) AS y1,
         |  sum(CASE WHEN d_year = 2001 THEN ss_ext_sales_price END) AS y2
         | FROM ${P("store_sales")} JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         | WHERE d_year IN (2000, 2001) AND ss_customer_sk IS NOT NULL
         | GROUP BY ss_customer_sk),
         |w AS (
         | SELECT /*+ BROADCAST(date_dim) */ ws_bill_customer_sk AS cust,
         |  sum(CASE WHEN d_year = 2000 THEN ws_ext_sales_price END) AS y1,
         |  sum(CASE WHEN d_year = 2001 THEN ws_ext_sales_price END) AS y2
         | FROM ${P("web_sales")} JOIN ${P("date_dim")} ON ws_sold_date_sk = d_date_sk
         | WHERE d_year IN (2000, 2001) AND ws_bill_customer_sk IS NOT NULL
         | GROUP BY ws_bill_customer_sk)
         |SELECT w.cust AS customer_sk,
         | CAST(w.y2 AS DOUBLE) / CAST(w.y1 AS DOUBLE) AS web_growth,
         | CAST(s.y2 AS DOUBLE) / CAST(s.y1 AS DOUBLE) AS store_growth
         |FROM w JOIN s ON w.cust = s.cust
         |WHERE w.y1 > 0 AND s.y1 > 0
         | AND CAST(w.y2 AS DOUBLE) / CAST(w.y1 AS DOUBLE) >
         |     CAST(s.y2 AS DOUBLE) / CAST(s.y1 AS DOUBLE)""".stripMargin,
    // [Q-tpcds-q42] TPC-DS Q42 shape: November revenue by item CATEGORY for
    // one year — the category-level rollup the genVersion-5 functionally-
    // dependent hierarchy makes meaningful ((i_category_id, i_category) is
    // 1:1, so the pair grouping has one group per category, not per item).
    "q_tpcds_q42" ->
      s"""SELECT /*+ BROADCAST(date_dim, item) */ d_year, i_category_id, i_category,
         | CAST(sum(ss_ext_sales_price) AS DOUBLE) AS sum_sales
         |FROM ${P("store_sales")} JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |JOIN ${P("item")} ON ss_item_sk = i_item_sk
         |WHERE d_moy = 11 AND d_year = 2000 AND i_manager_id = 1
         |GROUP BY d_year, i_category_id, i_category""".stripMargin,
    // [Q-tpcds-q52] TPC-DS Q52 shape: Q42's twin at BRAND grain — November
    // revenue by (i_brand_id, i_brand) for one year, the grouping that
    // required the 1:1 id↔string tie (and, since genVersion 6, the shared null
    // decision — an id with a lone-null string would fan into a second group).
    "q_tpcds_q52" ->
      s"""SELECT /*+ BROADCAST(date_dim, item) */ d_year, i_brand_id, i_brand,
         | CAST(sum(ss_ext_sales_price) AS DOUBLE) AS ext_price
         |FROM ${P("store_sales")} JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |JOIN ${P("item")} ON ss_item_sk = i_item_sk
         |WHERE d_moy = 11 AND d_year = 2000 AND i_manager_id = 1
         |GROUP BY d_year, i_brand_id, i_brand""".stripMargin,
    // [Q-tpcds-q25] TPC-DS Q25 shape: the bought-in-store → returned →
    // re-bought-by-catalog chain (Q29's machinery) at (item, store) grain with
    // per-leg date windows and a PROFIT triple — ss_net_profit / sr_net_loss /
    // cs_net_profit, the money columns whose coherent derivation chains
    // genVersion 2 introduced.
    "q_tpcds_q25" ->
      s"""SELECT /*+ BROADCAST(d1, d2, d3, store, item) */
         | i_item_id, i_item_desc, s_store_id, s_store_name,
         | CAST(sum(ss_net_profit) AS DOUBLE) AS store_sales_profit,
         | CAST(sum(sr_net_loss) AS DOUBLE) AS store_returns_loss,
         | CAST(sum(cs_net_profit) AS DOUBLE) AS catalog_sales_profit
         |FROM ${P("store_sales")}
         |JOIN ${P("date_dim")} d1 ON ss_sold_date_sk = d1.d_date_sk
         |JOIN ${P("store_returns")} ON ss_ticket_number = sr_ticket_number
         | AND ss_item_sk = sr_item_sk AND ss_customer_sk = sr_customer_sk
         |JOIN ${P("date_dim")} d2 ON sr_returned_date_sk = d2.d_date_sk
         |JOIN ${P("catalog_sales")} ON cs_bill_customer_sk = sr_customer_sk
         | AND cs_item_sk = sr_item_sk
         |JOIN ${P("date_dim")} d3 ON cs_sold_date_sk = d3.d_date_sk
         |JOIN ${P("store")} ON ss_store_sk = s_store_sk
         |JOIN ${P("item")} ON ss_item_sk = i_item_sk
         |WHERE d1.d_year = 2001 AND d1.d_moy = 1
         | AND d2.d_year = 2001 AND d2.d_moy BETWEEN 1 AND 7
         | AND d3.d_year = 2001 AND d3.d_moy BETWEEN 1 AND 7
         |GROUP BY i_item_id, i_item_desc, s_store_id, s_store_name""".stripMargin,
    // [Q-tpcds-q77] TPC-DS Q77 shape: the three-channel sales-AND-returns
    // profit rollup over the cr/wr returns linkage — per-location sales,
    // returns and profit for each channel in one year, UNION ALL'd and
    // rolled up over (channel, location). Store and web returns LEFT-join
    // their channel's sales at the location key; the catalog channel
    // attaches its single returns TOTAL to every call center by the
    // published cross join, a broadcast hash join under
    // graft.plans.SingleRowAttach. Null location FKs (~5%) are filtered
    // like the published dim inner joins would. Six fact scans each
    // aggregate map-side to ≤|locations| rows.
    "q_tpcds_q77" ->
      s"""WITH dd AS (SELECT
         | d_date_sk FROM ${P("date_dim")} WHERE d_year = 2000),
         | ss AS (SELECT ss_store_sk AS id, sum(ss_ext_sales_price) AS sales,
         |   sum(ss_net_profit) AS profit
         |  FROM ${P("store_sales")} JOIN dd ON ss_sold_date_sk = d_date_sk
         |  WHERE ss_store_sk IS NOT NULL GROUP BY ss_store_sk),
         | sr AS (SELECT sr_store_sk AS id, sum(sr_return_amt) AS returns,
         |   sum(sr_net_loss) AS profit_loss
         |  FROM ${P("store_returns")} JOIN dd ON sr_returned_date_sk = d_date_sk
         |  WHERE sr_store_sk IS NOT NULL GROUP BY sr_store_sk),
         | cs AS (SELECT cs_call_center_sk AS id, sum(cs_ext_sales_price) AS sales,
         |   sum(cs_net_profit) AS profit
         |  FROM ${P("catalog_sales")} JOIN dd ON cs_sold_date_sk = d_date_sk
         |  WHERE cs_call_center_sk IS NOT NULL GROUP BY cs_call_center_sk),
         | cr AS (SELECT sum(cr_return_amount) AS returns,
         |   sum(cr_net_loss) AS profit_loss
         |  FROM ${P("catalog_returns")} JOIN dd ON cr_returned_date_sk = d_date_sk),
         | ws AS (SELECT ws_web_page_sk AS id, sum(ws_ext_sales_price) AS sales,
         |   sum(ws_net_profit) AS profit
         |  FROM ${P("web_sales")} JOIN dd ON ws_sold_date_sk = d_date_sk
         |  WHERE ws_web_page_sk IS NOT NULL GROUP BY ws_web_page_sk),
         | wr AS (SELECT wr_web_page_sk AS id, sum(wr_return_amt) AS returns,
         |   sum(wr_net_loss) AS profit_loss
         |  FROM ${P("web_returns")} JOIN dd ON wr_returned_date_sk = d_date_sk
         |  WHERE wr_web_page_sk IS NOT NULL GROUP BY wr_web_page_sk)
         |SELECT channel, id, CAST(sum(sales) AS DOUBLE) AS sales,
         | CAST(sum(returns) AS DOUBLE) AS returns,
         | CAST(sum(profit) AS DOUBLE) AS profit
         |FROM (
         | SELECT 'store channel' AS channel, ss.id, sales,
         |  coalesce(sr.returns, 0) AS returns,
         |  profit - coalesce(sr.profit_loss, 0) AS profit
         | FROM ss LEFT JOIN sr ON ss.id = sr.id
         | UNION ALL
         | SELECT 'catalog channel', cs.id, sales, cr.returns,
         |  profit - cr.profit_loss FROM cs, cr
         | UNION ALL
         | SELECT 'web channel', ws.id, sales, coalesce(wr.returns, 0),
         |  profit - coalesce(wr.profit_loss, 0)
         | FROM ws LEFT JOIN wr ON ws.id = wr.id) x
         |GROUP BY ROLLUP(channel, id)""".stripMargin,
    "q_tpcds_q93" ->
      s"""SELECT ss_customer_sk, CAST(sum(act_sales) AS DOUBLE) AS sumsales
         |FROM (SELECT ss_customer_sk,
         |   CASE WHEN sr_return_quantity IS NOT NULL
         |     THEN (ss_quantity - sr_return_quantity) * ss_sales_price
         |     ELSE ss_quantity * ss_sales_price END AS act_sales
         |  FROM ${P("store_sales")} LEFT JOIN ${P("store_returns")}
         |   ON sr_ticket_number = ss_ticket_number AND ss_item_sk = sr_item_sk
         |  WHERE ss_customer_sk IS NOT NULL) t
         |GROUP BY ss_customer_sk
         |ORDER BY sumsales NULLS FIRST, ss_customer_sk LIMIT 100""".stripMargin,
    "q_tpcds_q5" ->
      s"""WITH dd AS (SELECT /*+ BROADCAST(date_dim) */ d_date_sk FROM ${P("date_dim")}
         |  WHERE d_date BETWEEN DATE '2000-08-23' AND DATE '2000-09-06'),
         | ssr AS (
         |  SELECT s_store_id AS id0, sum(sales_price) AS sales,
         |   sum(return_amt) AS returns, sum(profit) - sum(net_loss) AS profit
         |  FROM (SELECT ss_store_sk AS sk, ss_sold_date_sk AS date_sk,
         |     ss_ext_sales_price AS sales_price, ss_net_profit AS profit,
         |     CAST(0 AS DECIMAL(7,2)) AS return_amt,
         |     CAST(0 AS DECIMAL(7,2)) AS net_loss
         |    FROM ${P("store_sales")}
         |    UNION ALL
         |    SELECT sr_store_sk, sr_returned_date_sk, CAST(0 AS DECIMAL(7,2)),
         |     CAST(0 AS DECIMAL(7,2)), sr_return_amt, sr_net_loss
         |    FROM ${P("store_returns")}) t
         |  JOIN dd ON date_sk = d_date_sk
         |  JOIN ${P("store")} ON sk = s_store_sk
         |  GROUP BY s_store_id),
         | csr AS (
         |  SELECT cp_catalog_page_id AS id0, sum(sales_price) AS sales,
         |   sum(return_amt) AS returns, sum(profit) - sum(net_loss) AS profit
         |  FROM (SELECT cs_catalog_page_sk AS sk, cs_sold_date_sk AS date_sk,
         |     cs_ext_sales_price AS sales_price, cs_net_profit AS profit,
         |     CAST(0 AS DECIMAL(7,2)) AS return_amt,
         |     CAST(0 AS DECIMAL(7,2)) AS net_loss
         |    FROM ${P("catalog_sales")}
         |    UNION ALL
         |    SELECT cr_catalog_page_sk, cr_returned_date_sk, CAST(0 AS DECIMAL(7,2)),
         |     CAST(0 AS DECIMAL(7,2)), cr_return_amount, cr_net_loss
         |    FROM ${P("catalog_returns")}) t
         |  JOIN dd ON date_sk = d_date_sk
         |  JOIN ${P("catalog_page")} ON sk = cp_catalog_page_sk
         |  GROUP BY cp_catalog_page_id),
         | wsr AS (
         |  SELECT web_site_id AS id0, sum(sales_price) AS sales,
         |   sum(return_amt) AS returns, sum(profit) - sum(net_loss) AS profit
         |  FROM (SELECT ws_web_site_sk AS sk, ws_sold_date_sk AS date_sk,
         |     ws_ext_sales_price AS sales_price, ws_net_profit AS profit,
         |     CAST(0 AS DECIMAL(7,2)) AS return_amt,
         |     CAST(0 AS DECIMAL(7,2)) AS net_loss
         |    FROM ${P("web_sales")}
         |    UNION ALL
         |    SELECT ws.ws_web_site_sk, wr_returned_date_sk, CAST(0 AS DECIMAL(7,2)),
         |     CAST(0 AS DECIMAL(7,2)), wr_return_amt, wr_net_loss
         |    FROM ${P("web_returns")} JOIN ${P("web_sales")} ws
         |     ON wr_item_sk = ws.ws_item_sk AND wr_order_number = ws.ws_order_number) t
         |  JOIN dd ON date_sk = d_date_sk
         |  JOIN ${P("web_site")} ON sk = web_site_sk
         |  GROUP BY web_site_id)
         |SELECT channel, id, CAST(sum(sales) AS DOUBLE) AS sales,
         | CAST(sum(returns) AS DOUBLE) AS returns,
         | CAST(sum(profit) AS DOUBLE) AS profit
         |FROM (
         | SELECT 'store channel' AS channel, 'store' || id0 AS id,
         |  sales, returns, profit FROM ssr
         | UNION ALL
         | SELECT 'catalog channel', 'catalog_page' || id0,
         |  sales, returns, profit FROM csr
         | UNION ALL
         | SELECT 'web channel', 'web_site' || id0,
         |  sales, returns, profit FROM wsr) x
         |GROUP BY ROLLUP(channel, id)""".stripMargin,
    // [Q-tpcds-q49] TPC-DS Q49 shape: worst return ratios per channel — for
    // each channel, items ranked by quantity return ratio AND by currency
    // return ratio, keeping any item in either top-10. The ranks run over
    // the <=|items| per-item aggregate; the r13 A/B against the two-phase
    // Scale.topKRank tail (0.98 vs 3.19 s at sf0.1) is logged in
    // OPTIMIZATION_r18.md.
    "q_tpcds_q49" -> {
      def ch(name: String, sales: String, returns: String, pfx: String,
             rPfx: String, ordCol: String, rOrdCol: String, amtCol: String) =
        s"""(SELECT '$name' AS channel, item, return_ratio,
           |  CAST(rank() OVER (ORDER BY return_ratio) AS INT) AS return_rank,
           |  CAST(rank() OVER (ORDER BY currency_ratio) AS INT) AS currency_rank
           | FROM (
           |  SELECT ${pfx}_item_sk AS item,
           |   CAST(sum(coalesce(${rPfx}_return_quantity, 0)) AS DOUBLE) /
           |    CAST(sum(coalesce(${pfx}_quantity, 0)) AS DOUBLE) AS return_ratio,
           |   CAST(sum(coalesce($amtCol, 0)) AS DOUBLE) /
           |    CAST(sum(coalesce(${pfx}_net_paid, 0)) AS DOUBLE) AS currency_ratio
           |  FROM ${P(sales)} JOIN ${P(returns)}
           |   ON ${pfx}_item_sk = ${rPfx}_item_sk AND $ordCol = $rOrdCol
           |  JOIN (SELECT /*+ BROADCAST(date_dim) */
           |   d_date_sk FROM ${P("date_dim")} WHERE d_year = 2002) dd
           |   ON ${pfx}_sold_date_sk = d_date_sk
           |  WHERE $amtCol > 10000 AND ${pfx}_net_profit > 1
           |   AND ${pfx}_net_paid > 0 AND ${pfx}_quantity > 0
           |  GROUP BY ${pfx}_item_sk) t)""".stripMargin
      "SELECT channel, item, return_ratio, return_rank, currency_rank FROM (\n" +
        ch("web", "web_sales", "web_returns", "ws", "wr",
          "ws_order_number", "wr_order_number", "wr_return_amt") +
        "\n UNION ALL\n" +
        ch("catalog", "catalog_sales", "catalog_returns", "cs", "cr",
          "cs_order_number", "cr_order_number", "cr_return_amount") +
        "\n UNION ALL\n" +
        ch("store", "store_sales", "store_returns", "ss", "sr",
          "ss_ticket_number", "sr_ticket_number", "sr_return_amt") +
        ") u WHERE return_rank <= 10 OR currency_rank <= 10"
    },
    "q_tpcds_q65" ->
      s"""WITH dd AS (SELECT /*+ BROADCAST(date_dim) */
         | d_date_sk FROM ${P("date_dim")} WHERE d_year = 2000),
         | sc AS (SELECT ss_store_sk, ss_item_sk,
         |   sum(CAST(ss_sales_price * 100 AS BIGINT)) AS rev_c
         |  FROM ${P("store_sales")} JOIN dd ON ss_sold_date_sk = d_date_sk
         |  WHERE ss_store_sk IS NOT NULL AND ss_item_sk IS NOT NULL
         |  GROUP BY ss_store_sk, ss_item_sk),
         | sb AS (SELECT ss_store_sk AS avg_store, sum(rev_c) AS tot_c,
         |   count(*) AS cnt
         |  FROM sc GROUP BY ss_store_sk)
         |SELECT /*+ BROADCAST(store, item) */ s_store_name, i_item_desc,
         | CAST(sc.rev_c AS DOUBLE) / 100.0 AS revenue,
         | CAST(i_current_price AS DOUBLE) AS i_current_price,
         | CAST(i_wholesale_cost AS DOUBLE) AS i_wholesale_cost, i_brand
         |FROM sc JOIN sb ON sc.ss_store_sk = sb.avg_store
         |JOIN ${P("store")} ON sc.ss_store_sk = s_store_sk
         |JOIN ${P("item")} ON sc.ss_item_sk = i_item_sk
         |WHERE sc.rev_c * 10 * cnt <= tot_c""".stripMargin,
    // [Q-tpcds-q98] TPC-DS Q98 shape: item revenue with its RATIO-TO-CLASS — a
    // windowed sum over the aggregate (partition by i_class) dividing each
    // item's revenue by its class total.
    "q_tpcds_q98" ->
      s"""SELECT i_item_id, i_item_desc, i_category, i_class,
         | CAST(i_current_price AS DOUBLE) AS i_current_price,
         | CAST(rev_c AS DOUBLE) / 100.0 AS itemrevenue,
         | CAST((rev_c * 200000000 + sum(rev_c) OVER (PARTITION BY i_class))
         |   $Div (sum(rev_c) OVER (PARTITION BY i_class) * 2) AS DOUBLE)
         |  / 1000000.0 AS revenueratio
         |FROM (SELECT /*+ BROADCAST(date_dim, item) */
         | i_item_id, i_item_desc, i_category, i_class,
         |  i_current_price, sum(CAST(ss_ext_sales_price * 100 AS BIGINT)) AS rev_c
         | FROM ${P("store_sales")} JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         | JOIN ${P("item")} ON ss_item_sk = i_item_sk
         | WHERE d_year = 2000 AND i_category IN ('Sports', 'Books', 'Home')
         | GROUP BY 1, 2, 3, 4, 5) t""".stripMargin,
    // [Q-tpcds-q69] TPC-DS Q69 shape: demographic profile of customers who
    // bought IN STORE but not by web or catalog in a window — one LEFT SEMI
    // plus TWO LEFT ANTI joins on the customer key, then the
    // address/demographics attach and a demographic rollup.
    "q_tpcds_q69" ->
      s"""SELECT cd_gender, cd_marital_status, cd_education_status,
         | cd_purchase_estimate, cd_credit_rating, count(*) AS cnt
         |FROM ${P("customer")} c
         |JOIN ${P("customer_address")} ca ON c_current_addr_sk = ca_address_sk
         |JOIN ${P("customer_demographics")} ON c_current_cdemo_sk = cd_demo_sk
         |WHERE ca_state IN ('KY', 'GA', 'NM')
         | AND EXISTS (SELECT /*+ BROADCAST(date_dim) */
         |  1 FROM ${P("store_sales")} JOIN ${P("date_dim")}
         |  ON ss_sold_date_sk = d_date_sk
         |  WHERE c_customer_sk = ss_customer_sk AND d_year = 2001
         |   AND d_moy BETWEEN 4 AND 6)
         | AND NOT EXISTS (SELECT /*+ BROADCAST(date_dim) */
         |  1 FROM ${P("web_sales")} JOIN ${P("date_dim")}
         |  ON ws_sold_date_sk = d_date_sk
         |  WHERE c_customer_sk = ws_bill_customer_sk AND d_year = 2001
         |   AND d_moy BETWEEN 4 AND 6)
         | AND NOT EXISTS (SELECT /*+ BROADCAST(date_dim) */
         |  1 FROM ${P("catalog_sales")} JOIN ${P("date_dim")}
         |  ON cs_sold_date_sk = d_date_sk
         |  WHERE c_customer_sk = cs_ship_customer_sk AND d_year = 2001
         |   AND d_moy BETWEEN 4 AND 6)
         |GROUP BY cd_gender, cd_marital_status, cd_education_status,
         | cd_purchase_estimate, cd_credit_rating""".stripMargin,
    // [Q-tpcds-q6] TPC-DS Q6: states whose customers buy premium items in the
    // PUBLISHED single-month window (Jan 2001 — the v10 seasonal sold-date
    // concentration plus the v14 dsdgen price ceiling put major-state counts
    // over the published HAVING >= 10 floor at sf0.01; the pre-v15 full-year
    // widening is no longer needed) — the CORRELATED per-category average
    // price decorrelated to one keyed aggregate over the item dim, attached
    // back on the category key with the 1.2× premium comparison as a residual;
    // the month window attaches through the published scalar d_month_seq
    // subquery (1-row broadcast semi on the month-seq key).
    "q_tpcds_q6" ->
      s"""WITH ave AS (SELECT i_category AS avg_cat,
         |  sum(CAST(i_current_price * 100 AS BIGINT)) AS tot_c,
         |  count(i_current_price) AS cnt
         | FROM ${P("item")} WHERE i_category IS NOT NULL GROUP BY i_category),
         | premium AS (SELECT /*+ BROADCAST(item) */ i_item_sk FROM ${P("item")} JOIN ave
         |  ON i_category = avg_cat
         |  WHERE CAST(i_current_price * 100 AS BIGINT) * cnt * 5 > tot_c * 6)
         |SELECT /*+ BROADCAST(date_dim) */ ca_state AS state, count(*) AS cnt
         |FROM ${P("store_sales")}
         |JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |JOIN ${P("customer")} ON ss_customer_sk = c_customer_sk
         |JOIN ${P("customer_address")} ON c_current_addr_sk = ca_address_sk
         |WHERE d_month_seq IN (SELECT /*+ BROADCAST(date_dim) */
         | DISTINCT d_month_seq FROM ${P("date_dim")}
         |  WHERE d_year = 2001 AND d_moy = 1)
         | AND ss_item_sk IN (SELECT i_item_sk FROM premium)
         |GROUP BY ca_state HAVING count(*) >= 10""".stripMargin,
    // [Q-tpcds-q68] TPC-DS Q68: per-ticket spend of customers whose CURRENT
    // city differs from the city they bought in, with EVERY published gate as
    // written — month-start tickets (d_dom BETWEEN 1 AND 2) of the published
    // three years, the published household disjunction (hd_dep_count = 4 OR
    // hd_vehicle_count = 3, genVersion 10 domains), and the published s_city
    // pair on the STORE dim (v8's 12-store floor — 3 stores sit in
    // Midway/Fairview); the bought address joins UNFILTERED, exactly as
    // published.
    "q_tpcds_q68" ->
      s"""SELECT c_last_name, c_first_name, cur.ca_city, bought_city,
         | ss_ticket_number,
         | CAST(ext_d AS DOUBLE) AS extended_price,
         | CAST(tax_d AS DOUBLE) AS extended_tax,
         | CAST(list_d AS DOUBLE) AS list_price
         |FROM (SELECT /*+ BROADCAST(date_dim, store, household_demographics) */
         | ss_ticket_number, ss_customer_sk, ss_addr_sk,
         |   ca_city AS bought_city,
         |   sum(ss_ext_sales_price) AS ext_d,
         |   sum(ss_ext_list_price) AS list_d,
         |   sum(ss_ext_tax) AS tax_d
         |  FROM ${P("store_sales")}
         |  JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |  JOIN ${P("store")} ON ss_store_sk = s_store_sk
         |  JOIN ${P("household_demographics")} ON ss_hdemo_sk = hd_demo_sk
         |  JOIN ${P("customer_address")} ON ss_addr_sk = ca_address_sk
         |  WHERE d_year IN (1999, 2000, 2001) AND d_dom BETWEEN 1 AND 2
         |   AND ss_customer_sk IS NOT NULL
         |   AND (hd_dep_count = 4 OR hd_vehicle_count = 3)
         |   AND s_city IN ('Midway', 'Fairview')
         |  GROUP BY 1, 2, 3, 4) dn
         |JOIN ${P("customer")} ON ss_customer_sk = c_customer_sk
         |JOIN ${P("customer_address")} cur ON c_current_addr_sk = cur.ca_address_sk
         |WHERE cur.ca_city <> bought_city""".stripMargin,
    // [Q-tpcds-q79] TPC-DS Q79 shape: Monday shoppers' per-ticket coupon and
    // profit with their store's city — ticket-grain rollup through the
    // household-demographics dim and the calendar-true d_dow filter, then the
    // customer attach.
    "q_tpcds_q79" ->
      s"""SELECT c_last_name, c_first_name, substring(s_city, 1, 30) AS city30,
         | ss_ticket_number, CAST(amt_d AS DOUBLE) AS amt,
         | CAST(profit_d AS DOUBLE) AS profit
         |FROM (SELECT /*+ BROADCAST(date_dim, store, household_demographics) */
         | ss_ticket_number, ss_customer_sk, s_city,
         |   sum(ss_coupon_amt) AS amt_d, sum(ss_net_profit) AS profit_d
         |  FROM ${P("store_sales")}
         |  JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |  JOIN ${P("store")} ON ss_store_sk = s_store_sk
         |  JOIN ${P("household_demographics")} ON ss_hdemo_sk = hd_demo_sk
         |  WHERE d_dow = 1 AND d_year IN (1998, 1999, 2000)
         |   AND (hd_dep_count = 6 OR hd_vehicle_count > 2)
         |   AND s_number_employees BETWEEN 0 AND 5000
         |   AND ss_customer_sk IS NOT NULL
         |  GROUP BY 1, 2, 3) ms
         |JOIN ${P("customer")} ON ss_customer_sk = c_customer_sk""".stripMargin,
    // [Q-tpcds-q61] TPC-DS Q61 shape: promotional share of revenue — the
    // ratio of two corpus-level aggregates (channel-promoted sales over all
    // sales for one category/geography/year), each a star of broadcast
    // dims + customer-sized keyed attaches; the two 1-row aggregates meet
    // by the comma join (a broadcast hash join under SingleRowAttach) and
    // divide ONCE as DOUBLE. Exercises the p_channel_* promotion flags.
    // The published geography runs as written: ca_gmt_offset = -5 on the
    // customer address AND s_gmt_offset = -5 on the store (genVersion 13's
    // state-coherent offsets), with the published November month slice.
    "q_tpcds_q61" ->
      s"""WITH dd AS (SELECT d_date_sk FROM ${P("date_dim")}
         |  WHERE d_year = 2000 AND d_moy = 11),
         | jry AS (SELECT
         |  i_item_sk FROM ${P("item")} WHERE i_category = 'Jewelry'),
         | st5 AS (SELECT
         |  s_store_sk FROM ${P("store")} WHERE s_gmt_offset = -5),
         | geo AS (SELECT ca_address_sk FROM ${P("customer_address")}
         |  WHERE ca_gmt_offset = -5),
         | promo AS (SELECT sum(ss_ext_sales_price) AS promo_d
         |  FROM ${P("store_sales")}
         |  JOIN dd ON ss_sold_date_sk = d_date_sk
         |  JOIN ${P("customer")} ON ss_customer_sk = c_customer_sk
         |  WHERE ss_item_sk IN (SELECT i_item_sk FROM jry)
         |   AND ss_store_sk IN (SELECT s_store_sk FROM st5)
         |   AND c_current_addr_sk IN (SELECT ca_address_sk FROM geo)
         |   AND ss_promo_sk IN (SELECT /*+ BROADCAST(promotion) */
         |    p_promo_sk FROM ${P("promotion")}
         |    WHERE p_channel_dmail = 'Y' OR p_channel_email = 'Y'
         |     OR p_channel_tv = 'Y')),
         | total AS (SELECT sum(ss_ext_sales_price) AS total_d
         |  FROM ${P("store_sales")}
         |  JOIN dd ON ss_sold_date_sk = d_date_sk
         |  JOIN ${P("customer")} ON ss_customer_sk = c_customer_sk
         |  WHERE ss_item_sk IN (SELECT i_item_sk FROM jry)
         |   AND ss_store_sk IN (SELECT s_store_sk FROM st5)
         |   AND c_current_addr_sk IN (SELECT ca_address_sk FROM geo))
         |SELECT CAST(promo_d AS DOUBLE) AS promotions,
         | CAST(total_d AS DOUBLE) AS total,
         | CAST(promo_d AS DOUBLE) / CAST(total_d AS DOUBLE) * 100.0 AS promo_pct
         |FROM promo, total""".stripMargin,
    // [Q-tpcds-q33] TPC-DS Q33 shape: per-MANUFACTURER revenue summed across
    // all three sales channels for one category's manufacturers in one
    // geography — each channel a star aggregate at the i_manufact_id key
    // (semi-pruned to the category's manufacturer set, customers semi-pruned
    // to the geography), UNION ALL'd and re-aggregated.
    "q_tpcds_q33" -> {
      def ch(fact: String, dateCol: String, itemCol: String, addrCol: String,
             amtCol: String) =
        s"""SELECT /*+ BROADCAST(item) */ i_manufact_id, sum($amtCol) AS total_sales_d
           | FROM ${P(fact)}
           | JOIN (SELECT /*+ BROADCAST(date_dim) */ d_date_sk FROM ${P("date_dim")}
           |   WHERE d_year = 2000 AND d_moy = 1) dd
           |  ON $dateCol = d_date_sk
           | JOIN ${P("item")} ON $itemCol = i_item_sk
           | WHERE $addrCol IN (SELECT ca_address_sk FROM ${P("customer_address")}
           |   WHERE ca_gmt_offset = -5)
           |  AND i_manufact_id IN (SELECT /*+ BROADCAST(item) */
           |   i_manufact_id FROM ${P("item")}
           |   WHERE i_category = 'Electronics')
           | GROUP BY i_manufact_id""".stripMargin
      "SELECT i_manufact_id, CAST(sum(total_sales_d) AS DOUBLE) AS total_sales FROM (\n" +
        ch("store_sales", "ss_sold_date_sk", "ss_item_sk", "ss_addr_sk",
          "ss_ext_sales_price") +
        "\nUNION ALL\n" +
        ch("catalog_sales", "cs_sold_date_sk", "cs_item_sk", "cs_bill_addr_sk",
          "cs_ext_sales_price") +
        "\nUNION ALL\n" +
        ch("web_sales", "ws_sold_date_sk", "ws_item_sk", "ws_bill_addr_sk",
          "ws_ext_sales_price") +
        ") u GROUP BY i_manufact_id"
    },
    // [Q-tpcds-q60] TPC-DS Q60 shape: per-ITEM-ID revenue summed across all
    // three sales channels for one category's items in one geography and one
    // month — Q33's union machinery at the i_item_id grain with a published
    // month slice (d_year, d_moy).
    "q_tpcds_q60" -> {
      def ch(fact: String, dateCol: String, itemCol: String, addrCol: String,
             amtCol: String) =
        s"""SELECT /*+ BROADCAST(item) */ i_item_id, sum($amtCol) AS total_sales_d
           | FROM ${P(fact)}
           | JOIN (SELECT /*+ BROADCAST(date_dim) */ d_date_sk FROM ${P("date_dim")}
           |   WHERE d_year = 2000 AND d_moy = 9) dd
           |  ON $dateCol = d_date_sk
           | JOIN ${P("item")} ON $itemCol = i_item_sk
           | WHERE $addrCol IN (SELECT ca_address_sk FROM ${P("customer_address")}
           |   WHERE ca_gmt_offset = -5)
           |  AND i_item_id IN (SELECT /*+ BROADCAST(item) */ i_item_id FROM ${P("item")}
           |   WHERE i_category = 'Music')
           | GROUP BY i_item_id""".stripMargin
      "SELECT i_item_id, CAST(sum(total_sales_d) AS DOUBLE) AS total_sales FROM (\n" +
        ch("store_sales", "ss_sold_date_sk", "ss_item_sk", "ss_addr_sk",
          "ss_ext_sales_price") +
        "\nUNION ALL\n" +
        ch("catalog_sales", "cs_sold_date_sk", "cs_item_sk", "cs_bill_addr_sk",
          "cs_ext_sales_price") +
        "\nUNION ALL\n" +
        ch("web_sales", "ws_sold_date_sk", "ws_item_sk", "ws_bill_addr_sk",
          "ws_ext_sales_price") +
        ") u GROUP BY i_item_id"
    },
    // [Q-tpcds-q15] TPC-DS Q15 shape: catalog revenue by customer zip for one
    // quarter, with the published three-way DISJUNCTIVE predicate (zip prefix
    // IN list OR state IN list OR big-ticket line) — the disjunction
    // references both fact and address columns, so it cannot be pushed below
    // the customer/address joins; the plan's work IS those two keyed shuffles.
    "q_tpcds_q15" ->
      s"""SELECT /*+ BROADCAST(date_dim) */
         | ca_zip, CAST(sum(cs_sales_price) AS DOUBLE) AS total_sales
         |FROM ${P("catalog_sales")}
         |JOIN ${P("date_dim")} ON cs_sold_date_sk = d_date_sk
         |JOIN ${P("customer")} ON cs_bill_customer_sk = c_customer_sk
         |JOIN ${P("customer_address")} ON c_current_addr_sk = ca_address_sk
         |WHERE d_year = 2000 AND d_qoy = 2
         | AND (substr(ca_zip, 1, 5) IN (${zipList.map("'" + _ + "'").mkString(", ")})
         |  OR ca_state IN ('CA', 'WA', 'GA') OR cs_sales_price > 500)
         |GROUP BY ca_zip""".stripMargin,
    // [Q-tpcds-q45] TPC-DS Q45 shape: web revenue by customer (zip, city) for
    // one quarter, where the customer lives in a listed zip OR bought one of
    // ten specific items — the item-membership disjunct rides a broadcast
    // marker left-join on the i_item_id business key (the published
    // IN-subselect), since the OR forbids a semi-join.
    "q_tpcds_q45" ->
      s"""SELECT /*+ BROADCAST(date_dim, item) */
         | ca_zip, ca_city, CAST(sum(ws_sales_price) AS DOUBLE) AS total_sales
         |FROM ${P("web_sales")}
         |JOIN ${P("date_dim")} ON ws_sold_date_sk = d_date_sk
         |JOIN ${P("item")} ON ws_item_sk = i_item_sk
         |JOIN ${P("customer")} ON ws_bill_customer_sk = c_customer_sk
         |JOIN ${P("customer_address")} ON c_current_addr_sk = ca_address_sk
         |WHERE d_year = 2000 AND d_qoy = 2
         | AND (substr(ca_zip, 1, 5) IN (${zipList.map("'" + _ + "'").mkString(", ")})
         |  OR i_item_id IN (SELECT /*+ BROADCAST(item) */ i_item_id FROM ${P("item")}
         |   WHERE i_item_sk IN (2, 3, 5, 7, 11, 13, 17, 19, 23, 29)))
         |GROUP BY ca_zip, ca_city""".stripMargin,
    // [Q-tpcds-q19] TPC-DS Q19 shape: brand/manufacturer revenue from
    // customers who bought in a store OUTSIDE their home zip — the published
    // `substr(ca_zip, 1, 5) <> substr(s_zip, 1, 5)` cross-dimension predicate
    // (genVersion 8's shared zip domain makes it meaningful), over one month
    // and one manager.
    "q_tpcds_q19" ->
      s"""SELECT /*+ BROADCAST(date_dim, item, store) */
         | i_brand_id, i_brand, i_manufact_id, i_manufact,
         | CAST(sum(ss_ext_sales_price) AS DOUBLE) AS ext_price
         |FROM ${P("store_sales")}
         |JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |JOIN ${P("item")} ON ss_item_sk = i_item_sk
         |JOIN ${P("customer")} ON ss_customer_sk = c_customer_sk
         |JOIN ${P("customer_address")} ON c_current_addr_sk = ca_address_sk
         |JOIN ${P("store")} ON ss_store_sk = s_store_sk
         |WHERE d_year = 2000 AND d_moy = 11
         | AND i_manager_id = 8
         | AND substr(ca_zip, 1, 5) <> substr(s_zip, 1, 5)
         |GROUP BY i_brand_id, i_brand, i_manufact_id, i_manufact""".stripMargin,
    "q_tpcds_q8" ->
      s"""SELECT /*+ BROADCAST(date_dim, store) */
         | s_store_name, CAST(sum(ss_net_profit) AS DOUBLE) AS net_profit
         |FROM ${P("store_sales")}
         |JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |JOIN ${P("store")} ON ss_store_sk = s_store_sk
         |WHERE d_year = 2000 AND d_qoy = 1
         | AND substr(s_zip, 1, 2) IN (
         |  SELECT substr(zip5, 1, 2) FROM (
         |   SELECT substr(ca_zip, 1, 5) AS zip5 FROM ${P("customer_address")}
         |   WHERE substr(ca_zip, 1, 5) IN (${q8ZipList.map("'" + _ + "'").mkString(", ")})
         |   INTERSECT
         |   SELECT substr(ca_zip, 1, 5) AS zip5
         |   FROM ${P("customer")}
         |   JOIN ${P("customer_address")} ON c_current_addr_sk = ca_address_sk
         |   WHERE c_preferred_cust_flag = 'Y' AND ca_zip IS NOT NULL
         |   GROUP BY substr(ca_zip, 1, 5) HAVING count(*) > 10))
         |GROUP BY s_store_name""".stripMargin,
    // [Q-tpcds-q55] TPC-DS Q55 shape: one manager's November brand revenue —
    // the classic two-broadcast star rollup at the brand grain, with the
    // PUBLISHED i_manager_id = 28 point filter (genVersion 8's 1..100 manager
    // domain makes it dsdgen-selective: 2 qualifying items at the sf0.01
    // gate).
    "q_tpcds_q55" ->
      s"""SELECT /*+ BROADCAST(date_dim, item) */ i_brand_id, i_brand,
         | CAST(sum(ss_ext_sales_price) AS DOUBLE) AS ext_price
         |FROM ${P("store_sales")}
         |JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |JOIN ${P("item")} ON ss_item_sk = i_item_sk
         |WHERE d_year = 2000 AND d_moy = 11
         | AND i_manager_id = 28
         |GROUP BY i_brand_id, i_brand""".stripMargin,
    // [Q-tpcds-q13] TPC-DS Q13 shape: one-row average/sum profile of store
    // lines matching BOTH of two three-way disjunctions — (marital × education
    // × price band × buy potential) and (state set × profit band).
    "q_tpcds_q13" ->
      s"""SELECT /*+ BROADCAST(date_dim, store, customer_demographics, household_demographics) */
         | CAST(sum(ss_quantity) AS DOUBLE) / count(ss_quantity) AS avg_qty,
         | CAST(sum(ss_ext_sales_price) AS DOUBLE) / count(ss_ext_sales_price)
         |  AS avg_ext_price,
         | CAST(sum(ss_ext_wholesale_cost) AS DOUBLE)
         |  / count(ss_ext_wholesale_cost) AS avg_whl,
         | CAST(sum(ss_ext_wholesale_cost) AS DOUBLE) AS sum_whl
         |FROM ${P("store_sales")}
         |JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |JOIN ${P("store")} ON ss_store_sk = s_store_sk
         |JOIN ${P("customer_demographics")} ON ss_cdemo_sk = cd_demo_sk
         |JOIN ${P("household_demographics")} ON ss_hdemo_sk = hd_demo_sk
         |JOIN ${P("customer_address")} ON ss_addr_sk = ca_address_sk
         |WHERE d_year = 2000
         | AND ((cd_marital_status = 'M' AND cd_education_status = 'Advanced Degree'
         |   AND ss_sales_price BETWEEN 5 AND 150 AND hd_dep_count = 3)
         |  OR (cd_marital_status = 'S' AND cd_education_status = 'College'
         |   AND ss_sales_price BETWEEN 1 AND 120 AND hd_dep_count = 1)
         |  OR (cd_marital_status = 'W' AND cd_education_status = '2 yr Degree'
         |   AND ss_sales_price BETWEEN 5 AND 150 AND hd_dep_count = 1))
         | AND ((ca_state IN ('TX', 'OH', 'MI') AND ss_net_profit BETWEEN 0 AND 300)
         |  OR (ca_state IN ('CA', 'NY', 'IL') AND ss_net_profit BETWEEN 50 AND 400)
         |  OR (ca_state IN ('GA', 'WA', 'PA') AND ss_net_profit BETWEEN 0 AND 250))""".stripMargin,
    // [Q-tpcds-q63] TPC-DS Q63 shape: managers whose monthly revenue strays
    // ≥10% from their own yearly monthly average — a broadcast star aggregate
    // at the (manager, month) grain, then a per-manager window average (exact
    // sum ÷ count, divided once as DOUBLE) and a ratio filter.
    "q_tpcds_q63" ->
      s"""SELECT i_manager_id, d_moy, CAST(s AS DOUBLE) AS sum_sales,
         |  avg_monthly_sales
         |FROM (
         | SELECT i_manager_id, d_moy, s,
         |  CAST(sum(s) OVER (PARTITION BY i_manager_id) AS DOUBLE)
         |   / count(*) OVER (PARTITION BY i_manager_id) AS avg_monthly_sales
         | FROM (
         |  SELECT /*+ BROADCAST(date_dim, item) */
         |   i_manager_id, d_moy, sum(ss_sales_price) AS s
         |  FROM ${P("store_sales")}
         |  JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |  JOIN ${P("item")} ON ss_item_sk = i_item_sk
         |  WHERE d_year = 2000 AND i_manager_id IS NOT NULL
         |   AND i_category IN ('Books', 'Children', 'Electronics', 'Home', 'Music')
         |  GROUP BY i_manager_id, d_moy) m) t
         |WHERE avg_monthly_sales > 0
         | AND abs(CAST(s AS DOUBLE) - avg_monthly_sales) / avg_monthly_sales > 0.1""".stripMargin,
    "q_tpcds_q31" -> {
      def byQ(fact: String, dateCol: String, addrCol: String, amtCol: String,
              pfx: String) =
        s"""SELECT /*+ BROADCAST(date_dim) */ ca_county AS ${pfx}_county,
           |  sum($amtCol) FILTER (WHERE d_qoy = 1) AS ${pfx}1,
           |  sum($amtCol) FILTER (WHERE d_qoy = 2) AS ${pfx}2,
           |  sum($amtCol) FILTER (WHERE d_qoy = 3) AS ${pfx}3
           | FROM ${P(fact)}
           | JOIN ${P("date_dim")} ON $dateCol = d_date_sk
           | JOIN ${P("customer_address")} ON $addrCol = ca_address_sk
           | WHERE d_year = 2000 AND d_qoy IN (1, 2, 3)
           |  AND ca_county IS NOT NULL
           | GROUP BY ca_county
           | HAVING sum($amtCol) FILTER (WHERE d_qoy = 1) IS NOT NULL
           |  AND sum($amtCol) FILTER (WHERE d_qoy = 2) IS NOT NULL
           |  AND sum($amtCol) FILTER (WHERE d_qoy = 3) IS NOT NULL""".stripMargin
      s"""WITH s AS (${byQ("store_sales", "ss_sold_date_sk", "ss_addr_sk",
             "ss_ext_sales_price", "s")}),
         |w AS (${byQ("web_sales", "ws_sold_date_sk", "ws_bill_addr_sk",
             "ws_ext_sales_price", "w")})
         |SELECT s_county AS ca_county,
         | CAST(w2 AS DOUBLE) / CAST(w1 AS DOUBLE) AS web_q1_q2_increase,
         | CAST(s2 AS DOUBLE) / CAST(s1 AS DOUBLE) AS store_q1_q2_increase,
         | CAST(w3 AS DOUBLE) / CAST(w2 AS DOUBLE) AS web_q2_q3_increase,
         | CAST(s3 AS DOUBLE) / CAST(s2 AS DOUBLE) AS store_q2_q3_increase
         |FROM s JOIN w ON s_county = w_county
         |WHERE s1 > 0 AND s2 > 0 AND w1 > 0 AND w2 > 0
         | AND CAST(w2 AS DOUBLE) / CAST(w1 AS DOUBLE)
         |   > CAST(s2 AS DOUBLE) / CAST(s1 AS DOUBLE)
         | AND CAST(w3 AS DOUBLE) / CAST(w2 AS DOUBLE)
         |   > CAST(s3 AS DOUBLE) / CAST(s2 AS DOUBLE)""".stripMargin
    },
    // [Q-tpcds-q75] TPC-DS Q75 shape: year-over-year unit/revenue DECLINE per
    // merchandise-hierarchy cell, net of returns, across all three channels —
    // each channel LEFT-joins its returns fact on the (order, item) PK (the
    // generator's returns linkage), nets quantity/amount, the channels UNION
    // (published distinct semantics), aggregate at the (year, brand, class,
    // category, manufact) grain, and the two years join to keep cells whose
    // unit ratio fell under 0.9.
    "q_tpcds_q75" -> {
      def chan(fact: String, dateCol: String, itemCol: String, ordCol: String,
               qtyCol: String, amtCol: String, ret: String, rOrdCol: String,
               rItemCol: String, rQtyCol: String, rAmtCol: String) =
        s"""SELECT /*+ BROADCAST(date_dim, item) */
           | d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
           | $qtyCol - COALESCE($rQtyCol, 0) AS sales_cnt,
           | $amtCol - COALESCE($rAmtCol, CAST(0 AS DECIMAL(7,2))) AS sales_amt
           |FROM ${P(fact)}
           |JOIN ${P("date_dim")} ON $dateCol = d_date_sk
           |JOIN ${P("item")} ON $itemCol = i_item_sk
           |LEFT JOIN ${P(ret)} ON $ordCol = $rOrdCol AND $itemCol = $rItemCol
           |WHERE d_year IN (1999, 2000) AND i_category = 'Electronics'""".stripMargin
      s"""WITH detail AS (
         |${chan("catalog_sales", "cs_sold_date_sk", "cs_item_sk",
             "cs_order_number", "cs_quantity", "cs_ext_sales_price",
             "catalog_returns", "cr_order_number", "cr_item_sk",
             "cr_return_quantity", "cr_return_amount")}
         |UNION
         |${chan("store_sales", "ss_sold_date_sk", "ss_item_sk",
             "ss_ticket_number", "ss_quantity", "ss_ext_sales_price",
             "store_returns", "sr_ticket_number", "sr_item_sk",
             "sr_return_quantity", "sr_return_amt")}
         |UNION
         |${chan("web_sales", "ws_sold_date_sk", "ws_item_sk",
             "ws_order_number", "ws_quantity", "ws_ext_sales_price",
             "web_returns", "wr_order_number", "wr_item_sk",
             "wr_return_quantity", "wr_return_amt")}),
         |all_sales AS (
         | SELECT d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
         |  CAST(sum(sales_cnt) AS BIGINT) AS sales_cnt, sum(sales_amt) AS sales_amt
         | FROM detail
         | GROUP BY d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id)
         |SELECT 1999 AS prev_year, c.d_year AS year_, c.i_brand_id,
         | c.i_class_id, c.i_category_id, c.i_manufact_id,
         | p.sales_cnt AS prev_yr_cnt, c.sales_cnt AS curr_yr_cnt,
         | c.sales_cnt - p.sales_cnt AS sales_cnt_diff,
         | CAST(c.sales_amt - p.sales_amt AS DOUBLE) AS sales_amt_diff
         |FROM all_sales c JOIN all_sales p
         | ON c.i_brand_id = p.i_brand_id AND c.i_class_id = p.i_class_id
         | AND c.i_category_id = p.i_category_id
         | AND c.i_manufact_id = p.i_manufact_id
         |WHERE c.d_year = 2000 AND p.d_year = 1999 AND p.sales_cnt > 0
         | AND c.sales_cnt * 10 < p.sales_cnt * 9""".stripMargin
    },
    // [Q-tpcds-q66] TPC-DS Q66 shape: the wide warehouse report — monthly
    // revenue and net-paid columns (12 + 12, conditional aggregation; no pivot
    // shuffle) per warehouse over web + catalog shipments in one year,
    // restricted to a working-hours time band and two ship-mode types.
    "q_tpcds_q66" -> {
      def chan(fact: String, dateCol: String, timeCol: String, smCol: String,
               whCol: String, qtyCol: String, amtCol: String, netCol: String) =
        s"""SELECT /*+ BROADCAST(date_dim) */ $whCol AS w_sk, d_moy,
           | $amtCol * $qtyCol AS sales, $netCol * $qtyCol AS net
           |FROM ${P(fact)}
           |JOIN ${P("date_dim")} ON $dateCol = d_date_sk
           |WHERE d_year = 2000
           | AND $timeCol IN (SELECT /*+ BROADCAST(time_dim) */
           |  t_time_sk FROM ${P("time_dim")}
           |  WHERE t_time BETWEEN 28800 AND 57600)
           | AND $smCol IN (SELECT /*+ BROADCAST(ship_mode) */
           |  sm_ship_mode_sk FROM ${P("ship_mode")}
           |  WHERE sm_carrier IN ('DHL', 'BARIAN'))""".stripMargin
      val months = Seq("jan", "feb", "mar", "apr", "may", "jun", "jul", "aug",
        "sep", "oct", "nov", "dec")
      val sales = months.zipWithIndex.map { case (m, i) =>
        s"CAST(sum(CASE WHEN d_moy = ${i + 1} THEN sales END) AS DOUBLE) AS ${m}_sales"
      }.mkString(",\n ")
      val nets = months.zipWithIndex.map { case (m, i) =>
        s"CAST(sum(CASE WHEN d_moy = ${i + 1} THEN net END) AS DOUBLE) AS ${m}_net"
      }.mkString(",\n ")
      s"""SELECT /*+ BROADCAST(warehouse) */
         | w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
         | $sales,
         | $nets
         |FROM (
         |${chan("web_sales", "ws_sold_date_sk", "ws_sold_time_sk",
             "ws_ship_mode_sk", "ws_warehouse_sk", "ws_quantity",
             "ws_ext_sales_price", "ws_net_paid")}
         |UNION ALL
         |${chan("catalog_sales", "cs_sold_date_sk", "cs_sold_time_sk",
             "cs_ship_mode_sk", "cs_warehouse_sk", "cs_quantity",
             "cs_ext_sales_price", "cs_net_paid")}) x
         |JOIN ${P("warehouse")} ON w_sk = w_warehouse_sk
         |GROUP BY w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state""".stripMargin
    },
    // [Q-tpcds-q32] TPC-DS Q32 shape: total "excess discount" — catalog lines
    // of one manufacturer band, in a 90-day window, whose discount exceeds
    // 1.3× the per-item average discount over the same window.
    "q_tpcds_q32" ->
      s"""WITH cs AS (
         | SELECT /*+ BROADCAST(date_dim) */ cs_item_sk,
         |  CAST(cs_ext_discount_amt * 100 AS BIGINT) AS amt_c
         | FROM ${P("catalog_sales")}
         | JOIN ${P("date_dim")} ON cs_sold_date_sk = d_date_sk
         | WHERE d_date BETWEEN DATE '2000-01-27' AND DATE '2000-04-26'),
         |thr AS (
         | SELECT cs_item_sk AS t_item, sum(amt_c) AS tot_c,
         |  count(amt_c) AS cnt
         | FROM cs GROUP BY cs_item_sk)
         |SELECT CAST(sum(amt_c) AS DOUBLE) / 100.0 AS excess_discount
         |FROM cs JOIN thr ON cs_item_sk = t_item
         |WHERE amt_c * cnt * 10 > tot_c * 13
         | AND cs_item_sk IN (SELECT /*+ BROADCAST(item) */ i_item_sk FROM ${P("item")}
         |  WHERE i_manufact_id BETWEEN 1 AND 50)""".stripMargin,
    // [Q-tpcds-q73] TPC-DS Q73: customers with SMALL tickets (1–5 lines) on
    // month-start shopping days in the PUBLISHED 4-county list
    // (Williamson/Franklin Parish/Bronx/Orange — structural since genVersion
    // 16's cyclic store counties), with the PUBLISHED household gate —
    // buy_potential ∈ {>10000, Unknown}, hd_vehicle_count > 0, dep/vehicle
    // ratio > 1 (genVersion 10's dsdgen count domains).
    "q_tpcds_q73" ->
      s"""SELECT c_last_name, c_first_name, c_salutation,
         | c_preferred_cust_flag, ss_ticket_number, cnt
         |FROM (
         | SELECT /*+ BROADCAST(date_dim) */
         |  ss_ticket_number, ss_customer_sk, count(*) AS cnt
         | FROM ${P("store_sales")}
         | JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         | WHERE d_dom BETWEEN 1 AND 3
         |  AND ss_store_sk IN (SELECT /*+ BROADCAST(store) */
         |   s_store_sk FROM ${P("store")}
         |   WHERE s_county IN ('Williamson County', 'Franklin Parish',
         |    'Bronx County', 'Orange County'))
         |  AND ss_hdemo_sk IN (SELECT /*+ BROADCAST(household_demographics) */
         |   hd_demo_sk FROM ${P("household_demographics")}
         |   WHERE hd_buy_potential IN ('>10000', 'Unknown')
         |    AND hd_vehicle_count > 0
         |    AND (CASE WHEN hd_vehicle_count > 0 THEN
         |      CAST(hd_dep_count AS DOUBLE) / hd_vehicle_count END) > 1.0)
         | GROUP BY ss_ticket_number, ss_customer_sk) dj
         |JOIN ${P("customer")} ON ss_customer_sk = c_customer_sk
         |WHERE cnt BETWEEN 1 AND 5""".stripMargin,
    // [Q-tpcds-q34] TPC-DS Q34: Q73's big-basket twin — customers with LARGE
    // tickets at the PUBLISHED 15–20 line bucket (genVersion 14's basket
    // pattern carries 15/16-line tickets; the v9 domain topped at 10) on
    // month-end shopping days, with the PUBLISHED household gate (dep/vehicle
    // ratio > 1.2).
    "q_tpcds_q34" ->
      s"""SELECT c_last_name, c_first_name, c_salutation,
         | c_preferred_cust_flag, ss_ticket_number, cnt
         |FROM (
         | SELECT /*+ BROADCAST(date_dim) */
         |  ss_ticket_number, ss_customer_sk, count(*) AS cnt
         | FROM ${P("store_sales")}
         | JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         | WHERE d_dom BETWEEN 25 AND 28
         |  AND ss_store_sk IN (SELECT /*+ BROADCAST(store) */
         |   s_store_sk FROM ${P("store")}
         |   WHERE s_county IN ('Walker County', 'Daviess County',
         |    'Barrow County', 'Luce County', 'Richland County'))
         |  AND ss_hdemo_sk IN (SELECT /*+ BROADCAST(household_demographics) */
         |   hd_demo_sk FROM ${P("household_demographics")}
         |   WHERE hd_buy_potential IN ('>10000', 'Unknown')
         |    AND hd_vehicle_count > 0
         |    AND (CASE WHEN hd_vehicle_count > 0 THEN
         |      CAST(hd_dep_count AS DOUBLE) / hd_vehicle_count END) > 1.2)
         | GROUP BY ss_ticket_number, ss_customer_sk) dj
         |JOIN ${P("customer")} ON ss_customer_sk = c_customer_sk
         |WHERE cnt BETWEEN 15 AND 20""".stripMargin,
    // [Q-tpcds-q37] TPC-DS Q37 shape: catalog items in a price/manufacturer
    // band that were WELL-STOCKED in a 60-day window and actually sold — the
    // PUBLISHED price band (68–98, real under v14's dsdgen-ceiling [0.09,
    // 99.99] price curve; the manufacturer IN-4 list stays a band adaptation —
    // 4 of 1000 manufacturers is empty at the 180-item gate) — item filtered
    // row-local, then two left-semi prunes: the inventory fact (date-window
    // broadcast, on-hand band) and the catalog fact.
    "q_tpcds_q37" ->
      s"""SELECT DISTINCT i_item_id, i_item_desc, i_current_price
         |FROM ${P("item")}
         |WHERE i_current_price BETWEEN 68 AND 98
         | AND i_manufact_id BETWEEN 1 AND 80
         | AND i_item_sk IN (
         |  SELECT /*+ BROADCAST(date_dim) */ inv_item_sk FROM ${P("inventory")}
         |  JOIN ${P("date_dim")} ON inv_date_sk = d_date_sk
         |  WHERE d_date BETWEEN DATE '2000-02-01' AND DATE '2000-04-01'
         |   AND inv_quantity_on_hand BETWEEN 100 AND 500)
         | AND i_item_sk IN (SELECT cs_item_sk FROM ${P("catalog_sales")})""".stripMargin,
    // [Q-tpcds-q82] TPC-DS Q82 shape: Q37's store twin — same gate family with
    // its own PUBLISHED price band (62–92), proven by store sales instead of
    // catalog.
    "q_tpcds_q82" ->
      s"""SELECT DISTINCT i_item_id, i_item_desc, i_current_price
         |FROM ${P("item")}
         |WHERE i_current_price BETWEEN 62 AND 92
         | AND i_manufact_id BETWEEN 400 AND 480
         | AND i_item_sk IN (
         |  SELECT /*+ BROADCAST(date_dim) */ inv_item_sk FROM ${P("inventory")}
         |  JOIN ${P("date_dim")} ON inv_date_sk = d_date_sk
         |  WHERE d_date BETWEEN DATE '2000-05-01' AND DATE '2000-06-30'
         |   AND inv_quantity_on_hand BETWEEN 100 AND 500)
         | AND i_item_sk IN (SELECT ss_item_sk FROM ${P("store_sales")})""".stripMargin,
    // [Q-tpcds-q96] TPC-DS Q96 shape: how many store lines sold in the
    // 20:30–21:00 slot to seven-dependent households at stores named 'ese' — a
    // pure three-broadcast-semi COUNT star, fully on the PUBLISHED predicates:
    // hd_dep_count = 7 (genVersion 10's 0..9 domain) and s_store_name = 'ese'
    // (genVersion 11's cyclic dsdgen syllable names guarantee the name exists
    // at every store count).
    "q_tpcds_q96" ->
      s"""SELECT count(*) AS cnt
         |FROM ${P("store_sales")}
         |WHERE ss_sold_time_sk IN (SELECT /*+ BROADCAST(time_dim) */
         | t_time_sk FROM ${P("time_dim")}
         |  WHERE t_hour = 20 AND t_minute >= 30)
         | AND ss_hdemo_sk IN (SELECT /*+ BROADCAST(household_demographics) */
         |  hd_demo_sk FROM ${P("household_demographics")}
         |  WHERE hd_dep_count = 7)
         | AND ss_store_sk IN (SELECT /*+ BROADCAST(store) */
         |  s_store_sk FROM ${P("store")}
         |  WHERE s_store_name = 'ese')""".stripMargin,
    // [Q-tpcds-q90] TPC-DS Q90 shape: the web morning/evening order ratio —
    // published as two correlated counting subqueries, computed here in ONE
    // fact pass with conditional counts over the two broadcast time bands (a
    // second scan would double the 100 TB cost for no semantic gain).
    "q_tpcds_q90" ->
      s"""SELECT CAST(amc AS DOUBLE) / CAST(pmc AS DOUBLE) AS am_pm_ratio
         |FROM (
         | SELECT /*+ BROADCAST(time_dim) */
         |  count(CASE WHEN t_hour BETWEEN 8 AND 9 THEN 1 END) AS amc,
         |  count(CASE WHEN t_hour BETWEEN 19 AND 20 THEN 1 END) AS pmc
         | FROM ${P("web_sales")}
         | JOIN ${P("time_dim")} ON ws_sold_time_sk = t_time_sk
         | WHERE ws_ship_hdemo_sk IN (SELECT /*+ BROADCAST(household_demographics) */
         |  hd_demo_sk
         |   FROM ${P("household_demographics")}
         |   WHERE hd_dep_count = 6)
         |  AND ws_web_page_sk IN (SELECT /*+ BROADCAST(web_page) */
         |   wp_web_page_sk FROM ${P("web_page")}))
         |WHERE pmc > 0""".stripMargin,
    // [Q-tpcds-q2] TPC-DS Q2 shape: Q59's week-over-year dow pivot, lifted to
    // the web + catalog UNION — weekly day-of-week revenue ratios between year
    // 2000 weeks and the same week one year (53 weeks) later.
    "q_tpcds_q2" ->
      s"""WITH u AS (
         | SELECT ws_sold_date_sk AS sold_date_sk,
         |  CAST(ws_ext_sales_price * 100 AS BIGINT) AS sales_price
         | FROM ${P("web_sales")}
         | UNION ALL
         | SELECT cs_sold_date_sk, CAST(cs_ext_sales_price * 100 AS BIGINT)
         | FROM ${P("catalog_sales")}),
         |wk AS (
         | SELECT /*+ BROADCAST(date_dim) */ d_week_seq,
         |  sum(CASE WHEN d_day_name = 'Sunday' THEN sales_price END) AS sun,
         |  sum(CASE WHEN d_day_name = 'Monday' THEN sales_price END) AS mon,
         |  sum(CASE WHEN d_day_name = 'Tuesday' THEN sales_price END) AS tue,
         |  sum(CASE WHEN d_day_name = 'Wednesday' THEN sales_price END) AS wed,
         |  sum(CASE WHEN d_day_name = 'Thursday' THEN sales_price END) AS thu,
         |  sum(CASE WHEN d_day_name = 'Friday' THEN sales_price END) AS fri,
         |  sum(CASE WHEN d_day_name = 'Saturday' THEN sales_price END) AS sat
         | FROM u JOIN ${P("date_dim")} ON sold_date_sk = d_date_sk
         | GROUP BY d_week_seq),
         |wk2000 AS (SELECT
         | DISTINCT d_week_seq AS wk FROM ${P("date_dim")}
         |  WHERE d_year = 2000)
         |SELECT y.d_week_seq AS week_seq,
         | CAST((y.sun * 200 + z.sun) $Div (z.sun * 2) AS DOUBLE) / 100.0 AS sun_r,
         | CAST((y.mon * 200 + z.mon) $Div (z.mon * 2) AS DOUBLE) / 100.0 AS mon_r,
         | CAST((y.tue * 200 + z.tue) $Div (z.tue * 2) AS DOUBLE) / 100.0 AS tue_r,
         | CAST((y.wed * 200 + z.wed) $Div (z.wed * 2) AS DOUBLE) / 100.0 AS wed_r,
         | CAST((y.thu * 200 + z.thu) $Div (z.thu * 2) AS DOUBLE) / 100.0 AS thu_r,
         | CAST((y.fri * 200 + z.fri) $Div (z.fri * 2) AS DOUBLE) / 100.0 AS fri_r,
         | CAST((y.sat * 200 + z.sat) $Div (z.sat * 2) AS DOUBLE) / 100.0 AS sat_r
         |FROM wk y JOIN wk z ON y.d_week_seq = z.d_week_seq - 53
         |WHERE y.d_week_seq IN (SELECT wk FROM wk2000)
         | AND z.d_week_seq IN (SELECT wk + 53 FROM wk2000)""".stripMargin,
    // [Q-tpcds-q54] TPC-DS Q54: revenue segmentation of cross-channel
    // prospects — customers who bought one category from catalog/web in the
    // PUBLISHED single month (Dec 2000 — the v10 holiday-window mass carries
    // ~100 prospects at sf0.01; the pre-round-10 quarter widening is no longer
    // needed), their store revenue over the PUBLISHED month_seq+1..+3 window
    // derived by the published nested scalar subqueries (the anchor month's
    // seq, exploded to the three following seqs, attaches to date_dim as a
    // broadcast equi-semi — keyed, never a nested-loop range join), counted at
    // stores sharing the customer's county AND state and histogrammed into $50
    // segments.
    "q_tpcds_q54" ->
      s"""WITH buyers AS (
         | SELECT /*+ BROADCAST(date_dim) */ DISTINCT customer_sk FROM (
         |  SELECT cs_sold_date_sk AS sold_date_sk,
         |   cs_bill_customer_sk AS customer_sk, cs_item_sk AS item_sk
         |  FROM ${P("catalog_sales")}
         |  UNION ALL
         |  SELECT ws_sold_date_sk, ws_bill_customer_sk, ws_item_sk
         |  FROM ${P("web_sales")}) u
         | JOIN ${P("date_dim")} ON sold_date_sk = d_date_sk
         | WHERE d_year = 2000 AND d_moy = 12 AND customer_sk IS NOT NULL
         |  AND item_sk IN (SELECT /*+ BROADCAST(item) */ i_item_sk FROM ${P("item")}
         |   WHERE i_category = 'Women')),
         |revenue AS (
         | SELECT /*+ BROADCAST(date_dim, store) */
         |  c_customer_sk, sum(ss_ext_sales_price) AS revenue
         | FROM ${P("store_sales")}
         | JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         | JOIN ${P("customer")} ON ss_customer_sk = c_customer_sk
         | JOIN ${P("customer_address")} ON c_current_addr_sk = ca_address_sk
         | JOIN ${P("store")} ON ca_county = s_county AND ca_state = s_state
         | WHERE d_month_seq BETWEEN (SELECT /*+ BROADCAST(date_dim) */
         |  DISTINCT d_month_seq + 1
         |    FROM ${P("date_dim")} WHERE d_year = 2000 AND d_moy = 12)
         |  AND (SELECT /*+ BROADCAST(date_dim) */ DISTINCT d_month_seq + 3
         |    FROM ${P("date_dim")} WHERE d_year = 2000 AND d_moy = 12)
         |  AND c_customer_sk IN (SELECT customer_sk FROM buyers)
         | GROUP BY c_customer_sk)
         |SELECT segment, count(*) AS num_customers, segment * 50 AS segment_base
         |FROM (SELECT CAST(floor(CAST(revenue AS DOUBLE) / 50) AS INT)
         |  AS segment FROM revenue) s
         |GROUP BY segment""".stripMargin,
    // [Q-tpcds-q39] TPC-DS Q39 shape: volatile inventory — (item, warehouse)
    // pairs whose on-hand quantity has coefficient of variation > 1 in BOTH of
    // two consecutive months.
    "q_tpcds_q39" ->
      s"""WITH agg AS (
         | SELECT /*+ BROADCAST(date_dim) */
         |  inv_item_sk, inv_warehouse_sk, d_moy, count(*) AS n,
         |  CAST(sum(CAST(inv_quantity_on_hand AS BIGINT)) AS BIGINT) AS s,
         |  CAST(sum(CAST(inv_quantity_on_hand AS BIGINT)
         |    * CAST(inv_quantity_on_hand AS BIGINT)) AS BIGINT) AS ss
         | FROM ${P("inventory")}
         | JOIN ${P("date_dim")} ON inv_date_sk = d_date_sk
         | WHERE d_year = 2000 AND inv_quantity_on_hand IS NOT NULL
         | GROUP BY inv_item_sk, inv_warehouse_sk, d_moy
         | HAVING count(*) >= 2 AND sum(inv_quantity_on_hand) > 0),
         |cov AS (
         | SELECT inv_item_sk, inv_warehouse_sk, d_moy,
         |  CAST(s AS DOUBLE) / n AS mean,
         |  sqrt(CAST(n * ss - s * s AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))
         |   / (CAST(s AS DOUBLE) / n) AS cov
         | FROM agg WHERE n * (n * ss - s * s) > (n - 1) * s * s)
         |SELECT m1.inv_item_sk, m1.inv_warehouse_sk,
         | m1.mean AS mean1, m1.cov AS cov1, m2.mean AS mean2, m2.cov AS cov2
         |FROM cov m1 JOIN cov m2
         | ON m1.inv_item_sk = m2.inv_item_sk
         | AND m1.inv_warehouse_sk = m2.inv_warehouse_sk
         |WHERE m1.d_moy = 1 AND m2.d_moy = 2""".stripMargin,
    "q_tpcds_q78" -> {
      def chan(fact: String, dateCol: String, custCol: String, ordCol: String,
               itemCol: String, qtyCol: String, wcCol: String, spCol: String,
               ret: String, rOrdCol: String, rItemCol: String, pfx: String) =
        s"""SELECT /*+ BROADCAST(date_dim) */
           | $custCol AS ${pfx}_customer_sk, $itemCol AS ${pfx}_item_sk,
           | CAST(sum($qtyCol) AS BIGINT) AS ${pfx}_qty,
           | sum($wcCol) AS ${pfx}_wc, sum($spCol) AS ${pfx}_sp
           |FROM ${P(fact)}
           |JOIN ${P("date_dim")} ON $dateCol = d_date_sk
           |LEFT JOIN ${P(ret)} ON $ordCol = $rOrdCol AND $itemCol = $rItemCol
           |WHERE d_year = 2000 AND $rOrdCol IS NULL AND $custCol IS NOT NULL
           |GROUP BY $custCol, $itemCol""".stripMargin
      s"""WITH ss AS (${chan("store_sales", "ss_sold_date_sk", "ss_customer_sk",
             "ss_ticket_number", "ss_item_sk", "ss_quantity",
             "ss_wholesale_cost", "ss_sales_price", "store_returns",
             "sr_ticket_number", "sr_item_sk", "ss")}),
         |ws AS (${chan("web_sales", "ws_sold_date_sk", "ws_bill_customer_sk",
             "ws_order_number", "ws_item_sk", "ws_quantity",
             "ws_wholesale_cost", "ws_sales_price", "web_returns",
             "wr_order_number", "wr_item_sk", "ws")}),
         |cs AS (${chan("catalog_sales", "cs_sold_date_sk",
             "cs_bill_customer_sk", "cs_order_number", "cs_item_sk",
             "cs_quantity", "cs_wholesale_cost", "cs_sales_price",
             "catalog_returns", "cr_order_number", "cr_item_sk", "cs")})
         |SELECT ss_customer_sk AS customer_sk, ss_item_sk AS item_sk,
         | CAST((ss_qty * 200 + (COALESCE(ws_qty, 0) + COALESCE(cs_qty, 0)))
         |   $Div ((COALESCE(ws_qty, 0) + COALESCE(cs_qty, 0)) * 2) AS DOUBLE)
         |  / 100.0 AS ratio,
         | ss_qty AS store_qty,
         | CAST(ss_wc AS DOUBLE) AS store_wholesale_cost,
         | CAST(ss_sp AS DOUBLE) AS store_sales_price,
         | COALESCE(ws_qty, 0) + COALESCE(cs_qty, 0) AS other_chan_qty,
         | CAST(COALESCE(ws_wc, 0) + COALESCE(cs_wc, 0) AS DOUBLE)
         |  AS other_chan_wholesale_cost,
         | CAST(COALESCE(ws_sp, 0) + COALESCE(cs_sp, 0) AS DOUBLE)
         |  AS other_chan_sales_price
         |FROM ss
         |LEFT JOIN ws ON ss_customer_sk = ws_customer_sk
         | AND ss_item_sk = ws_item_sk
         |LEFT JOIN cs ON ss_customer_sk = cs_customer_sk
         | AND ss_item_sk = cs_item_sk
         |WHERE COALESCE(ws_qty, 0) + COALESCE(cs_qty, 0) > 0""".stripMargin
    },
    // [Q-tpcds-q27] TPC-DS Q27: demographic item/state averages with subtotals
    // — the Q7 star under ROLLUP(i_item_id, s_state) plus the grouping() flag
    // that disambiguates rollup NULLs from data NULLs, gated on the PUBLISHED
    // s_state IN ('TN' ×6) store slice (structural since genVersion 15's
    // cyclic store-state roster).
    "q_tpcds_q27" ->
      s"""SELECT /*+ BROADCAST(date_dim, store, item) */
         | i_item_id, s_state, grouping(s_state) AS g_state,
         | CAST(sum(ss_quantity) AS DOUBLE) / count(ss_quantity)
         |  AS agg_ss_quantity,
         | CAST(sum(ss_list_price) AS DOUBLE) / count(ss_list_price)
         |  AS agg_ss_list_price,
         | CAST(sum(ss_coupon_amt) AS DOUBLE) / count(ss_coupon_amt)
         |  AS agg_ss_coupon_amt,
         | CAST(sum(ss_sales_price) AS DOUBLE) / count(ss_sales_price)
         |  AS agg_ss_sales_price
         |FROM ${P("store_sales")}
         |JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |JOIN ${P("store")} ON ss_store_sk = s_store_sk
         |JOIN ${P("item")} ON ss_item_sk = i_item_sk
         |WHERE d_year = 2000
         | AND s_state IN ('TN', 'TN', 'TN', 'TN', 'TN', 'TN')
         | AND ss_cdemo_sk IN (SELECT /*+ BROADCAST(customer_demographics) */
         |  cd_demo_sk FROM ${P("customer_demographics")}
         |  WHERE cd_gender = 'M' AND cd_marital_status = 'S'
         |   AND cd_education_status = 'College')
         |GROUP BY ROLLUP(i_item_id, s_state)""".stripMargin,
    // [Q-tpcds-q86] TPC-DS Q86 shape: web revenue by merchandise hierarchy
    // with subtotals AND a rank WITHIN each parent — ROLLUP(category, class),
    // lochierarchy = grouping(cat)+grouping(class), rank() partitioned by
    // (level, parent) ordered by the EXACT decimal sum descending
    // (bit-identical order key, so ranks cannot drift between engines; the
    // cast to DOUBLE happens after ranking).
    "q_tpcds_q86" ->
      s"""WITH agg AS (
         | SELECT /*+ BROADCAST(date_dim, item) */
         |  sum(ws_net_paid) AS s, i_category, i_class,
         |  grouping(i_category) + grouping(i_class) AS lochierarchy,
         |  grouping(i_class) AS g_class
         | FROM ${P("web_sales")}
         | JOIN ${P("date_dim")} ON ws_sold_date_sk = d_date_sk
         | JOIN ${P("item")} ON ws_item_sk = i_item_sk
         | WHERE d_year = 2000
         | GROUP BY ROLLUP(i_category, i_class))
         |SELECT CAST(s AS DOUBLE) AS total_sum, i_category, i_class,
         | lochierarchy,
         | rank() OVER (PARTITION BY lochierarchy,
         |   CASE WHEN g_class = 0 THEN i_category END
         |  ORDER BY s DESC NULLS LAST) AS rank_within_parent
         |FROM agg""".stripMargin,
    // [Q-tpcds-q70] TPC-DS Q70 shape: store profit by state/county rollup,
    // RESTRICTED to the top-5 profit states — the state cut is itself a rank
    // window over a state-grain pre-aggregate, semi-joined back (both sides of
    // the semi are ≤ |state domain| aggregate rows; the fact streams once per
    // pass through broadcasts).
    "q_tpcds_q70" ->
      s"""WITH base AS (
         | SELECT /*+ BROADCAST(date_dim, store) */ s_state, s_county, ss_net_profit
         | FROM ${P("store_sales")}
         | JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         | JOIN ${P("store")} ON ss_store_sk = s_store_sk
         | WHERE d_year = 2000),
         |top5 AS (
         | SELECT ts_state FROM (
         |  SELECT s_state AS ts_state,
         |   rank() OVER (ORDER BY sum(ss_net_profit) DESC NULLS LAST) AS r
         |  FROM base GROUP BY s_state) t
         | WHERE r <= 5),
         |agg AS (
         | SELECT sum(ss_net_profit) AS s, s_state, s_county,
         |  grouping(s_state) + grouping(s_county) AS lochierarchy,
         |  grouping(s_county) AS g_county
         | FROM base
         | WHERE s_state IN (SELECT ts_state FROM top5)
         | GROUP BY ROLLUP(s_state, s_county))
         |SELECT CAST(s AS DOUBLE) AS total_sum, s_state, s_county,
         | lochierarchy,
         | rank() OVER (PARTITION BY lochierarchy,
         |   CASE WHEN g_county = 0 THEN s_state END
         |  ORDER BY s DESC NULLS LAST) AS rank_within_parent
         |FROM agg""".stripMargin,
    // [Q-tpcds-q28] TPC-DS Q28 shape: the six quantity-band price profile —
    // per band: average list price, its count, and its DISTINCT count, under a
    // (list ∨ coupon ∨ wholesale) range disjunct.
    "q_tpcds_q28" -> {
      val bands = Seq((0, 5, 10, 40, 10), (6, 10, 40, 70, 20),
        (11, 15, 70, 100, 30), (16, 20, 100, 130, 40),
        (21, 25, 130, 160, 50), (26, 30, 160, 190, 60))
      val cols = bands.zipWithIndex.map { case ((qLo, qHi, pLo, pHi, cLo), i) =>
        val cond = s"ss_quantity BETWEEN $qLo AND $qHi AND " +
          s"(ss_list_price BETWEEN $pLo AND $pHi " +
          s"OR ss_coupon_amt BETWEEN $cLo AND ${cLo + 1000} " +
          s"OR ss_wholesale_cost BETWEEN ${pLo / 2} AND ${pLo / 2 + 40})"
        val v = s"CASE WHEN $cond THEN ss_list_price END"
        s""" CAST(sum($v) AS DOUBLE) / count($v) AS b${i + 1}_lp,
           | count($v) AS b${i + 1}_cnt,
           | count(DISTINCT $v) AS b${i + 1}_cntd""".stripMargin
      }.mkString(",\n")
      s"SELECT\n$cols\nFROM ${P("store_sales")}"
    },
    // [Q-tpcds-q9] TPC-DS Q9 shape: five CASE buckets choosing between two
    // averages by a row-count threshold — the published 15 correlated
    // scalar subqueries over store_sales collapse into ONE fact pass
    // (per-band count + both candidate averages as conditional
    // aggregates), then a projection CASEs each bucket. Thresholds adapted
    // to the generated scale; both engines decide each CASE from the same
    // exact counts. The reason-table row-1 anchor is kept (reference
    // parity); its comma join with the 1-row aggregate is a broadcast hash
    // join under SingleRowAttach.
    "q_tpcds_q9" -> {
      val bands = Seq((1, 20), (21, 40), (41, 60), (61, 80), (81, 100))
      val inner = bands.zipWithIndex.map { case ((lo, hi), i) =>
        val in = s"ss_quantity BETWEEN $lo AND $hi"
        s""" count(CASE WHEN $in THEN 1 END) AS c$i,
           | CAST(sum(CASE WHEN $in THEN ss_ext_discount_amt END) AS DOUBLE)
           |  / count(CASE WHEN $in THEN ss_ext_discount_amt END) AS d$i,
           | CAST(sum(CASE WHEN $in THEN ss_net_paid END) AS DOUBLE)
           |  / count(CASE WHEN $in THEN ss_net_paid END) AS n$i""".stripMargin
      }.mkString(",\n")
      val buckets = bands.indices.map { i =>
        s"CASE WHEN c$i > 5800 THEN d$i ELSE n$i END AS bucket${i + 1}"
      }.mkString(",\n ")
      s"""SELECT /*+ BROADCAST(reason) */ $buckets
         |FROM (SELECT\n$inner\nFROM ${P("store_sales")}) p, ${P("reason")}
         |WHERE r_reason_sk = 1""".stripMargin
    },
    // [Q-tpcds-q38] TPC-DS Q38 shape: customers active in ALL THREE channels
    // in one year — tuple-grain INTERSECT (distinct semantics) over (last,
    // first) name pairs, counted.
    "q_tpcds_q38" -> {
      def chan(fact: String, dateCol: String, custCol: String) =
        s"""SELECT /*+ BROADCAST(date_dim) */ DISTINCT c_last_name, c_first_name
           |FROM ${P(fact)}
           |JOIN ${P("date_dim")} ON $dateCol = d_date_sk
           |JOIN ${P("customer")} ON $custCol = c_customer_sk
           |WHERE d_year = 2000""".stripMargin
      s"""SELECT count(*) AS cnt FROM (
         |${chan("store_sales", "ss_sold_date_sk", "ss_customer_sk")}
         |INTERSECT
         |${chan("catalog_sales", "cs_sold_date_sk", "cs_bill_customer_sk")}
         |INTERSECT
         |${chan("web_sales", "ws_sold_date_sk", "ws_bill_customer_sk")}) h""".stripMargin
    },
    // [Q-tpcds-q87] TPC-DS Q87 shape: Q38's complement — store customers who
    // used NEITHER other channel that year, via tuple-grain EXCEPT (distinct
    // semantics), counted.
    "q_tpcds_q87" -> {
      def chan(fact: String, dateCol: String, custCol: String) =
        s"""SELECT /*+ BROADCAST(date_dim) */ DISTINCT c_last_name, c_first_name
           |FROM ${P(fact)}
           |JOIN ${P("date_dim")} ON $dateCol = d_date_sk
           |JOIN ${P("customer")} ON $custCol = c_customer_sk
           |WHERE d_year = 2000""".stripMargin
      s"""SELECT count(*) AS cnt FROM (
         |${chan("store_sales", "ss_sold_date_sk", "ss_customer_sk")}
         |EXCEPT
         |${chan("catalog_sales", "cs_sold_date_sk", "cs_bill_customer_sk")}
         |EXCEPT
         |${chan("web_sales", "ws_sold_date_sk", "ws_bill_customer_sk")}) h""".stripMargin
    },
    // [Q-tpcds-q50] TPC-DS Q50 shape: the sale-to-return latency ladder —
    // returns joined back to their sale on the (ticket, item, customer) key,
    // bucketed by days between sold and returned date (30/60/90/120/ over),
    // counted per store.
    "q_tpcds_q50" ->
      s"""SELECT /*+ BROADCAST(date_dim, store) */ s_store_name, s_company_id,
         | count(CASE WHEN sr_returned_date_sk - ss_sold_date_sk <= 30
         |   THEN 1 END) AS d30,
         | count(CASE WHEN sr_returned_date_sk - ss_sold_date_sk > 30
         |   AND sr_returned_date_sk - ss_sold_date_sk <= 60 THEN 1 END)
         |  AS d31_60,
         | count(CASE WHEN sr_returned_date_sk - ss_sold_date_sk > 60
         |   AND sr_returned_date_sk - ss_sold_date_sk <= 90 THEN 1 END)
         |  AS d61_90,
         | count(CASE WHEN sr_returned_date_sk - ss_sold_date_sk > 90
         |   AND sr_returned_date_sk - ss_sold_date_sk <= 120 THEN 1 END)
         |  AS d91_120,
         | count(CASE WHEN sr_returned_date_sk - ss_sold_date_sk > 120
         |   THEN 1 END) AS d_over_120
         |FROM ${P("store_sales")}
         |JOIN ${P("store_returns")}
         | ON ss_ticket_number = sr_ticket_number AND ss_item_sk = sr_item_sk
         | AND ss_customer_sk = sr_customer_sk
         |JOIN ${P("date_dim")} ON sr_returned_date_sk = d_date_sk
         |JOIN ${P("store")} ON ss_store_sk = s_store_sk
         |WHERE d_year = 2000 AND d_moy = 9
         |GROUP BY s_store_name, s_company_id""".stripMargin,
    // [Q-tpcds-q97] TPC-DS Q97: store/catalog audience overlap at the
    // PUBLISHED (customer, item) pair grain — the v10 seasonal sold-date
    // concentration makes the cross-channel pair intersection real (~86 pairs
    // in the window at sf0.01), so the published full-outer join on both keys
    // and its three CASE-counted buckets run as written (data- null customer
    // keys fall into no bucket, exactly as published).
    "q_tpcds_q97" ->
      s"""WITH sc AS (SELECT /*+ BROADCAST(date_dim) */
         | DISTINCT ss_customer_sk AS c, ss_item_sk AS i
         |  FROM ${P("store_sales")}
         |  JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |  WHERE d_year = 2000),
         |cc AS (SELECT /*+ BROADCAST(date_dim) */
         | DISTINCT cs_bill_customer_sk AS c, cs_item_sk AS i
         |  FROM ${P("catalog_sales")}
         |  JOIN ${P("date_dim")} ON cs_sold_date_sk = d_date_sk
         |  WHERE d_year = 2000)
         |SELECT
         | count(CASE WHEN sc.c IS NOT NULL AND cc.c IS NOT NULL THEN 1 END)
         |  AS store_and_catalog,
         | count(CASE WHEN sc.c IS NOT NULL AND cc.c IS NULL THEN 1 END)
         |  AS store_only,
         | count(CASE WHEN sc.c IS NULL AND cc.c IS NOT NULL THEN 1 END)
         |  AS catalog_only
         |FROM sc FULL OUTER JOIN cc ON sc.c = cc.c AND sc.i = cc.i""".stripMargin,
    // [Q-tpcds-q76] TPC-DS Q76 shape: the null-FK audit — lines of all three
    // channels whose channel-specific FK is NULL (the generator's ~5%
    // basket-coherent null draws), rolled up by channel, year, quarter and
    // category.
    "q_tpcds_q76" -> {
      def chan(fact: String, channel: String, nullCol: String, dateCol: String,
               itemCol: String, amtCol: String) =
        s"""SELECT /*+ BROADCAST(date_dim, item) */
           | '$channel' AS channel, '$nullCol' AS col_name,
           | d_year, d_qoy, i_category, $amtCol AS ext_sales_price
           |FROM ${P(fact)}
           |JOIN ${P("date_dim")} ON $dateCol = d_date_sk
           |JOIN ${P("item")} ON $itemCol = i_item_sk
           |WHERE $nullCol IS NULL""".stripMargin
      s"""SELECT channel, col_name, d_year, d_qoy, i_category,
         | count(*) AS sales_cnt,
         | CAST(sum(ext_sales_price) AS DOUBLE) AS sales_amt
         |FROM (
         |${chan("store_sales", "store", "ss_store_sk", "ss_sold_date_sk",
             "ss_item_sk", "ss_ext_sales_price")}
         |UNION ALL
         |${chan("web_sales", "web", "ws_ship_customer_sk", "ws_sold_date_sk",
             "ws_item_sk", "ws_ext_sales_price")}
         |UNION ALL
         |${chan("catalog_sales", "catalog", "cs_ship_addr_sk",
             "cs_sold_date_sk", "cs_item_sk", "cs_ext_sales_price")}) u
         |GROUP BY channel, col_name, d_year, d_qoy, i_category""".stripMargin
    },
    // [Q-tpcds-q16] TPC-DS Q16 shape: catalog orders shipped to one state in a
    // 60-day window that used MORE THAN ONE warehouse and were never returned
    // — the correlated EXISTS collapses to a per-order distinct- warehouse
    // aggregate semi-join (Q95's decorrelation, catalog side), the NOT EXISTS
    // to an anti join on the order key; one distinct-order count + two money
    // sums.
    "q_tpcds_q16" ->
      s"""SELECT /*+ BROADCAST(date_dim) */
         | count(DISTINCT cs_order_number) AS order_count,
         | CAST(sum(cs_ext_ship_cost) AS DOUBLE) AS total_shipping_cost,
         | CAST(sum(cs_net_profit) AS DOUBLE) AS total_net_profit
         |FROM ${P("catalog_sales")} cs1
         |JOIN ${P("date_dim")} ON cs_ship_date_sk = d_date_sk
         |WHERE d_date BETWEEN DATE '2000-03-01' AND DATE '2000-04-30'
         | AND cs_ship_addr_sk IN (SELECT ca_address_sk
         |  FROM ${P("customer_address")} WHERE ca_state = 'GA')
         | AND cs_call_center_sk IN (SELECT /*+ BROADCAST(call_center) */
         |  cc_call_center_sk
         |  FROM ${P("call_center")}
         |  WHERE cc_county IN ('Williamson County', 'Williamson County',
         |   'Williamson County', 'Williamson County', 'Williamson County'))
         | AND cs_order_number IN (SELECT cs_order_number
         |  FROM ${P("catalog_sales")} GROUP BY cs_order_number
         |  HAVING count(DISTINCT cs_warehouse_sk) > 1)
         | AND cs_order_number NOT IN (SELECT cr_order_number
         |  FROM ${P("catalog_returns")})""".stripMargin,
    // [Q-tpcds-q44] TPC-DS Q44 shape: one store's ten BEST and ten WORST
    // items by average net profit, side by side — per-item averages above
    // 0.9× the store's null-address baseline average (the published
    // scalar; its comma join keeps the cut as the residual of a broadcast
    // hash join under SingleRowAttach), ranked both directions over the
    // same exact-sum average (bit-identical rank key), then the two top-10
    // lists join on rank and pick up item names from the broadcast dim.
    // Profit is summed as exact integer cents; the cut cross-multiplies by
    // the counts (sign-safe for negative profit). All ranking runs over
    // the per-item AGGREGATE (≤ |item| rows for one store), and Spark 4
    // pushes each rank filter into WindowGroupLimit, so the single-
    // partition exchange carries ≤ 10·P rows.
    "q_tpcds_q44" ->
      s"""WITH base AS (
         |  SELECT ss_item_sk, ss_addr_sk,
         |    CAST(ss_net_profit * 100 AS BIGINT) AS np_c
         |  FROM ${P("store_sales")} WHERE ss_store_sk = 4),
         |thr AS (
         |  SELECT sum(np_c) AS bsum_c, count(np_c) AS bcnt
         |  FROM base WHERE ss_addr_sk IS NULL),
         |flt AS (
         |  SELECT item_sk, CAST(sum_c AS DOUBLE) / cnt AS rank_col FROM (
         |    SELECT ss_item_sk AS item_sk, sum(np_c) AS sum_c,
         |      count(np_c) AS cnt
         |    FROM base GROUP BY ss_item_sk) q, thr
         |  WHERE sum_c * bcnt * 10 > bsum_c * cnt * 9),
         |a AS (SELECT item_sk, rank() OVER (ORDER BY rank_col ASC) AS rnk
         |      FROM flt),
         |d AS (SELECT item_sk, rank() OVER (ORDER BY rank_col DESC) AS rnk
         |      FROM flt)
         |SELECT /*+ BROADCAST(i1, i2) */
         | a.rnk AS rnk, i1.i_product_name AS best_performing,
         |       i2.i_product_name AS worst_performing
         |FROM a JOIN d ON a.rnk = d.rnk
         |JOIN ${P("item")} i1 ON a.item_sk = i1.i_item_sk
         |JOIN ${P("item")} i2 ON d.item_sk = i2.i_item_sk
         |WHERE a.rnk < 11""".stripMargin,
    // [Q-tpcds-q40] TPC-DS Q40 shape: catalog revenue net of refunds by
    // warehouse state and item, split BEFORE/AFTER a pivot date — the returns
    // fact LEFT-joins on the (order, item) PK, refunds subtract in exact
    // DECIMAL, and the date split is conditional aggregation over the
    // broadcast ±30-day window.
    "q_tpcds_q40" ->
      s"""SELECT /*+ BROADCAST(date_dim, item, warehouse) */ w_state, i_item_id,
         | CAST(sum(CASE WHEN d_date < DATE '2000-03-11'
         |   THEN cs_sales_price - COALESCE(cr_refunded_cash, 0)
         |   ELSE 0 END) AS DOUBLE) AS sales_before,
         | CAST(sum(CASE WHEN d_date >= DATE '2000-03-11'
         |   THEN cs_sales_price - COALESCE(cr_refunded_cash, 0)
         |   ELSE 0 END) AS DOUBLE) AS sales_after
         |FROM ${P("catalog_sales")}
         |LEFT JOIN ${P("catalog_returns")}
         |  ON cs_order_number = cr_order_number AND cs_item_sk = cr_item_sk
         |JOIN ${P("date_dim")} ON cs_sold_date_sk = d_date_sk
         |JOIN ${P("item")} ON cs_item_sk = i_item_sk
         |JOIN ${P("warehouse")} ON cs_warehouse_sk = w_warehouse_sk
         |WHERE d_date BETWEEN DATE '2000-02-10' AND DATE '2000-04-10'
         |  AND i_current_price BETWEEN 0.99 AND 4.99
         |GROUP BY w_state, i_item_id""".stripMargin,
    // [Q-tpcds-q41] TPC-DS Q41 shape: a DIMENSION-ONLY query — product names
    // of a manufacturer band where the same manufacturer also makes an item
    // matching a color/size disjunct; the published correlated
    // per-manufacturer count decorrelates to a distinct qualifying-
    // manufacturer set semi-joined back to the item dim.
    "q_tpcds_q41" ->
      s"""SELECT /*+ BROADCAST(item) */ DISTINCT i_product_name
         |FROM ${P("item")}
         |WHERE i_manufact_id BETWEEN 1 AND 400
         |  AND i_manufact IN (
         |   SELECT /*+ BROADCAST(item) */ i_manufact FROM ${P("item")}
         |   WHERE (i_color IN ('powder','khaki','orchid','firebrick')
         |          AND i_size IN ('petite','small','medium'))
         |      OR (i_color IN ('rose','metallic','chiffon','gainsboro')
         |          AND i_size IN ('large','extra large','economy')))""".stripMargin,
    // ---- sf1-pinned PUBLISHED-form proof twins (paths via Pp, not P) ----
    // [Q-tpcds-q38-pub] Q38's PUBLISHED form — the (name, d_date) DAY grain
    // over the published 12-month d_month_seq window (1200–1211, calendar
    // 2000) — proven at the pinned sf1 scale.
    "q_tpcds_q38_pub" -> {
      def chan(fact: String, dateCol: String, custCol: String) =
        s"""SELECT /*+ BROADCAST(date_dim) */ DISTINCT c_last_name, c_first_name, d_date
           |FROM ${Pp(fact)}
           |JOIN ${Pp("date_dim")} ON $dateCol = d_date_sk
           |JOIN ${Pp("customer")} ON $custCol = c_customer_sk
           |WHERE d_month_seq BETWEEN 1200 AND 1211""".stripMargin
      s"""SELECT count(*) AS cnt FROM (
         |${chan("store_sales", "ss_sold_date_sk", "ss_customer_sk")}
         |INTERSECT
         |${chan("catalog_sales", "cs_sold_date_sk", "cs_bill_customer_sk")}
         |INTERSECT
         |${chan("web_sales", "ws_sold_date_sk", "ws_bill_customer_sk")}) h""".stripMargin
    },
    // [Q-tpcds-q13-pub] Q13's PUBLISHED predicates — the qualification
    // marital×education arms WITH their published 50-wide sales-price bands
    // (100–150 / 50–100 / 150–200), the published state triples (TX,OH,TX /
    // OR,NM,KY / VA,TX,MS) with their published profit bands, the published
    // ca_country gate, and the published d_year 2001 — proven at the pinned
    // sf1 scale where the committed probe measures the joint at 4 store lines
    // (0 at sf0.01 and sf0.1; the adapted bands exist only so the gate-scale
    // profile is non-degenerate).
    "q_tpcds_q13_pub" ->
      s"""SELECT /*+ BROADCAST(date_dim, store, customer_demographics, household_demographics) */
         | CAST(sum(ss_quantity) AS DOUBLE) / count(ss_quantity) AS avg_qty,
         | CAST(sum(ss_ext_sales_price) AS DOUBLE) / count(ss_ext_sales_price)
         |  AS avg_ext_price,
         | CAST(sum(ss_ext_wholesale_cost) AS DOUBLE)
         |  / count(ss_ext_wholesale_cost) AS avg_whl,
         | CAST(sum(ss_ext_wholesale_cost) AS DOUBLE) AS sum_whl
         |FROM ${Pp("store_sales")}
         |JOIN ${Pp("date_dim")} ON ss_sold_date_sk = d_date_sk
         |JOIN ${Pp("store")} ON ss_store_sk = s_store_sk
         |JOIN ${Pp("customer_demographics")} ON ss_cdemo_sk = cd_demo_sk
         |JOIN ${Pp("household_demographics")} ON ss_hdemo_sk = hd_demo_sk
         |JOIN ${Pp("customer_address")} ON ss_addr_sk = ca_address_sk
         |WHERE d_year = 2001
         | AND ((cd_marital_status = 'M' AND cd_education_status = 'Advanced Degree'
         |   AND ss_sales_price BETWEEN 100 AND 150 AND hd_dep_count = 3)
         |  OR (cd_marital_status = 'S' AND cd_education_status = 'College'
         |   AND ss_sales_price BETWEEN 50 AND 100 AND hd_dep_count = 1)
         |  OR (cd_marital_status = 'W' AND cd_education_status = '2 yr Degree'
         |   AND ss_sales_price BETWEEN 150 AND 200 AND hd_dep_count = 1))
         | AND ca_country = 'United States'
         | AND ((ca_state IN ('TX', 'OH') AND ss_net_profit BETWEEN 100 AND 200)
         |  OR (ca_state IN ('OR', 'NM', 'KY') AND ss_net_profit BETWEEN 150 AND 300)
         |  OR (ca_state IN ('VA', 'TX', 'MS') AND ss_net_profit BETWEEN 50 AND 250))""".stripMargin,
    // [Q-tpcds-q41-pub] Q41's FULL PUBLISHED form — the 40-wide manufact band
    // (738–778) and all EIGHT published arms with every published gate:
    // category, color pair, i_units pair AND size pair — proven at the pinned
    // sf1 scale (8 product names from 10 qualifying items / 10 qualifying
    // manufacturers, committed r14 probe at genVersion 20; the 2000-row sf0.01
    // item table holds only 9 band items → 0 names).
    "q_tpcds_q41_pub" ->
      s"""SELECT /*+ BROADCAST(item) */ DISTINCT i_product_name
         |FROM ${Pp("item")}
         |WHERE i_manufact_id BETWEEN 738 AND 778
         |  AND i_manufact IN (
         |   SELECT /*+ BROADCAST(item) */ i_manufact FROM ${Pp("item")}
         |   WHERE (i_category = 'Women' AND i_color IN ('powder','khaki')
         |          AND i_units IN ('Ounce','Oz')
         |          AND i_size IN ('medium','extra large'))
         |      OR (i_category = 'Women' AND i_color IN ('brown','honeydew')
         |          AND i_units IN ('Bunch','Ton')
         |          AND i_size IN ('N/A','small'))
         |      OR (i_category = 'Men' AND i_color IN ('floral','deep')
         |          AND i_units IN ('N/A','Dozen')
         |          AND i_size IN ('petite','large'))
         |      OR (i_category = 'Men' AND i_color IN ('light','cornflower')
         |          AND i_units IN ('Box','Pound')
         |          AND i_size IN ('medium','extra large'))
         |      OR (i_category = 'Women' AND i_color IN ('midnight','snow')
         |          AND i_units IN ('Pallet','Gross')
         |          AND i_size IN ('medium','extra large'))
         |      OR (i_category = 'Women' AND i_color IN ('cyan','papaya')
         |          AND i_units IN ('Cup','Dram')
         |          AND i_size IN ('N/A','small'))
         |      OR (i_category = 'Men' AND i_color IN ('orange','frosted')
         |          AND i_units IN ('Each','Tbl')
         |          AND i_size IN ('petite','large'))
         |      OR (i_category = 'Men' AND i_color IN ('forest','ghost')
         |          AND i_units IN ('Lb','Bundle')
         |          AND i_size IN ('medium','extra large')))""".stripMargin,
    // [Q-tpcds-q24-pub] Q24's PUBLISHED single-color iteration ('pale'),
    // proven at the pinned sf1 scale where the committed density probe
    // measures it non-empty (49 rows end-to-end at sf1, 431 at sf10; 0 at the
    // sf0.01 gate — 'pale' holds ~2 items there).
    "q_tpcds_q24_pub" ->
      s"""WITH ssales AS (
         | SELECT /*+ BROADCAST(store, item) */
         |  c_last_name, c_first_name, s_store_name, ca_state, s_state,
         |  i_color, i_current_price, i_manager_id, i_units, i_size,
         |  sum(ss_net_paid) AS netpaid
         | FROM ${Pp("store_sales")}
         | JOIN ${Pp("store_returns")} ON ss_ticket_number = sr_ticket_number
         |  AND ss_item_sk = sr_item_sk
         | JOIN ${Pp("store")} ON ss_store_sk = s_store_sk
         | JOIN ${Pp("customer")} ON ss_customer_sk = c_customer_sk
         | JOIN ${Pp("customer_address")} ON c_current_addr_sk = ca_address_sk
         | JOIN ${Pp("item")} ON ss_item_sk = i_item_sk
         | WHERE s_market_id BETWEEN 1 AND 5000
         |  AND c_birth_country <> upper(ca_country)
         |  AND s_zip = ca_zip
         | GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10)
         |SELECT c_last_name, c_first_name, s_store_name,
         | CAST(sum(netpaid) AS DOUBLE) AS paid
         |FROM ssales
         |WHERE i_color = 'pale'
         |GROUP BY 1, 2, 3
         |HAVING CAST(sum(netpaid) AS DOUBLE) >
         | (SELECT 0.05 * (CAST(sum(netpaid) AS DOUBLE) / count(*))
         |  FROM ssales)""".stripMargin,
    // Staged MATERIALIZED CTEs, unlike the sf0.01 q_tpcds_q64 oracle: at
    // sf1 DuckDB's join-order pick for the inlined 17-join + IN-subquery
    // form ran away (>170 CPU-min, 87 GB RSS, killed — measured r13);
    // materializing the ~26-item slice, the slice-pruned csui (identical
    // semantics: csui only gates items already in the slice) and the
    // selective fact core first makes the same query 0.7 s. Join staging
    // over INNER many-to-one lookups is order-independent, so the result
    // is the published one.
    // [Q-tpcds-q64-pub] Q64's PUBLISHED slice — the six published colors and
    // the published $35–45 price band — proven at the pinned sf1 scale where
    // the committed density probe measures it real (111 items / 130
    // repeat-sale pairs at sf1, 1019/1061 at sf10, 0 at the sf0.01 gate:
    // expected ≈0.7 items on a 2000-row item table).
    "q_tpcds_q64_pub" ->
      s"""WITH islice AS ${M}(
         | SELECT i_item_sk, i_product_name FROM ${Pp("item")}
         | WHERE i_color IN ('purple', 'burlywood', 'indian', 'spring',
         |   'floral', 'medium')
         |  AND i_current_price BETWEEN 35 AND 45),
         |csui AS ${M}(
         | SELECT cs_item_sk FROM ${Pp("catalog_sales")}
         | JOIN islice ON cs_item_sk = i_item_sk
         | JOIN ${Pp("catalog_returns")} ON cs_order_number = cr_order_number
         |  AND cs_item_sk = cr_item_sk
         | GROUP BY cs_item_sk
         | HAVING sum(cs_ext_list_price) >
         |  2 * sum(cr_refunded_cash + cr_reversed_charge + cr_store_credit)),
         |core AS ${M}(
         | SELECT /*+ BROADCAST(d1) */
         |  ss_item_sk, ss_customer_sk, ss_cdemo_sk, ss_hdemo_sk,
         |  ss_addr_sk, ss_promo_sk, ss_store_sk, d1.d_year AS syear,
         |  ss_wholesale_cost, ss_list_price, ss_coupon_amt, i_product_name
         | FROM ${Pp("store_sales")}
         | JOIN ${Pp("store_returns")} ON ss_ticket_number = sr_ticket_number
         |  AND ss_item_sk = sr_item_sk
         | JOIN islice ON ss_item_sk = i_item_sk
         | JOIN csui ON ss_item_sk = cs_item_sk
         | JOIN ${Pp("date_dim")} d1 ON ss_sold_date_sk = d1.d_date_sk
         | WHERE d1.d_year IN (1999, 2000)),
         |cs AS ${M}(
         | SELECT /*+ BROADCAST(cd1, cd2, promotion, d2, d3, store) */
         |  i_product_name AS product_name, ss_item_sk AS item_sk,
         |  s_store_name AS store_name, s_zip AS store_zip,
         |  ad1.ca_street_number AS b_street_number,
         |  ad1.ca_street_name AS b_street_name,
         |  ad1.ca_city AS b_city, ad1.ca_zip AS b_zip,
         |  ad2.ca_street_number AS c_street_number,
         |  ad2.ca_street_name AS c_street_name,
         |  ad2.ca_city AS c_city, ad2.ca_zip AS c_zip,
         |  syear, d2.d_year AS fsyear, d3.d_year AS s2year,
         |  count(*) AS cnt, sum(ss_wholesale_cost) AS s1,
         |  sum(ss_list_price) AS s2, sum(ss_coupon_amt) AS s3
         | FROM core
         | JOIN ${Pp("customer")} ON ss_customer_sk = c_customer_sk
         | JOIN ${Pp("customer_demographics")} cd1 ON ss_cdemo_sk = cd1.cd_demo_sk
         | JOIN ${Pp("customer_demographics")} cd2
         |  ON c_current_cdemo_sk = cd2.cd_demo_sk
         | JOIN ${Pp("household_demographics")} hd1 ON ss_hdemo_sk = hd1.hd_demo_sk
         | JOIN ${Pp("income_band")} ib1
         |  ON hd1.hd_income_band_sk = ib1.ib_income_band_sk
         | JOIN ${Pp("household_demographics")} hd2
         |  ON c_current_hdemo_sk = hd2.hd_demo_sk
         | JOIN ${Pp("income_band")} ib2
         |  ON hd2.hd_income_band_sk = ib2.ib_income_band_sk
         | JOIN ${Pp("promotion")} ON ss_promo_sk = p_promo_sk
         | JOIN ${Pp("date_dim")} d2 ON c_first_sales_date_sk = d2.d_date_sk
         | JOIN ${Pp("date_dim")} d3 ON c_first_shipto_date_sk = d3.d_date_sk
         | JOIN ${Pp("customer_address")} ad1 ON ss_addr_sk = ad1.ca_address_sk
         | JOIN ${Pp("customer_address")} ad2
         |  ON c_current_addr_sk = ad2.ca_address_sk
         | JOIN ${Pp("store")} ON ss_store_sk = s_store_sk
         | WHERE cd1.cd_marital_status <> cd2.cd_marital_status
         | GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
         |SELECT cs1.product_name, cs1.store_name, cs1.store_zip,
         | cs1.b_street_number, cs1.b_street_name, cs1.b_city, cs1.b_zip,
         | cs1.c_street_number, cs1.c_street_name, cs1.c_city, cs1.c_zip,
         | cs1.syear AS syear1, cs1.cnt AS cnt1,
         | CAST(cs1.s1 AS DOUBLE) AS s11, CAST(cs1.s2 AS DOUBLE) AS s21,
         | CAST(cs1.s3 AS DOUBLE) AS s31,
         | CAST(cs2.s1 AS DOUBLE) AS s12, CAST(cs2.s2 AS DOUBLE) AS s22,
         | CAST(cs2.s3 AS DOUBLE) AS s32,
         | cs2.syear AS syear2, cs2.cnt AS cnt2
         |FROM cs cs1
         |JOIN cs cs2 ON cs1.item_sk = cs2.item_sk
         | AND cs1.store_name = cs2.store_name
         | AND cs1.store_zip = cs2.store_zip
         |WHERE cs1.syear = 1999 AND cs2.syear = 2000
         | AND cs2.cnt <= cs1.cnt""".stripMargin,
    // [Q-tpcds-q12] TPC-DS Q12 shape: Q98's class-share report on the WEB
    // channel over the published 30-day window.
    "q_tpcds_q12" -> classShareOracle(d, "web_sales", "ws_sold_date_sk",
      "ws_item_sk", "ws_ext_sales_price"),
    // [Q-tpcds-q20] TPC-DS Q20 shape: Q98's class-share report on the CATALOG
    // channel over the published 30-day window.
    "q_tpcds_q20" -> classShareOracle(d, "catalog_sales", "cs_sold_date_sk",
      "cs_item_sk", "cs_ext_sales_price"),
    // [Q-tpcds-q92] TPC-DS Q92 shape: web-channel excess discount — Q32's
    // decorrelation on web_sales (per-item 1.3× average threshold attached by
    // a keyed join, never a correlated rescan), manufacturer band shifted to
    // keep the twin distinct from Q32's.
    "q_tpcds_q92" ->
      s"""WITH ws AS (
         | SELECT /*+ BROADCAST(date_dim) */ ws_item_sk,
         |  CAST(ws_ext_discount_amt * 100 AS BIGINT) AS amt_c
         | FROM ${P("web_sales")}
         | JOIN ${P("date_dim")} ON ws_sold_date_sk = d_date_sk
         | WHERE d_date BETWEEN DATE '2000-01-27' AND DATE '2000-04-26'),
         |thr AS (
         | SELECT ws_item_sk AS t_item, sum(amt_c) AS tot_c,
         |  count(amt_c) AS cnt
         | FROM ws GROUP BY ws_item_sk)
         |SELECT CAST(sum(amt_c) AS DOUBLE) / 100.0 AS excess_discount
         |FROM ws JOIN thr ON ws_item_sk = t_item
         |WHERE amt_c * cnt * 10 > tot_c * 13
         | AND ws_item_sk IN (SELECT /*+ BROADCAST(item) */ i_item_sk FROM ${P("item")}
         |  WHERE i_manufact_id BETWEEN 300 AND 400)""".stripMargin,
    // [Q-tpcds-q62] TPC-DS Q62 shape: web shipping-latency buckets — Q99's
    // day-bucket ladder on web_sales, grouped by warehouse prefix, ship mode,
    // and web site name.
    "q_tpcds_q62" ->
      s"""SELECT /*+ BROADCAST(date_dim, warehouse, ship_mode, web_site) */
         | substr(w_warehouse_name, 1, 20) AS wh, sm_type, web_name,
         | CAST(sum(CASE WHEN ws_ship_date_sk - ws_sold_date_sk <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
         | CAST(sum(CASE WHEN ws_ship_date_sk - ws_sold_date_sk > 30
         |   AND ws_ship_date_sk - ws_sold_date_sk <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
         | CAST(sum(CASE WHEN ws_ship_date_sk - ws_sold_date_sk > 60
         |   AND ws_ship_date_sk - ws_sold_date_sk <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
         | CAST(sum(CASE WHEN ws_ship_date_sk - ws_sold_date_sk > 90
         |   AND ws_ship_date_sk - ws_sold_date_sk <= 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120,
         | CAST(sum(CASE WHEN ws_ship_date_sk - ws_sold_date_sk > 120 THEN 1 ELSE 0 END) AS BIGINT) AS dmore
         |FROM ${P("web_sales")}
         |JOIN ${P("date_dim")} ON ws_ship_date_sk = d_date_sk
         |JOIN ${P("warehouse")} ON ws_warehouse_sk = w_warehouse_sk
         |JOIN ${P("ship_mode")} ON ws_ship_mode_sk = sm_ship_mode_sk
         |JOIN ${P("web_site")} ON ws_web_site_sk = web_site_sk
         |WHERE d_month_seq BETWEEN 1200 AND 1211
         |GROUP BY substr(w_warehouse_name, 1, 20), sm_type, web_name""".stripMargin,
    "q_tpcds_q30" -> stateOutlierOracle(P, "web_returns",
      "wr_returning_customer_sk", "wr_returning_addr_sk",
      "wr_returned_date_sk", "wr_return_amt", "GA",
      Seq("c_preferred_cust_flag", "c_birth_day", "c_birth_month",
        "c_birth_year", "c_birth_country", "c_last_review_date_sk")),
    "q_tpcds_q81" -> stateOutlierOracle(P, "catalog_returns",
      "cr_returning_customer_sk", "cr_returning_addr_sk",
      "cr_returned_date_sk", "cr_return_amt_inc_tax", "IL",
      Seq("ca_street_number", "ca_street_name", "ca_street_type",
        "ca_suite_number", "ca_city", "ca_county", "ca_state", "ca_zip",
        "ca_country",
        "CAST(ca_gmt_offset AS DOUBLE) AS ca_gmt_offset",
        "ca_location_type")),
    // [Q-tpcds-q26] TPC-DS Q26 shape: Q7's demographic per-item averages on
    // the CATALOG channel (bill-side demographics), a different demographic
    // cell so the twin stays distinct.
    "q_tpcds_q26" ->
      s"""SELECT /*+ BROADCAST(customer_demographics, date_dim, promotion, item) */
         | i_item_id,
         | CAST(sum(cs_quantity) AS DOUBLE) / count(cs_quantity) AS agg1,
         | CAST(sum(cs_list_price) AS DOUBLE) / count(cs_list_price) AS agg2,
         | CAST(sum(cs_coupon_amt) AS DOUBLE) / count(cs_coupon_amt) AS agg3,
         | CAST(sum(cs_sales_price) AS DOUBLE) / count(cs_sales_price) AS agg4
         |FROM ${P("catalog_sales")}
         |JOIN ${P("customer_demographics")} ON cs_bill_cdemo_sk = cd_demo_sk
         |JOIN ${P("date_dim")} ON cs_sold_date_sk = d_date_sk
         |JOIN ${P("promotion")} ON cs_promo_sk = p_promo_sk
         |JOIN ${P("item")} ON cs_item_sk = i_item_sk
         |WHERE cd_gender = 'F' AND cd_marital_status = 'W'
         |  AND cd_education_status = '2 yr Degree'
         |  AND (p_channel_email = 'N' OR p_channel_event = 'N') AND d_year = 2000
         |GROUP BY i_item_id""".stripMargin,
    // [Q-tpcds-q43] TPC-DS Q43 shape: per-store day-of-week sales pivot over
    // one year — seven conditional sums in ONE fact pass (the published form
    // repeats the CASE per column; same plan here), date dim broadcast, one
    // store-keyed aggregate.
    "q_tpcds_q43" -> {
      val dows = Seq("Sunday" -> "sun", "Monday" -> "mon", "Tuesday" -> "tue",
        "Wednesday" -> "wed", "Thursday" -> "thu", "Friday" -> "fri",
        "Saturday" -> "sat")
      val cols = dows.map { case (n, a) =>
        s"CAST(sum(CASE WHEN d_day_name = '$n' THEN ss_ext_sales_price END) AS DOUBLE) AS ${a}_sales"
      }.mkString(",\n ")
      s"""SELECT /*+ BROADCAST(date_dim, store) */ s_store_name, s_store_id,
         | $cols
         |FROM ${P("store_sales")}
         |JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |JOIN ${P("store")} ON ss_store_sk = s_store_sk
         |WHERE d_year = 2000
         |GROUP BY s_store_name, s_store_id""".stripMargin
    },
    // [Q-tpcds-q46] TPC-DS Q46: Q68's bought-city ≠ home-city ticket report
    // with EVERY published gate as written — weekend tickets (d_dow IN (6,0))
    // of the published three years, the published household disjunction
    // (hd_dep_count = 5 OR hd_vehicle_count = 3, over genVersion 10's dsdgen
    // count domains), and the published s_city pair on the STORE dim (the v8
    // 12-store floor carries it — 3 stores sit in Fairview/Midway); the bought
    // address joins UNFILTERED, exactly as published.
    "q_tpcds_q46" ->
      s"""SELECT c_last_name, c_first_name, cur.ca_city, bought_city,
         | ss_ticket_number,
         | CAST(amt_d AS DOUBLE) AS amt,
         | CAST(profit_d AS DOUBLE) AS profit
         |FROM (SELECT /*+ BROADCAST(date_dim, store, household_demographics) */
         | ss_ticket_number, ss_customer_sk, ss_addr_sk,
         |   ca_city AS bought_city,
         |   sum(ss_coupon_amt) AS amt_d,
         |   sum(ss_net_profit) AS profit_d
         |  FROM ${P("store_sales")}
         |  JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |  JOIN ${P("store")} ON ss_store_sk = s_store_sk
         |  JOIN ${P("household_demographics")} ON ss_hdemo_sk = hd_demo_sk
         |  JOIN ${P("customer_address")} ON ss_addr_sk = ca_address_sk
         |  WHERE d_year IN (1999, 2000, 2001) AND d_dow IN (0, 6)
         |   AND ss_customer_sk IS NOT NULL
         |   AND (hd_dep_count = 5 OR hd_vehicle_count = 3)
         |   AND s_city IN ('Fairview', 'Midway')
         |  GROUP BY 1, 2, 3, 4) dn
         |JOIN ${P("customer")} ON ss_customer_sk = c_customer_sk
         |JOIN ${P("customer_address")} cur ON c_current_addr_sk = cur.ca_address_sk
         |WHERE cur.ca_city <> bought_city""".stripMargin,
    // [Q-tpcds-q21] TPC-DS Q21 shape: warehouse × item on-hand inventory split
    // BEFORE/AFTER a pivot date inside a ±30-day window, keeping items whose
    // after/before ratio stays within [2/3, 3/2].
    "q_tpcds_q21" ->
      s"""SELECT w_warehouse_name, i_item_id,
         | CAST(inv_before AS BIGINT) AS inv_before,
         | CAST(inv_after AS BIGINT) AS inv_after
         |FROM (
         | SELECT /*+ BROADCAST(date_dim, item, warehouse) */ w_warehouse_name, i_item_id,
         |  sum(CASE WHEN d_date < DATE '2000-03-11'
         |    THEN CAST(inv_quantity_on_hand AS BIGINT) ELSE 0 END) AS inv_before,
         |  sum(CASE WHEN d_date >= DATE '2000-03-11'
         |    THEN CAST(inv_quantity_on_hand AS BIGINT) ELSE 0 END) AS inv_after
         | FROM ${P("inventory")}
         | JOIN ${P("date_dim")} ON inv_date_sk = d_date_sk
         | JOIN ${P("item")} ON inv_item_sk = i_item_sk
         | JOIN ${P("warehouse")} ON inv_warehouse_sk = w_warehouse_sk
         | WHERE d_date BETWEEN DATE '2000-02-10' AND DATE '2000-04-10'
         |  AND i_current_price BETWEEN 0.99 AND 4.99
         | GROUP BY w_warehouse_name, i_item_id) x
         |WHERE inv_before > 0 AND inv_after * 3 >= inv_before * 2
         | AND inv_after * 2 <= inv_before * 3""".stripMargin,
    // [Q-tpcds-q17] TPC-DS Q17 shape: the buy→return→catalog-rebuy chain
    // (Q29's PK joins) with per-cell quantity STATISTICS — count, mean, and
    // sample stdev, the latter computed from exact integer sums (sqrt((n·Σq² −
    // (Σq)²)/(n·(n−1)))) so both engines hit the same doubles (stddev_samp's
    // streaming accumulation is engine-specific).
    "q_tpcds_q17" -> {
      def stat(pfx: String) =
        s"""CAST(${pfx}_count AS BIGINT) AS ${pfx}_quantity_count,
           | CAST(${pfx}_sum AS DOUBLE) / ${pfx}_count AS ${pfx}_quantity_ave,
           | CASE WHEN ${pfx}_count > 1 THEN
           |  sqrt(CAST(${pfx}_count * ${pfx}_sq - ${pfx}_sum * ${pfx}_sum AS DOUBLE)
           |   / CAST(${pfx}_count * (${pfx}_count - 1) AS DOUBLE)) END
           |  AS ${pfx}_quantity_stdev""".stripMargin
      def sums(c: String, pfx: String) =
        s"""count(CAST($c AS BIGINT)) AS ${pfx}_count,
           | sum(CAST($c AS BIGINT)) AS ${pfx}_sum,
           | sum(CAST($c AS BIGINT) * CAST($c AS BIGINT)) AS ${pfx}_sq""".stripMargin
      s"""SELECT i_item_id, i_item_desc, s_state,
         | ${stat("store")},
         | ${stat("ret")},
         | ${stat("cat")}
         |FROM (
         | SELECT /*+ BROADCAST(d1, d2, d3, item, store) */
         |  i_item_id, i_item_desc, s_state,
         |  ${sums("ss_quantity", "store")},
         |  ${sums("sr_return_quantity", "ret")},
         |  ${sums("cs_quantity", "cat")}
         | FROM ${P("store_sales")}
         | JOIN ${P("date_dim")} d1 ON ss_sold_date_sk = d1.d_date_sk
         |  AND d1.d_year = 2000 AND d1.d_qoy = 1
         | JOIN ${P("store_returns")} ON ss_ticket_number = sr_ticket_number
         |  AND ss_item_sk = sr_item_sk
         | JOIN ${P("date_dim")} d2 ON sr_returned_date_sk = d2.d_date_sk
         |  AND d2.d_year = 2000 AND d2.d_qoy BETWEEN 1 AND 3
         | JOIN ${P("catalog_sales")} ON cs_bill_customer_sk = sr_customer_sk
         |  AND cs_item_sk = sr_item_sk
         | JOIN ${P("date_dim")} d3 ON cs_sold_date_sk = d3.d_date_sk
         |  AND d3.d_year = 2000 AND d3.d_qoy BETWEEN 1 AND 3
         | JOIN ${P("item")} ON ss_item_sk = i_item_sk
         | JOIN ${P("store")} ON ss_store_sk = s_store_sk
         | GROUP BY 1, 2, 3) x""".stripMargin
    },
    // [Q-tpcds-q35] TPC-DS Q35 shape: demographic census of customers with a
    // store purchase AND a web-or-catalog purchase in the half-year — the OR
    // of two EXISTS is two broadcast-marker left joins (a semi can't express a
    // disjunction), the store EXISTS stays a left-semi, and the
    // dependent-count stats aggregate exactly (long sums, one final double
    // division each).
    "q_tpcds_q35" -> {
      def dep(c: String, pfx: String) =
        s"""min($c) AS ${pfx}_min, max($c) AS ${pfx}_max,
           | CAST(sum(CAST($c AS BIGINT)) AS DOUBLE) / count($c) AS ${pfx}_avg""".stripMargin
      s"""SELECT ca_state, cd_gender, cd_marital_status, cd_dep_count,
         | CAST(count(*) AS BIGINT) AS cnt1,
         | ${dep("cd_dep_count", "dep")},
         | ${dep("cd_dep_employed_count", "emp")},
         | ${dep("cd_dep_college_count", "col")}
         |FROM ${P("customer")} c
         |JOIN ${P("customer_address")} ON c_current_addr_sk = ca_address_sk
         |JOIN ${P("customer_demographics")} ON c_current_cdemo_sk = cd_demo_sk
         |WHERE EXISTS (SELECT /*+ BROADCAST(date_dim) */ 1 FROM ${P("store_sales")}
         |  JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |  WHERE c_customer_sk = ss_customer_sk AND d_year = 2001
         |   AND d_qoy BETWEEN 1 AND 2)
         | AND (EXISTS (SELECT /*+ BROADCAST(date_dim) */ 1 FROM ${P("web_sales")}
         |  JOIN ${P("date_dim")} ON ws_sold_date_sk = d_date_sk
         |  WHERE c_customer_sk = ws_bill_customer_sk AND d_year = 2001
         |   AND d_qoy BETWEEN 1 AND 2)
         |  OR EXISTS (SELECT /*+ BROADCAST(date_dim) */ 1 FROM ${P("catalog_sales")}
         |  JOIN ${P("date_dim")} ON cs_sold_date_sk = d_date_sk
         |  WHERE c_customer_sk = cs_ship_customer_sk AND d_year = 2001
         |   AND d_qoy BETWEEN 1 AND 2))
         |GROUP BY 1, 2, 3, 4""".stripMargin
    },
    // [Q-tpcds-q10] TPC-DS Q10 shape: Q35's active-buyer census gated by home
    // COUNTY, counting the full demographic profile (purchase estimate and
    // credit rating included).
    "q_tpcds_q10" ->
      s"""SELECT cd_gender, cd_marital_status, cd_education_status,
         | cd_purchase_estimate, cd_credit_rating, cd_dep_count,
         | cd_dep_employed_count, cd_dep_college_count,
         | CAST(count(*) AS BIGINT) AS cnt
         |FROM ${P("customer")} c
         |JOIN ${P("customer_demographics")} ON c_current_cdemo_sk = cd_demo_sk
         |WHERE c_current_addr_sk IN (SELECT ca_address_sk
         |  FROM ${P("customer_address")}
         |  WHERE ca_county IN ('Ziebach County', 'Walker County',
         |   'Richland County', 'Barrow County', 'Daviess County'))
         | AND EXISTS (SELECT /*+ BROADCAST(date_dim) */ 1 FROM ${P("store_sales")}
         |  JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |  WHERE c_customer_sk = ss_customer_sk AND d_year = 2001
         |   AND d_moy BETWEEN 1 AND 4)
         | AND (EXISTS (SELECT /*+ BROADCAST(date_dim) */ 1 FROM ${P("web_sales")}
         |  JOIN ${P("date_dim")} ON ws_sold_date_sk = d_date_sk
         |  WHERE c_customer_sk = ws_bill_customer_sk AND d_year = 2001
         |   AND d_moy BETWEEN 1 AND 4)
         |  OR EXISTS (SELECT /*+ BROADCAST(date_dim) */ 1 FROM ${P("catalog_sales")}
         |  JOIN ${P("date_dim")} ON cs_sold_date_sk = d_date_sk
         |  WHERE c_customer_sk = cs_ship_customer_sk AND d_year = 2001
         |   AND d_moy BETWEEN 1 AND 4))
         |GROUP BY 1, 2, 3, 4, 5, 6, 7, 8""".stripMargin,
    // [Q-tpcds-q53] TPC-DS Q53 shape: Q63's deviation report at the
    // MANUFACTURER × quarter grain — quarterly sums whose spread from the
    // manufacturer's own yearly average exceeds 10%.
    "q_tpcds_q53" ->
      s"""SELECT i_manufact_id, d_qoy,
         | CAST(s AS DOUBLE) AS sum_sales, avg_quarterly_sales
         |FROM (
         | SELECT i_manufact_id, d_qoy, s,
         |  CAST(sum(s) OVER (PARTITION BY i_manufact_id) AS DOUBLE) /
         |   count(*) OVER (PARTITION BY i_manufact_id) AS avg_quarterly_sales
         | FROM (
         |  SELECT /*+ BROADCAST(date_dim, item) */
         |   i_manufact_id, d_qoy, sum(ss_sales_price) AS s
         |  FROM ${P("store_sales")}
         |  JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |  JOIN ${P("item")} ON ss_item_sk = i_item_sk
         |  WHERE d_year = 2000 AND i_manufact_id IS NOT NULL
         |   AND i_category IN ('Books', 'Children', 'Electronics',
         |    'Home', 'Music')
         |  GROUP BY 1, 2) m) x
         |WHERE avg_quarterly_sales > 0
         | AND abs(CAST(s AS DOUBLE) - avg_quarterly_sales)
         |  / avg_quarterly_sales > 0.1""".stripMargin,
    // [Q-tpcds-q57] TPC-DS Q57 shape: Q47's monthly deviation-with- neighbors
    // ladder on the CATALOG channel at the (category, brand, call center)
    // grain — yearly-average window plus lag/lead over the month sequence, all
    // over the aggregate.
    "q_tpcds_q57" ->
      s"""SELECT i_category, i_brand, cc_name, d_year, d_moy,
         | CAST(s AS DOUBLE) AS sum_sales, avg_monthly_sales, psum, nsum
         |FROM (
         | SELECT i_category, i_brand, cc_name, d_year, d_moy, s,
         |  CAST(sum(s) OVER (PARTITION BY i_category, i_brand, cc_name, d_year)
         |    AS DOUBLE) /
         |   count(*) OVER (PARTITION BY i_category, i_brand, cc_name, d_year)
         |   AS avg_monthly_sales,
         |  CAST(lag(s, 1) OVER (PARTITION BY i_category, i_brand, cc_name
         |    ORDER BY d_year, d_moy) AS DOUBLE) AS psum,
         |  CAST(lead(s, 1) OVER (PARTITION BY i_category, i_brand, cc_name
         |    ORDER BY d_year, d_moy) AS DOUBLE) AS nsum
         | FROM (
         |  SELECT /*+ BROADCAST(date_dim, item, call_center) */
         |   i_category, i_brand, cc_name, d_year, d_moy,
         |   sum(cs_sales_price) AS s
         |  FROM ${P("catalog_sales")}
         |  JOIN ${P("date_dim")} ON cs_sold_date_sk = d_date_sk
         |  JOIN ${P("item")} ON cs_item_sk = i_item_sk
         |  JOIN ${P("call_center")} ON cs_call_center_sk = cc_call_center_sk
         |  WHERE d_year IN (1999, 2000, 2001)
         |  GROUP BY 1, 2, 3, 4, 5) m) x
         |WHERE d_year = 2000 AND avg_monthly_sales > 0""".stripMargin,
    // [Q-tpcds-q89] TPC-DS Q89 shape: monthly class-in-store sales whose
    // deviation from the (brand, store) yearly average exceeds 10% — the Q63
    // machinery at the (category, class, brand, store, company) grain, the
    // category/class gate pushed to the item scan.
    "q_tpcds_q89" ->
      s"""SELECT i_category, i_class, i_brand, s_store_name, s_company_name,
         | d_moy, CAST(s AS DOUBLE) AS sum_sales, avg_monthly_sales
         |FROM (
         | SELECT i_category, i_class, i_brand, s_store_name, s_company_name,
         |  d_moy, s,
         |  CAST(sum(s) OVER (PARTITION BY i_category, i_brand, s_store_name,
         |    s_company_name) AS DOUBLE) /
         |   count(*) OVER (PARTITION BY i_category, i_brand, s_store_name,
         |    s_company_name) AS avg_monthly_sales
         | FROM (
         |  SELECT /*+ BROADCAST(date_dim, item, store) */
         |   i_category, i_class, i_brand, s_store_name, s_company_name,
         |   d_moy, sum(ss_sales_price) AS s
         |  FROM ${P("store_sales")}
         |  JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |  JOIN ${P("item")} ON ss_item_sk = i_item_sk
         |  JOIN ${P("store")} ON ss_store_sk = s_store_sk
         |  WHERE d_year = 2000 AND i_class IS NOT NULL
         |   AND i_category IN ('Books', 'Electronics', 'Sports',
         |    'Men', 'Jewelry', 'Women')
         |  GROUP BY 1, 2, 3, 4, 5, 6) m) x
         |WHERE avg_monthly_sales > 0
         | AND abs(CAST(s AS DOUBLE) - avg_monthly_sales)
         |  / avg_monthly_sales > 0.1""".stripMargin,
    // [Q-tpcds-q94] TPC-DS Q94 shape: Q16's unreturned multi-warehouse audit
    // on the WEB channel — shipped in a 60-day window to the PUBLISHED
    // ca_state = 'IL' (in the roster since genVersion 15), through a named web
    // site, spanning >1 warehouse, with no return.
    "q_tpcds_q94" ->
      s"""SELECT /*+ BROADCAST(date_dim) */
         | count(DISTINCT ws_order_number) AS order_count,
         | CAST(sum(ws_ext_ship_cost) AS DOUBLE) AS total_shipping_cost,
         | CAST(sum(ws_net_profit) AS DOUBLE) AS total_net_profit
         |FROM ${P("web_sales")} ws1
         |JOIN ${P("date_dim")} ON ws_ship_date_sk = d_date_sk
         |WHERE d_date BETWEEN DATE '2000-03-01' AND DATE '2000-04-30'
         | AND ws_ship_addr_sk IN (SELECT ca_address_sk
         |  FROM ${P("customer_address")} WHERE ca_state = 'IL')
         | AND ws_web_site_sk IN (SELECT /*+ BROADCAST(web_site) */ web_site_sk
         |  FROM ${P("web_site")})
         | AND ws_order_number IN (SELECT ws_order_number
         |  FROM ${P("web_sales")} GROUP BY ws_order_number
         |  HAVING count(DISTINCT ws_warehouse_sk) > 1)
         | AND ws_order_number NOT IN (SELECT wr_order_number
         |  FROM ${P("web_returns")})""".stripMargin,
    // [Q-tpcds-q56] TPC-DS Q56 shape: the Q60 three-channel per-item-id rollup
    // gated by item COLOR — the PUBLISHED triple slate/blanched/burnished,
    // in-domain since genVersion 12's full dsdgen color vocabulary.
    "q_tpcds_q56" ->
      s"""WITH chan AS (
         | SELECT /*+ BROADCAST(date_dim) */ s.item AS i_item_sk, s.amt
         | FROM (
         |  SELECT ss_item_sk AS item, ss_ext_sales_price AS amt,
         |   ss_sold_date_sk AS dat, ss_addr_sk AS addr FROM ${P("store_sales")}
         |  UNION ALL SELECT cs_item_sk, cs_ext_sales_price,
         |   cs_sold_date_sk, cs_bill_addr_sk FROM ${P("catalog_sales")}
         |  UNION ALL SELECT ws_item_sk, ws_ext_sales_price,
         |   ws_sold_date_sk, ws_bill_addr_sk FROM ${P("web_sales")}) s
         | JOIN ${P("date_dim")} ON s.dat = d_date_sk
         | WHERE d_year = 2000 AND d_moy = 10
         |  AND s.addr IN (SELECT ca_address_sk FROM ${P("customer_address")}
         |   WHERE ca_gmt_offset = -5))
         |SELECT /*+ BROADCAST(it) */ i_item_id, CAST(sum(amt) AS DOUBLE) AS total_sales
         |FROM chan JOIN ${P("item")} it ON chan.i_item_sk = it.i_item_sk
         |WHERE i_item_id IN (SELECT /*+ BROADCAST(item) */ i_item_id FROM ${P("item")}
         |  WHERE i_color IN ('slate', 'blanched', 'burnished'))
         |GROUP BY i_item_id""".stripMargin,
    // [Q-tpcds-q48] TPC-DS Q48 shape: one-row quantity total under the
    // Q13-style double disjunction (marital × education × price band, state
    // triple × net-profit band) — every gate evaluated in the ONE fact pass,
    // demographic and address dims joined once.
    "q_tpcds_q48" ->
      s"""SELECT /*+ BROADCAST(date_dim, store, customer_demographics) */
         | CAST(sum(ss_quantity) AS BIGINT) AS total_quantity
         |FROM ${P("store_sales")}
         |JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |JOIN ${P("store")} ON ss_store_sk = s_store_sk
         |JOIN ${P("customer_demographics")} ON ss_cdemo_sk = cd_demo_sk
         |JOIN ${P("customer_address")} ON ss_addr_sk = ca_address_sk
         |WHERE d_year = 2000
         | AND ((cd_marital_status = 'M' AND cd_education_status = '4 yr Degree'
         |   AND ss_sales_price BETWEEN 20 AND 120)
         |  OR (cd_marital_status = 'D' AND cd_education_status = '2 yr Degree'
         |   AND ss_sales_price BETWEEN 60 AND 160)
         |  OR (cd_marital_status = 'S' AND cd_education_status = 'College'
         |   AND ss_sales_price BETWEEN 120 AND 220))
         | AND ((ca_state IN ('CO', 'OH', 'TX')
         |   AND ss_net_profit BETWEEN 0 AND 2000)
         |  OR (ca_state IN ('OR', 'MN', 'KY')
         |   AND ss_net_profit BETWEEN 150 AND 3000)
         |  OR (ca_state IN ('VA', 'CA', 'MS')
         |   AND ss_net_profit BETWEEN 50 AND 25000))""".stripMargin,
    // [Q-tpcds-q67] TPC-DS Q67 shape: the big ROLLUP leaderboard — sales at
    // every level of (category, class, brand, product, year, qoy, moy, store)
    // with the top 100 cells per category kept by rank over the exact DECIMAL
    // total. Plan (r15, measured; SCALE.md's q67 rows): aggregate ONCE at
    // leaf grain, then roll up the leaf aggregate, so the rollup's Expand
    // multiplies |leaf groups| rows instead of the fact 9x (sf100 35.8 ->
    // 20.0 s; a wash at sf10). Exact DECIMAL sums are associative, so the
    // result is the direct rollup's.
    "q_tpcds_q67" ->
      s"""SELECT i_category, i_class, i_brand, i_product_name, d_year, d_qoy,
         | d_moy, s_store_id, CAST(sumsales AS DOUBLE) AS sumsales,
         | CAST(rk AS INT) AS rk
         |FROM (
         | SELECT *, rank() OVER (PARTITION BY i_category
         |   ORDER BY sumsales DESC) AS rk
         | FROM (
         |  SELECT i_category, i_class, i_brand, i_product_name, d_year,
         |   d_qoy, d_moy, s_store_id, sum(leafsales) AS sumsales
         |  FROM (
         |   SELECT /*+ BROADCAST(date_dim, item, store) */
         |    i_category, i_class, i_brand, i_product_name, d_year, d_qoy,
         |    d_moy, s_store_id,
         |    sum(COALESCE(ss_sales_price * ss_quantity, 0)) AS leafsales
         |   FROM ${P("store_sales")}
         |   JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         |   JOIN ${P("item")} ON ss_item_sk = i_item_sk
         |   JOIN ${P("store")} ON ss_store_sk = s_store_sk
         |   WHERE d_month_seq BETWEEN 1200 AND 1211
         |   GROUP BY i_category, i_class, i_brand, i_product_name, d_year,
         |    d_qoy, d_moy, s_store_id) leaf
         |  GROUP BY ROLLUP(i_category, i_class, i_brand, i_product_name,
         |   d_year, d_qoy, d_moy, s_store_id)) agg) x
         |WHERE rk <= 100""".stripMargin,
    // [Q-tpcds-q4] TPC-DS Q4 shape: the three-channel year-over-year growth
    // triple — Q11's machinery widened to store+catalog+web with the published
    // "customer margin" formula (ext_list_price − ext_wholesale_cost −
    // ext_discount_amt + ext_sales_price; the published ÷2 cancels in the
    // y2/y1 ratios and is dropped).
    "q_tpcds_q4" ->
      s"""WITH yt AS (
         | SELECT /*+ BROADCAST(date_dim) */ cust, chan,
         |  sum(CASE WHEN d_year = 2000 THEN m END) AS y1,
         |  sum(CASE WHEN d_year = 2001 THEN m END) AS y2
         | FROM (
         |  SELECT ss_customer_sk AS cust, 's' AS chan, ss_sold_date_sk AS dt,
         |   ss_ext_list_price - ss_ext_wholesale_cost - ss_ext_discount_amt
         |    + ss_ext_sales_price AS m FROM ${P("store_sales")}
         |  UNION ALL
         |  SELECT cs_bill_customer_sk, 'c', cs_sold_date_sk,
         |   cs_ext_list_price - cs_ext_wholesale_cost - cs_ext_discount_amt
         |    + cs_ext_sales_price FROM ${P("catalog_sales")}
         |  UNION ALL
         |  SELECT ws_bill_customer_sk, 'w', ws_sold_date_sk,
         |   ws_ext_list_price - ws_ext_wholesale_cost - ws_ext_discount_amt
         |    + ws_ext_sales_price FROM ${P("web_sales")}) u
         | JOIN ${P("date_dim")} ON dt = d_date_sk
         | WHERE d_year IN (2000, 2001) AND cust IS NOT NULL
         | GROUP BY cust, chan)
         |SELECT c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
         | CAST(s.y2 AS DOUBLE) / CAST(s.y1 AS DOUBLE) AS store_growth,
         | CAST(c.y2 AS DOUBLE) / CAST(c.y1 AS DOUBLE) AS catalog_growth,
         | CAST(w.y2 AS DOUBLE) / CAST(w.y1 AS DOUBLE) AS web_growth
         |FROM (SELECT * FROM yt WHERE chan = 's') s
         |JOIN (SELECT * FROM yt WHERE chan = 'c') c ON s.cust = c.cust
         |JOIN (SELECT * FROM yt WHERE chan = 'w') w ON s.cust = w.cust
         |JOIN ${P("customer")} ON s.cust = c_customer_sk
         |WHERE s.y1 > 0 AND c.y1 > 0 AND w.y1 > 0
         | AND CAST(c.y2 AS DOUBLE) / CAST(c.y1 AS DOUBLE) >
         |     CAST(s.y2 AS DOUBLE) / CAST(s.y1 AS DOUBLE)
         | AND CAST(w.y2 AS DOUBLE) / CAST(w.y1 AS DOUBLE) >
         |     CAST(s.y2 AS DOUBLE) / CAST(s.y1 AS DOUBLE)""".stripMargin,
    // [Q-tpcds-q74] TPC-DS Q74 shape: the NET-PAID year-over-year ladder —
    // Q11's condition (web growth beats store growth) over sum(net_paid) year
    // totals instead of ext_sales_price, returning the customer's name
    // columns.
    "q_tpcds_q74" ->
      s"""WITH s AS (
         | SELECT /*+ BROADCAST(date_dim) */ ss_customer_sk AS cust,
         |  sum(CASE WHEN d_year = 2000 THEN ss_net_paid END) AS y1,
         |  sum(CASE WHEN d_year = 2001 THEN ss_net_paid END) AS y2
         | FROM ${P("store_sales")} JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         | WHERE d_year IN (2000, 2001) AND ss_customer_sk IS NOT NULL
         | GROUP BY ss_customer_sk),
         |w AS (
         | SELECT /*+ BROADCAST(date_dim) */ ws_bill_customer_sk AS cust,
         |  sum(CASE WHEN d_year = 2000 THEN ws_net_paid END) AS y1,
         |  sum(CASE WHEN d_year = 2001 THEN ws_net_paid END) AS y2
         | FROM ${P("web_sales")} JOIN ${P("date_dim")} ON ws_sold_date_sk = d_date_sk
         | WHERE d_year IN (2000, 2001) AND ws_bill_customer_sk IS NOT NULL
         | GROUP BY ws_bill_customer_sk)
         |SELECT c_customer_id, c_first_name, c_last_name,
         | CAST(w.y2 AS DOUBLE) / CAST(w.y1 AS DOUBLE) AS web_growth,
         | CAST(s.y2 AS DOUBLE) / CAST(s.y1 AS DOUBLE) AS store_growth
         |FROM s JOIN w ON s.cust = w.cust
         |JOIN ${P("customer")} ON s.cust = c_customer_sk
         |WHERE s.y1 > 0 AND w.y1 > 0
         | AND CAST(w.y2 AS DOUBLE) / CAST(w.y1 AS DOUBLE) >
         |     CAST(s.y2 AS DOUBLE) / CAST(s.y1 AS DOUBLE)""".stripMargin,
    // [Q-tpcds-q18] TPC-DS Q18 shape: catalog buyer demographics at every
    // geography level — avg quantity/prices/profit, buyer birth year and
    // dependent count, ROLLUP'd over (i_item_id, ca_country, ca_state,
    // ca_county) with grouping flags disambiguating subtotal rows from
    // genuinely-null dimension values.
    "q_tpcds_q18" ->
      s"""SELECT /*+ BROADCAST(date_dim, cd1, item) */
         | i_item_id, ca_country, ca_state, ca_county,
         | grouping(ca_country) AS g_country, grouping(ca_state) AS g_state,
         | grouping(ca_county) AS g_county,
         | CAST(sum(cs_quantity) AS DOUBLE) / count(cs_quantity) AS agg1,
         | CAST(sum(cs_list_price) AS DOUBLE) / count(cs_list_price) AS agg2,
         | CAST(sum(cs_coupon_amt) AS DOUBLE) / count(cs_coupon_amt) AS agg3,
         | CAST(sum(cs_sales_price) AS DOUBLE) / count(cs_sales_price) AS agg4,
         | CAST(sum(cs_net_profit) AS DOUBLE) / count(cs_net_profit) AS agg5,
         | CAST(sum(c_birth_year) AS DOUBLE) / count(c_birth_year) AS agg6,
         | CAST(sum(cd_dep_count) AS DOUBLE) / count(cd_dep_count) AS agg7
         |FROM ${P("catalog_sales")}
         |JOIN ${P("date_dim")} ON cs_sold_date_sk = d_date_sk
         |JOIN ${P("customer_demographics")} cd1 ON cs_bill_cdemo_sk = cd1.cd_demo_sk
         |JOIN ${P("customer")} ON cs_bill_customer_sk = c_customer_sk
         |JOIN ${P("customer_address")} ON c_current_addr_sk = ca_address_sk
         |JOIN ${P("item")} ON cs_item_sk = i_item_sk
         |WHERE cd1.cd_gender = 'F' AND cd1.cd_education_status = 'College'
         | AND c_birth_month IN (1, 6, 8, 9, 12, 2) AND d_year = 2000
         | AND c_current_cdemo_sk IN
         |  (SELECT /*+ BROADCAST(customer_demographics) */
         |   cd_demo_sk FROM ${P("customer_demographics")})
         |GROUP BY ROLLUP(i_item_id, ca_country, ca_state, ca_county)""".stripMargin,
    // [Q-tpcds-q58] TPC-DS Q58 shape: items selling EVENLY across all three
    // channels — per-item revenue in a calendar window derived from an anchor
    // date by nested lookup, kept when each channel's revenue is within the
    // PUBLISHED ±10% of the three-channel average (genVersion 10's
    // channel-calibrated wholesale draws equalize expected per-item channel
    // revenue, so the band is satisfiable — before that the ~4:1 store:web
    // revenue mix made it empty at ANY scale).
    "q_tpcds_q58" ->
      s"""WITH dd AS (
         | SELECT d_date_sk FROM ${P("date_dim")}
         | WHERE d_week_seq = (SELECT /*+ BROADCAST(date_dim) */
         |  d_week_seq FROM ${P("date_dim")}
         |                     WHERE d_date = DATE '1998-12-16')),
         |s AS (SELECT /*+ BROADCAST(item) */
         | i_item_id AS ss_id, sum(ss_ext_sales_price) AS ss_rev
         | FROM ${P("store_sales")} JOIN dd ON ss_sold_date_sk = d_date_sk
         | JOIN ${P("item")} ON ss_item_sk = i_item_sk GROUP BY 1),
         |c AS (SELECT /*+ BROADCAST(item) */
         | i_item_id AS cs_id, sum(cs_ext_sales_price) AS cs_rev
         | FROM ${P("catalog_sales")} JOIN dd ON cs_sold_date_sk = d_date_sk
         | JOIN ${P("item")} ON cs_item_sk = i_item_sk GROUP BY 1),
         |w AS (SELECT /*+ BROADCAST(item) */
         | i_item_id AS ws_id, sum(ws_ext_sales_price) AS ws_rev
         | FROM ${P("web_sales")} JOIN dd ON ws_sold_date_sk = d_date_sk
         | JOIN ${P("item")} ON ws_item_sk = i_item_sk GROUP BY 1)
         |SELECT ss_id AS item_id,
         | CAST(ss_rev AS DOUBLE) AS ss_item_rev,
         | CAST(ss_rev AS DOUBLE) / (CAST(ss_rev + cs_rev + ws_rev AS DOUBLE) / 3.0)
         |  * 100.0 AS ss_dev,
         | CAST(cs_rev AS DOUBLE) AS cs_item_rev,
         | CAST(cs_rev AS DOUBLE) / (CAST(ss_rev + cs_rev + ws_rev AS DOUBLE) / 3.0)
         |  * 100.0 AS cs_dev,
         | CAST(ws_rev AS DOUBLE) AS ws_item_rev,
         | CAST(ws_rev AS DOUBLE) / (CAST(ss_rev + cs_rev + ws_rev AS DOUBLE) / 3.0)
         |  * 100.0 AS ws_dev,
         | CAST(ss_rev + cs_rev + ws_rev AS DOUBLE) / 3.0 AS average
         |FROM s JOIN c ON ss_id = cs_id JOIN w ON ss_id = ws_id
         |WHERE CAST(ss_rev AS DOUBLE) >=
         |   CAST(ss_rev + cs_rev + ws_rev AS DOUBLE) / 3.0 * 0.9
         | AND CAST(ss_rev AS DOUBLE) <=
         |   CAST(ss_rev + cs_rev + ws_rev AS DOUBLE) / 3.0 * 1.1
         | AND CAST(cs_rev AS DOUBLE) >=
         |   CAST(ss_rev + cs_rev + ws_rev AS DOUBLE) / 3.0 * 0.9
         | AND CAST(cs_rev AS DOUBLE) <=
         |   CAST(ss_rev + cs_rev + ws_rev AS DOUBLE) / 3.0 * 1.1
         | AND CAST(ws_rev AS DOUBLE) >=
         |   CAST(ss_rev + cs_rev + ws_rev AS DOUBLE) / 3.0 * 0.9
         | AND CAST(ws_rev AS DOUBLE) <=
         |   CAST(ss_rev + cs_rev + ws_rev AS DOUBLE) / 3.0 * 1.1""".stripMargin,
    // [Q-tpcds-q83] TPC-DS Q83 shape: items RETURNED evenly across all three
    // channels — Q58's parity ladder over return quantities, with the calendar
    // windows derived from three anchor dates by the PUBLISHED nested
    // d_week_seq lookup, now run as written.
    "q_tpcds_q83" ->
      s"""WITH dd AS (
         | SELECT d_date_sk FROM ${P("date_dim")}
         | WHERE d_week_seq IN (SELECT /*+ BROADCAST(date_dim) */
         |  DISTINCT d_week_seq FROM ${P("date_dim")}
         |   WHERE d_date IN (DATE '1999-02-10', DATE '2000-02-09',
         |                    DATE '2001-02-14'))),
         |s AS (SELECT /*+ BROADCAST(item) */ i_item_id AS sr_id,
         |  CAST(sum(sr_return_quantity) AS BIGINT) AS sr_qty
         | FROM ${P("store_returns")} JOIN dd ON sr_returned_date_sk = d_date_sk
         | JOIN ${P("item")} ON sr_item_sk = i_item_sk GROUP BY 1),
         |c AS (SELECT /*+ BROADCAST(item) */ i_item_id AS cr_id,
         |  CAST(sum(cr_return_quantity) AS BIGINT) AS cr_qty
         | FROM ${P("catalog_returns")} JOIN dd ON cr_returned_date_sk = d_date_sk
         | JOIN ${P("item")} ON cr_item_sk = i_item_sk GROUP BY 1),
         |w AS (SELECT /*+ BROADCAST(item) */ i_item_id AS wr_id,
         |  CAST(sum(wr_return_quantity) AS BIGINT) AS wr_qty
         | FROM ${P("web_returns")} JOIN dd ON wr_returned_date_sk = d_date_sk
         | JOIN ${P("item")} ON wr_item_sk = i_item_sk GROUP BY 1)
         |SELECT sr_id AS item_id,
         | sr_qty, CAST(sr_qty AS DOUBLE) /
         |  (CAST(sr_qty + cr_qty + wr_qty AS DOUBLE) / 3.0) * 100.0 AS sr_dev,
         | cr_qty, CAST(cr_qty AS DOUBLE) /
         |  (CAST(sr_qty + cr_qty + wr_qty AS DOUBLE) / 3.0) * 100.0 AS cr_dev,
         | wr_qty, CAST(wr_qty AS DOUBLE) /
         |  (CAST(sr_qty + cr_qty + wr_qty AS DOUBLE) / 3.0) * 100.0 AS wr_dev,
         | CAST(sr_qty + cr_qty + wr_qty AS DOUBLE) / 3.0 AS average
         |FROM s JOIN c ON sr_id = cr_id JOIN w ON sr_id = wr_id""".stripMargin,
    // [Q-tpcds-q80] TPC-DS Q80 shape: the three-channel net-of-returns
    // promotion report — per channel location, sales minus line-level returns
    // and profit minus return loss, for TV-silent promotions on premium items
    // over a published-form 30-day d_date window, ROLLUP'd over (channel, id).
    "q_tpcds_q80" ->
      s"""WITH ssr AS (
         | SELECT /*+ BROADCAST(date_dim) */ 'store channel' AS channel, s_store_id AS id,
         |  sum(ss_ext_sales_price) AS sales,
         |  sum(COALESCE(sr_return_amt, 0)) AS returns,
         |  sum(ss_net_profit - COALESCE(sr_net_loss, 0)) AS profit
         | FROM ${P("store_sales")}
         | JOIN ${P("date_dim")} ON ss_sold_date_sk = d_date_sk
         | LEFT JOIN ${P("store_returns")} ON ss_ticket_number = sr_ticket_number
         |  AND ss_item_sk = sr_item_sk
         | JOIN ${P("store")} ON ss_store_sk = s_store_sk
         | WHERE d_date BETWEEN DATE '2000-08-23' AND DATE '2000-09-22'
         |  AND ss_item_sk IN (SELECT /*+ BROADCAST(item) */ i_item_sk FROM ${P("item")}
         |                     WHERE i_current_price > 50)
         |  AND ss_promo_sk IN (SELECT /*+ BROADCAST(promotion) */
         |   p_promo_sk FROM ${P("promotion")}
         |                      WHERE p_channel_tv = 'N')
         | GROUP BY 2),
         |csr AS (
         | SELECT /*+ BROADCAST(date_dim) */
         |  'catalog channel' AS channel, cp_catalog_page_id AS id,
         |  sum(cs_ext_sales_price) AS sales,
         |  sum(COALESCE(cr_return_amount, 0)) AS returns,
         |  sum(cs_net_profit - COALESCE(cr_net_loss, 0)) AS profit
         | FROM ${P("catalog_sales")}
         | JOIN ${P("date_dim")} ON cs_sold_date_sk = d_date_sk
         | LEFT JOIN ${P("catalog_returns")} ON cs_order_number = cr_order_number
         |  AND cs_item_sk = cr_item_sk
         | JOIN ${P("catalog_page")} ON cs_catalog_page_sk = cp_catalog_page_sk
         | WHERE d_date BETWEEN DATE '2000-08-23' AND DATE '2000-09-22'
         |  AND cs_item_sk IN (SELECT /*+ BROADCAST(item) */ i_item_sk FROM ${P("item")}
         |                     WHERE i_current_price > 50)
         |  AND cs_promo_sk IN (SELECT /*+ BROADCAST(promotion) */
         |   p_promo_sk FROM ${P("promotion")}
         |                      WHERE p_channel_tv = 'N')
         | GROUP BY 2),
         |wsr AS (
         | SELECT /*+ BROADCAST(date_dim) */ 'web channel' AS channel, web_site_id AS id,
         |  sum(ws_ext_sales_price) AS sales,
         |  sum(COALESCE(wr_return_amt, 0)) AS returns,
         |  sum(ws_net_profit - COALESCE(wr_net_loss, 0)) AS profit
         | FROM ${P("web_sales")}
         | JOIN ${P("date_dim")} ON ws_sold_date_sk = d_date_sk
         | LEFT JOIN ${P("web_returns")} ON ws_order_number = wr_order_number
         |  AND ws_item_sk = wr_item_sk
         | JOIN ${P("web_site")} ON ws_web_site_sk = web_site_sk
         | WHERE d_date BETWEEN DATE '2000-08-23' AND DATE '2000-09-22'
         |  AND ws_item_sk IN (SELECT /*+ BROADCAST(item) */ i_item_sk FROM ${P("item")}
         |                     WHERE i_current_price > 50)
         |  AND ws_promo_sk IN (SELECT /*+ BROADCAST(promotion) */
         |   p_promo_sk FROM ${P("promotion")}
         |                      WHERE p_channel_tv = 'N')
         | GROUP BY 2)
         |SELECT channel, id, CAST(sum(sales) AS DOUBLE) AS sales,
         | CAST(sum(returns) AS DOUBLE) AS returns,
         | CAST(sum(profit) AS DOUBLE) AS profit
         |FROM (SELECT * FROM ssr UNION ALL SELECT * FROM csr
         |      UNION ALL SELECT * FROM wsr) u
         |GROUP BY ROLLUP(channel, id)""".stripMargin,
    // [Q-tpcds-q23] TPC-DS Q23 shape: cross-channel spend on FREQUENT items
    // by the BEST store customers in one month — the two-CTE gauntlet.
    // Frequent items and best customers are store-history aggregates over
    // a 4-year window; the month's catalog+web lines are gated by both
    // sets and summed to one row. The frequent-item gate runs as PUBLISHED
    // (HAVING count(*) > 4 per item and day); genVersion 10's seasonal
    // sold dates give it support (λ(item, super day) ≈ 0.64 at every sf).
    // The month is December (where the qualifying items concentrate); the
    // best-customer gate stays 50% of the max spender (95% selects ~1
    // customer at verification scale — q23b keeps the fully-relative
    // variant). The max is a once-evaluated scalar subquery.
    // Staged MATERIALIZED CTEs (r18, verdict #3): freq and best are each
    // consumed by BOTH sale channels, so the unstaged form inlined the two
    // whale aggregates twice — past DuckDB's budget at sf100. freq's group
    // key is narrowed from (substr(i_item_desc,1,30), ss_item_sk, d_date)
    // to (ss_item_sk, ss_sold_date_sk): i_item_desc is functionally
    // dependent on the item PK and d_date_sk <-> d_date is 1:1 in
    // date_dim, so the groups — and their counts — are identical, while
    // the hash table carries two ints instead of a 30-char string (the
    // sf100 OOM driver); the item semi-join is kept so membership
    // semantics stay exactly the published ones.
    "q_tpcds_q23" ->
      s"""WITH dd4 AS ${M}(SELECT
         | d_date_sk FROM ${P("date_dim")}
         |  WHERE d_year BETWEEN 1999 AND 2002),
         |freq AS ${M}(SELECT /*+ BROADCAST(item) */ DISTINCT f.ss_item_sk FROM (
         | SELECT ss_item_sk FROM ${P("store_sales")}
         | JOIN dd4 ON ss_sold_date_sk = d_date_sk
         | GROUP BY ss_item_sk, ss_sold_date_sk HAVING count(*) > 4) f
         | JOIN ${P("item")} ON f.ss_item_sk = i_item_sk),
         |spend AS ${M}(SELECT ss_customer_sk AS cust,
         |  sum(ss_quantity * ss_sales_price) AS ssales
         | FROM ${P("store_sales")} JOIN dd4 ON ss_sold_date_sk = d_date_sk
         | WHERE ss_customer_sk IS NOT NULL GROUP BY 1),
         |best AS ${M}(SELECT cust FROM spend
         | WHERE CAST(ssales AS DOUBLE) >
         |  CAST((SELECT max(ssales) FROM spend) AS DOUBLE) * 0.5),
         |ddm AS (SELECT d_date_sk FROM ${P("date_dim")}
         | WHERE d_year = 2000 AND d_moy = 12)
         |SELECT CAST(sum(amt) AS DOUBLE) AS sum_sales FROM (
         | SELECT cs_quantity * cs_list_price AS amt FROM ${P("catalog_sales")}
         | JOIN ddm ON cs_sold_date_sk = d_date_sk
         | WHERE cs_item_sk IN (SELECT ss_item_sk FROM freq)
         |  AND cs_bill_customer_sk IN (SELECT cust FROM best)
         | UNION ALL
         | SELECT ws_quantity * ws_list_price FROM ${P("web_sales")}
         | JOIN ddm ON ws_sold_date_sk = d_date_sk
         | WHERE ws_item_sk IN (SELECT ss_item_sk FROM freq)
         |  AND ws_bill_customer_sk IN (SELECT cust FROM best)) u""".stripMargin,
    // [Q-tpcds-q24] TPC-DS Q24 shape: who returns expensive colored goods
    // bought NEAR HOME — net paid per (customer, store) over store lines
    // with a matching return, where the customer's address zip matches the
    // store's and the birth country differs from the address country, kept
    // when a color slice's total beats 5% of the all-colors average (a
    // once-evaluated scalar subquery). The published exact `s_zip = ca_zip`
    // near-home gate runs as written — genVersion 14's urban-core address
    // locality gives it ~2.5% of return-matched lines. The published
    // iteration color 'pale' (in-domain since genVersion 12) LEADS a slice
    // widened by nineteen for gate-scale density (the exact-zip gate keeps
    // ~8 post-filter lines at sf0.01). Measured on the gen18 curve: the
    // published SINGLE-color form returns 49 rows at sf1 and 431 at sf10,
    // real from ~sf0.1 up (q_tpcds_q24_pub runs it at sf1).
    "q_tpcds_q24" ->
      s"""WITH ssales AS (
         | SELECT /*+ BROADCAST(store, item) */
         |  c_last_name, c_first_name, s_store_name, ca_state, s_state,
         |  i_color, i_current_price, i_manager_id, i_units, i_size,
         |  sum(ss_net_paid) AS netpaid
         | FROM ${P("store_sales")}
         | JOIN ${P("store_returns")} ON ss_ticket_number = sr_ticket_number
         |  AND ss_item_sk = sr_item_sk
         | JOIN ${P("store")} ON ss_store_sk = s_store_sk
         | JOIN ${P("customer")} ON ss_customer_sk = c_customer_sk
         | JOIN ${P("customer_address")} ON c_current_addr_sk = ca_address_sk
         | JOIN ${P("item")} ON ss_item_sk = i_item_sk
         | WHERE s_market_id BETWEEN 1 AND 5000
         |  AND c_birth_country <> upper(ca_country)
         |  AND s_zip = ca_zip
         | GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10)
         |SELECT c_last_name, c_first_name, s_store_name,
         | CAST(sum(netpaid) AS DOUBLE) AS paid
         |FROM ssales
         |WHERE i_color IN ('pale', 'blush', 'coral', 'azure', 'almond',
         | 'antique', 'beige', 'rose', 'peach', 'sienna', 'red', 'saddle',
         | 'indian', 'salmon', 'orange', 'turquoise', 'snow', 'purple',
         | 'yellow', 'violet')
         |GROUP BY 1, 2, 3
         |HAVING CAST(sum(netpaid) AS DOUBLE) >
         | (SELECT 0.05 * (CAST(sum(netpaid) AS DOUBLE) / count(*))
         |  FROM ssales)""".stripMargin,
    // Staged MATERIALIZED CTEs like q_tpcds_q64_pub (r13 incident: the
    // inlined 17-join + IN-subquery form sends DuckDB's join-order pick
    // runaway at sf1+, and the unstaged `cs` CTE is inlined TWICE through
    // the self-join — at sf100 that doubled peak past any budget). The
    // item slice prunes csui (identical semantics: csui only gates items
    // already forced into the slice by the item join) and the fact core
    // is staged before the dimension legs; INNER many-to-one staging is
    // order-independent, so the result is unchanged (r18, verdict #3).
    // [Q-tpcds-q64] TPC-DS Q64: the cross-channel repeat-sale monster —
    // returned store lines of catalog-healthy items (catalog list-price
    // revenue > 2× catalog refunds on the (order, item) linkage), enriched
    // through ALL the published legs: customer, both customer_demographics
    // (marital status changed since purchase), both household_demographics
    // with their income_band lookups (ib1/ib2 — the v8 ordered $10k bands make
    // these real joins), promotion, BOTH addresses (bought-at ad1 via
    // ss_addr_sk, current ad2 via c_current_addr_sk — published street/city/
    // zip blocks projected from each), and the first-sale / first-ship
    // date_dim lookups projecting fsyear/s2year into the published cross_sales
    // grain.
    "q_tpcds_q64" ->
      s"""WITH islice AS ${M}(
         | SELECT i_item_sk, i_product_name FROM ${P("item")}
         | WHERE i_color IN ('purple', 'burlywood', 'indian', 'spring',
         |   'floral', 'medium', 'chiffon', 'blush', 'coral', 'azure',
         |   'almond', 'antique', 'aquamarine', 'beige', 'rose', 'peach',
         |   'slate', 'powder', 'pale', 'khaki', 'orchid', 'firebrick',
         |   'metallic', 'gainsboro', 'misty', 'navy', 'olive', 'sienna',
         |   'snow', 'lace')
         |  AND i_current_price BETWEEN 35 AND 95),
         |csui AS ${M}(
         | SELECT cs_item_sk FROM ${P("catalog_sales")}
         | JOIN islice ON cs_item_sk = i_item_sk
         | JOIN ${P("catalog_returns")} ON cs_order_number = cr_order_number
         |  AND cs_item_sk = cr_item_sk
         | GROUP BY cs_item_sk
         | HAVING sum(cs_ext_list_price) >
         |  2 * sum(cr_refunded_cash + cr_reversed_charge + cr_store_credit)),
         |core AS ${M}(
         | SELECT /*+ BROADCAST(d1) */
         |  ss_item_sk, ss_customer_sk, ss_cdemo_sk, ss_hdemo_sk,
         |  ss_addr_sk, ss_promo_sk, ss_store_sk, d1.d_year AS syear,
         |  ss_wholesale_cost, ss_list_price, ss_coupon_amt, i_product_name
         | FROM ${P("store_sales")}
         | JOIN ${P("store_returns")} ON ss_ticket_number = sr_ticket_number
         |  AND ss_item_sk = sr_item_sk
         | JOIN islice ON ss_item_sk = i_item_sk
         | JOIN csui ON ss_item_sk = cs_item_sk
         | JOIN ${P("date_dim")} d1 ON ss_sold_date_sk = d1.d_date_sk
         | WHERE d1.d_year IN (1999, 2000)),
         |cs AS ${M}(
         | SELECT /*+ BROADCAST(cd1, cd2, promotion, d2, d3, store) */
         |  i_product_name AS product_name, ss_item_sk AS item_sk,
         |  s_store_name AS store_name, s_zip AS store_zip,
         |  ad1.ca_street_number AS b_street_number,
         |  ad1.ca_street_name AS b_street_name,
         |  ad1.ca_city AS b_city, ad1.ca_zip AS b_zip,
         |  ad2.ca_street_number AS c_street_number,
         |  ad2.ca_street_name AS c_street_name,
         |  ad2.ca_city AS c_city, ad2.ca_zip AS c_zip,
         |  syear, d2.d_year AS fsyear, d3.d_year AS s2year,
         |  count(*) AS cnt, sum(ss_wholesale_cost) AS s1,
         |  sum(ss_list_price) AS s2, sum(ss_coupon_amt) AS s3
         | FROM core
         | JOIN ${P("customer")} ON ss_customer_sk = c_customer_sk
         | JOIN ${P("customer_demographics")} cd1 ON ss_cdemo_sk = cd1.cd_demo_sk
         | JOIN ${P("customer_demographics")} cd2
         |  ON c_current_cdemo_sk = cd2.cd_demo_sk
         | JOIN ${P("household_demographics")} hd1 ON ss_hdemo_sk = hd1.hd_demo_sk
         | JOIN ${P("income_band")} ib1
         |  ON hd1.hd_income_band_sk = ib1.ib_income_band_sk
         | JOIN ${P("household_demographics")} hd2
         |  ON c_current_hdemo_sk = hd2.hd_demo_sk
         | JOIN ${P("income_band")} ib2
         |  ON hd2.hd_income_band_sk = ib2.ib_income_band_sk
         | JOIN ${P("promotion")} ON ss_promo_sk = p_promo_sk
         | JOIN ${P("date_dim")} d2 ON c_first_sales_date_sk = d2.d_date_sk
         | JOIN ${P("date_dim")} d3 ON c_first_shipto_date_sk = d3.d_date_sk
         | JOIN ${P("customer_address")} ad1 ON ss_addr_sk = ad1.ca_address_sk
         | JOIN ${P("customer_address")} ad2
         |  ON c_current_addr_sk = ad2.ca_address_sk
         | JOIN ${P("store")} ON ss_store_sk = s_store_sk
         | WHERE cd1.cd_marital_status <> cd2.cd_marital_status
         | GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
         |SELECT cs1.product_name, cs1.store_name, cs1.store_zip,
         | cs1.b_street_number, cs1.b_street_name, cs1.b_city, cs1.b_zip,
         | cs1.c_street_number, cs1.c_street_name, cs1.c_city, cs1.c_zip,
         | cs1.syear AS syear1, cs1.cnt AS cnt1,
         | CAST(cs1.s1 AS DOUBLE) AS s11, CAST(cs1.s2 AS DOUBLE) AS s21,
         | CAST(cs1.s3 AS DOUBLE) AS s31,
         | CAST(cs2.s1 AS DOUBLE) AS s12, CAST(cs2.s2 AS DOUBLE) AS s22,
         | CAST(cs2.s3 AS DOUBLE) AS s32,
         | cs2.syear AS syear2, cs2.cnt AS cnt2
         |FROM cs cs1
         |JOIN cs cs2 ON cs1.item_sk = cs2.item_sk
         | AND cs1.store_name = cs2.store_name
         | AND cs1.store_zip = cs2.store_zip
         |WHERE cs1.syear = 1999 AND cs2.syear = 2000
         | AND cs2.cnt <= cs1.cnt""".stripMargin,
    // [Q-tpcds-q24b] TPC-DS Q24's SECOND iteration: the published query runs
    // twice with a second color slice — same ssales CTE, same all-colors
    // average threshold, disjoint colors.
    "q_tpcds_q24b" ->
      s"""WITH ssales AS (
         | SELECT /*+ BROADCAST(store, item) */
         |  c_last_name, c_first_name, s_store_name, ca_state, s_state,
         |  i_color, i_current_price, i_manager_id, i_units, i_size,
         |  sum(ss_net_paid) AS netpaid
         | FROM ${P("store_sales")}
         | JOIN ${P("store_returns")} ON ss_ticket_number = sr_ticket_number
         |  AND ss_item_sk = sr_item_sk
         | JOIN ${P("store")} ON ss_store_sk = s_store_sk
         | JOIN ${P("customer")} ON ss_customer_sk = c_customer_sk
         | JOIN ${P("customer_address")} ON c_current_addr_sk = ca_address_sk
         | JOIN ${P("item")} ON ss_item_sk = i_item_sk
         | WHERE s_market_id BETWEEN 1 AND 5000
         |  AND c_birth_country <> upper(ca_country)
         |  AND s_zip = ca_zip
         | GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10)
         |SELECT c_last_name, c_first_name, s_store_name,
         | CAST(sum(netpaid) AS DOUBLE) AS paid
         |FROM ssales
         |WHERE i_color IN ('chiffon', 'aquamarine', 'bisque', 'black',
         | 'blue', 'brown', 'burlywood', 'misty', 'navy', 'olive', 'cyan',
         | 'plum', 'lavender', 'linen', 'smoke', 'ivory', 'lemon',
         | 'magenta', 'maroon', 'cream', 'wheat', 'white')
         |GROUP BY 1, 2, 3
         |HAVING CAST(sum(netpaid) AS DOUBLE) >
         | (SELECT 0.05 * (CAST(sum(netpaid) AS DOUBLE) / count(*))
         |  FROM ssales)""".stripMargin,
    // [Q-tpcds-q39b] TPC-DS Q39's SECOND iteration: the same month-pair of
    // volatile (item, warehouse) inventory cells, but month 1 restricted to
    // the WILDLY volatile at the PUBLISHED cov > 1.5 — reachable since
    // genVersion 14's restock-sawtooth quantity draws (a flat draw bounds the
    // sample cov of an n-snapshot month at sqrt(n−1) ≈ 1.0–1.4; a lean month
    // holding one fresh-restock spike clears 1.5 like dsdgen's).
    "q_tpcds_q39b" ->
      s"""WITH agg AS (
         | SELECT /*+ BROADCAST(date_dim) */
         |  inv_item_sk, inv_warehouse_sk, d_moy, count(*) AS n,
         |  CAST(sum(CAST(inv_quantity_on_hand AS BIGINT)) AS BIGINT) AS s,
         |  CAST(sum(CAST(inv_quantity_on_hand AS BIGINT)
         |    * CAST(inv_quantity_on_hand AS BIGINT)) AS BIGINT) AS ss
         | FROM ${P("inventory")}
         | JOIN ${P("date_dim")} ON inv_date_sk = d_date_sk
         | WHERE d_year = 2000 AND inv_quantity_on_hand IS NOT NULL
         | GROUP BY inv_item_sk, inv_warehouse_sk, d_moy
         | HAVING count(*) >= 2 AND sum(inv_quantity_on_hand) > 0),
         |cov AS (
         | SELECT inv_item_sk, inv_warehouse_sk, d_moy, n, s, ss,
         |  CAST(s AS DOUBLE) / n AS mean,
         |  sqrt(CAST(n * ss - s * s AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))
         |   / (CAST(s AS DOUBLE) / n) AS cov
         | FROM agg WHERE n * (n * ss - s * s) > (n - 1) * s * s)
         |SELECT m1.inv_item_sk, m1.inv_warehouse_sk,
         | m1.mean AS mean1, m1.cov AS cov1, m2.mean AS mean2, m2.cov AS cov2
         |FROM cov m1 JOIN cov m2
         | ON m1.inv_item_sk = m2.inv_item_sk
         | AND m1.inv_warehouse_sk = m2.inv_warehouse_sk
         |WHERE m1.d_moy = 1 AND m2.d_moy = 2
         | AND 4 * m1.n * (m1.n * m1.ss - m1.s * m1.s)
         |   > 9 * (m1.n - 1) * m1.s * m1.s""".stripMargin,
    // [Q-tpcds-q14b] TPC-DS Q14's SECOND iteration: store sales of
    // cross-channel items at the (brand, class, category) grain, this year's
    // month against the same month last year, keeping cells that grew.
    "q_tpcds_q14b" -> {
      def tset(fact: String, pfx: String) =
        s"""SELECT /*+ BROADCAST(item) */ DISTINCT i_brand_id, i_class_id, i_category_id
           | FROM ${P(fact)}
           | JOIN dd3 ON ${pfx}_sold_date_sk = d_date_sk
           | JOIN ${P("item")} ON ${pfx}_item_sk = i_item_sk""".stripMargin
      s"""WITH dd3 AS (SELECT d_date_sk FROM ${P("date_dim")}
         |  WHERE d_year BETWEEN 1999 AND 2001),
         |cross_t AS (
         | (${tset("store_sales", "ss")}
         |  ) INTERSECT (${tset("catalog_sales", "cs")}
         |  ) INTERSECT (${tset("web_sales", "ws")})),
         |dd AS (
         | SELECT d_date_sk, 1 AS is_ty FROM ${P("date_dim")}
         | WHERE d_week_seq = (SELECT /*+ BROADCAST(date_dim) */
         |  d_week_seq FROM ${P("date_dim")}
         |                     WHERE d_date = DATE '2001-12-11')
         | UNION ALL
         | SELECT d_date_sk, 0 FROM ${P("date_dim")}
         | WHERE d_week_seq = (SELECT /*+ BROADCAST(date_dim) */
         |  d_week_seq FROM ${P("date_dim")}
         |                     WHERE d_date = DATE '2000-12-11'))
         |SELECT /*+ BROADCAST(item) */
         | 'store' AS channel, i_brand_id, i_class_id, i_category_id,
         | CAST(sum(CASE WHEN is_ty = 1
         |  THEN CAST(ss_quantity * ss_list_price * 100 AS BIGINT) END)
         |  AS DOUBLE) / 100.0 AS ty_sales,
         | count(CASE WHEN is_ty = 1 THEN 1 END) AS ty_number_sales,
         | CAST(sum(CASE WHEN is_ty = 0
         |  THEN CAST(ss_quantity * ss_list_price * 100 AS BIGINT) END)
         |  AS DOUBLE) / 100.0 AS ly_sales,
         | count(CASE WHEN is_ty = 0 THEN 1 END) AS ly_number_sales
         |FROM ${P("store_sales")}
         |JOIN dd ON ss_sold_date_sk = d_date_sk
         |JOIN ${P("item")} ON ss_item_sk = i_item_sk
         |JOIN cross_t USING (i_brand_id, i_class_id, i_category_id)
         |GROUP BY 2, 3, 4
         |HAVING count(CASE WHEN is_ty = 1 THEN 1 END) > 0
         | AND count(CASE WHEN is_ty = 0 THEN 1 END) > 0
         | AND sum(CASE WHEN is_ty = 1
         |   THEN CAST(ss_quantity * ss_list_price * 100 AS BIGINT) END) >
         |  sum(CASE WHEN is_ty = 0
         |   THEN CAST(ss_quantity * ss_list_price * 100 AS BIGINT) END)""".stripMargin
    },
    // Staged like q23 above (r18, verdict #3): freq/best each feed both
    // channels — materialize the shared aggregates once instead of
    // inlining them per consumer.
    "q_tpcds_q23b" ->
      s"""WITH dd4 AS ${M}(SELECT /*+ BROADCAST(date_dim) */
         | d_date_sk FROM ${P("date_dim")}
         |  WHERE d_year BETWEEN 1999 AND 2002),
         |counts AS ${M}(
         | SELECT ss_item_sk, count(*) AS cnt FROM ${P("store_sales")}
         | JOIN dd4 ON ss_sold_date_sk = d_date_sk GROUP BY 1),
         |freq AS ${M}(SELECT ss_item_sk FROM counts
         | WHERE CAST(cnt AS DOUBLE) >
         |  (SELECT CAST(sum(cnt) AS DOUBLE) / count(*) FROM counts)),
         |spend AS ${M}(SELECT ss_customer_sk AS cust,
         |  sum(ss_quantity * ss_sales_price) AS ssales
         | FROM ${P("store_sales")} JOIN dd4 ON ss_sold_date_sk = d_date_sk
         | WHERE ss_customer_sk IS NOT NULL GROUP BY 1),
         |best AS ${M}(SELECT cust FROM spend
         | WHERE CAST(ssales AS DOUBLE) >
         |  CAST((SELECT max(ssales) FROM spend) AS DOUBLE) * 0.5),
         |ddm AS (SELECT /*+ BROADCAST(date_dim) */ d_date_sk FROM ${P("date_dim")}
         | WHERE d_year = 2000 AND d_moy = 3)
         |SELECT c_last_name, c_first_name, CAST(sum(amt) AS DOUBLE) AS sales
         |FROM (
         | SELECT cs_bill_customer_sk AS buyer,
         |  cs_quantity * cs_list_price AS amt FROM ${P("catalog_sales")}
         | JOIN ddm ON cs_sold_date_sk = d_date_sk
         | WHERE cs_item_sk IN (SELECT ss_item_sk FROM freq)
         |  AND cs_bill_customer_sk IN (SELECT cust FROM best)
         | UNION ALL
         | SELECT ws_bill_customer_sk, ws_quantity * ws_list_price
         | FROM ${P("web_sales")}
         | JOIN ddm ON ws_sold_date_sk = d_date_sk
         | WHERE ws_item_sk IN (SELECT ss_item_sk FROM freq)
         |  AND ws_bill_customer_sk IN (SELECT cust FROM best)) u
         |JOIN ${P("customer")} ON buyer = c_customer_sk
         |GROUP BY 1, 2""".stripMargin)
  }

  /** Oracle body shared by Q98's channel twins Q12/Q20 (Q98 predates the
    * helper and keeps its d_year form). Mirrors the engine's hash-stable
    * discipline: exact integer cents, int→double casts, ROUND at the
    * output boundary. */
  private def classShareOracle(d: TpcSql.Dialect, fact: String, dateCol: String,
      itemCol: String, priceCol: String): String = {
    import d.{Div, P}
    s"""SELECT i_item_id, i_item_desc, i_category, i_class,
       | CAST(i_current_price AS DOUBLE) AS i_current_price,
       | CAST(rev_c AS DOUBLE) / 100.0 AS itemrevenue,
       | CAST((rev_c * 200000000 + sum(rev_c) OVER (PARTITION BY i_class))
       |   $Div (sum(rev_c) OVER (PARTITION BY i_class) * 2) AS DOUBLE)
       |  / 1000000.0 AS revenueratio
       |FROM (SELECT /*+ BROADCAST(date_dim, item) */
       | i_item_id, i_item_desc, i_category, i_class,
       |  i_current_price, sum(CAST($priceCol * 100 AS BIGINT)) AS rev_c
       | FROM ${P(fact)} JOIN ${P("date_dim")} ON $dateCol = d_date_sk
       | JOIN ${P("item")} ON $itemCol = i_item_sk
       | WHERE d_date BETWEEN DATE '2000-02-22' AND DATE '2000-03-23'
       |  AND i_category IN ('Sports', 'Books', 'Home')
       | GROUP BY 1, 2, 3, 4, 5) t""".stripMargin
  }

  /** Oracle body shared by the Q30/Q81 state-outlier twins. Mirrors the
    * engine's hash-stable discipline: exact integer cents, the 1.2× cut
    * decided by integer cross-multiplication (ctr·cnt·5 > total·6), the
    * emitted total one int→double cast plus an IEEE division. */
  private def stateOutlierOracle(P: String => String, fact: String, custCol: String,
      addrCol: String, dateCol: String, amtCol: String,
      homeState: String, extraCols: Seq[String]): String = {
    val extra = extraCols.map(c => s", $c").mkString
    s"""WITH ctr AS (
       | SELECT /*+ BROADCAST(date_dim) */
       |  $custCol AS ctr_customer_sk, ca_state AS ctr_state,
       |  sum(CAST($amtCol * 100 AS BIGINT)) AS ctr_c
       | FROM ${P(fact)}
       | JOIN ${P("date_dim")} ON $dateCol = d_date_sk
       | JOIN ${P("customer_address")} ON $addrCol = ca_address_sk
       | WHERE d_year = 2000
       | GROUP BY 1, 2),
       |thr AS (
       | SELECT ctr_state AS t_state, sum(ctr_c) AS tot_c,
       |  count(ctr_c) AS cnt
       | FROM ctr GROUP BY ctr_state)
       |SELECT c_customer_id, c_salutation, c_first_name, c_last_name$extra,
       | CAST(ctr_c AS DOUBLE) / 100.0 AS ctr_total_return
       |FROM ctr JOIN thr ON ctr_state = t_state
       |JOIN ${P("customer")} ON ctr_customer_sk = c_customer_sk
       |JOIN ${P("customer_address")} ON c_current_addr_sk = ca_address_sk
       |WHERE ctr_c * cnt * 5 > tot_c * 6
       |  AND ca_state = '$homeState'""".stripMargin
  }

  private lazy val sparkTexts = texts(TpcSql.spark)

  /** `name`'s text run on Spark over the fixture-matched generated cache
    * (a pub twin's over its pinned one). */
  private def sql(name: String)(spark: SparkSession, sfDir: String): DataFrame =
    TpcSql.dataFrame(spark, sparkTexts(name), TpcSql.catalog(spark,
      if (pubTwins(name)) pubDir(spark) else ensure(spark, sfDir),
      n => Option.when(graft.schema.TpcdsSchemas.tableNames.contains(n))(graft.schema.TpcdsSchemas(n))))

  /** SparkEntry glue: every declared q_tpcds_* runs its one text
    * ([[TpcSql]]) unless it keeps a hand-written form below. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    oracle.keys.map(n => n -> hand.getOrElse(n, sql(n) _)).toMap

  /** The hand-written forms that stay, each for the reason in its doc. */
  private[graft] val hand: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tpcds_q1" -> q_tpcds_q1,
    "q_tpcds_q72" -> q_tpcds_q72,
    "q_tpcds_q14" -> q_tpcds_q14,
    "q_tpcds_q93" -> q_tpcds_q93,
    "q_tpcds_q5" -> q_tpcds_q5,
    "q_tpcds_q65" -> q_tpcds_q65,
    "q_tpcds_q8" -> q_tpcds_q8,
    "q_tpcds_q31" -> q_tpcds_q31,
    "q_tpcds_q78" -> q_tpcds_q78,
    "q_tpcds_q30" -> q_tpcds_q30,
    "q_tpcds_q81" -> q_tpcds_q81,
    "q_tpcds_q23b" -> q_tpcds_q23b)
}
