package graft.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.TpcdsSchemas
import GenUtil._

/** TPC-DS data generation as native Spark jobs — replaces the reference's
  * dsdgen process fan-out (/root/reference/src/tpcds.rs:34-104:
  * `./dsdgen -FORCE -DIR out -SCALE sf -CHILD i -PARALLEL N` per thread)
  * with `spark.range(n, partitions)` + deterministic column expressions.
  *
  * Fidelity notes (documented deviations, same policy as TpchGen):
  *  - all 24 schemas follow the reference exactly (TpcdsSchemas ←
  *    src/tpcds.rs:135-636): column names, types, decimal precisions,
  *    nullability (surrogate keys non-null, the rest nullable);
  *  - dsdgen's exact RNG streams / value distributions are NOT reproduced —
  *    values are xxhash64-derived from the global row id: deterministic,
  *    partition-count-invariant, schema-exact; every `*_sk` FK is drawn
  *    uniformly over its target dimension's full key range at the given sf
  *    (fkSuffix below), so join selectivity matches dsdgen's shape;
  *  - row counts follow the published sf1 cardinalities scaled linearly;
  *    calendar/fixed dimensions (date_dim, time_dim, income_band, ship_mode)
  *    keep their spec-fixed cardinality at every scale;
  *  - date_dim and time_dim are TRUE CALENDARS (sk 1 = 1900-01-01 / second
  *    0 of day; every derived field computed from the actual date/time),
  *    and fact date FKs draw from the dsdgen-like 1998-2002 sales window —
  *    d_year filters against generated facts have calendar-true
  *    selectivity;
  *  - sales facts are BASKETED (dense ticket/order numbers shared by the
  *    lines of one transaction; customer/date/store/demo FKs drawn at the
  *    basket level) and returns facts re-evaluate the linked sales table's
  *    expressions at an injectively chosen sales line, so
  *    `returns ⋈ sales ON (order, item)` hits the originating sale —
  *    see returnsDf;
  *  - the columns TPC-DS queries filter/group on draw from spec-true small
  *    dictionaries (`dictionaries` below), not free text.
  *
  * Scale design: every table is ONE narrow map job over spark.range — no
  * shuffle, no driver data; 100 TB generation is bounded by write bandwidth.
  * The 24 table jobs are submitted concurrently ([[graft.plans.Fanout]]),
  * and Spark's FIFO scheduler fills the slots a finishing table leaves idle
  * with the next one's tasks. Each table writes one part per
  * [[GenUtil.rowsPerPartition]] range ids, up to the caller's partition
  * count ([[Generator]]): at small scales a task is mostly fixed cost —
  * ~45% of executor-task samples in warm sf0.01 ingest passes (task
  * deserialization 18%, re-generating the projection's source before the
  * codegen-cache lookup 17%, task commit 6%, writer open 3%) — so the
  * 20-row income_band writes one part, not one per core, and sf0.01 at
  * `partitions = 4` writes its 24 tables in 28 parts.
  * Nullable columns carry ~5% deterministic nulls so downstream null-handling
  * paths (outer joins, null-safe predicates) are actually exercised.
  */
object TpcdsGen extends Generator {
  val name = "tpcds"
  def tableNames: Seq[String] = TpcdsSchemas.tableNames
  def tableExt: String = TpcdsSchemas.tableExt
  def schema(table: String): StructType = TpcdsSchemas(table)

  /** Published sf=1 row counts (facts scale linearly; `fixed` dims don't). */
  /** Generated-content version: bump when generation semantics change so
    * marker-gated caches ([[graft.ops.Tpcds.ensure]]) regenerate instead of
    * serving stale content against new invariant tests.
    * v2: arithmetically coherent sales/returns money columns.
    * v3: distinct items within a basket — (order_number, item_sk) is a
    * true PK on every sales channel.
    * v4: warehouse is a per-line draw and the warehouse dim keeps its sf1
    * floor of 5 at small scales (dsdgen ships one order's lines from
    * possibly different warehouses — the published Q95 premise; a
    * 1-warehouse world makes it unsatisfiable).
    * v5: functionally-dependent item merchandise hierarchy (brand → class
    * → category, ids 1:1 with strings).
    * v6: hierarchy-member null coherence — the id and string of one
    * hierarchy member draw ONE shared null decision (independent ~5%
    * draws left rows with i_brand_id non-null but i_brand null, so a
    * grouping by (i_brand_id, i_brand) still fanned an id into a
    * (string, NULL) second group).
    * v7: spec-shaped domains for the remaining filter/group string
    * columns — city/county (shared store↔address domains), i_color,
    * c_preferred_cust_flag/c_salutation, ca_street_type/location_type,
    * cc_class, sm_type — closing the word-salad fidelity tail for the
    * published predicates that name these values.
    * v8: structured 5-digit zips from one shared domain on every *_zip
    * column (Q15/Q45 substr-prefix IN lists, Q19 customer-vs-store zip
    * mismatch, Q8 2-prefix intersection), i_manager_id drawn 1..100
    * like dsdgen (Q19/Q55/Q63 manager predicates), and store/call_center/
    * web_site join warehouse at their sf1 floors (physical-site dims;
    * a 1-store world makes store-discriminating predicates degenerate).
    * v9: variable-length store baskets (1–10 lines per ticket via a
    * closed-form periodic size pattern, see `storePattern`) — the
    * published ticket line-count bucket queries (Q34/Q73) are degenerate
    * over fixed-size baskets; dense tickets, exact row counts, and the
    * returns⋈sales linkage all survive because both line→basket and
    * basket→start stay closed-form.
    * v10: channel-calibrated wholesale draws — ss/cs/ws wholesale_cost is
    * the min / 2nd-smallest / max of four uniforms on the same
    * [1.00, 99.99] range, equalizing expected per-item revenue across the
    * 4:2:1 channel volumes so published cross-channel parity bands (Q58's
    * ±10%) are satisfiable; all money ranges unchanged. Also: dsdgen's
    * small integer domains on the demographics count columns
    * (hd_dep_count 0..9, hd_vehicle_count −1..4, cd_dep_* 0..6 —
    * un-adapts Q13/Q34/Q73/Q96), seasonal sold dates (ten super days +
    * holiday window — gives Q23's published count>4 frequent-item gate
    * support), and structured c_birth_country (see customerCol).
    * v11: dsdgen-syllable store names drawn CYCLICALLY over the tiny
    * store dim (line mod 10 — every name, 'ese' included, exists at any
    * store count >= 10), so Q96's published s_store_name = 'ese' filter
    * runs as published instead of being dropped.
    * v12: the full dsdgen color vocabulary (~90 colors.dst names — every
    * color literal a published query names is in-domain) and the cyclic
    * 20-carrier sm_carrier roster (Q66's published DHL/BARIAN filter).
    * v13: gmt offsets coherent with the row's state (NY→-5 ... CA→-8),
    * so the published ca_gmt_offset/s_gmt_offset = -5 gates run as
    * written (Q33/Q56/Q60/Q61).
    * v14: zip LOCALITY — stores sit in a 12-zip urban core (distinct
    * 2-prefixes) and customer addresses draw 25% from that core, 75%
    * from the full domain, mirroring dsdgen's population-weighted city/
    * zip pairing. Un-adapts Q24's published exact `s_zip = ca_zip`
    * buy-near-home gate (~2.8% of return-matched lines vs ~1% under
    * uniform draws) and Q8's published `count > 10` preferred-customer
    * cut (core-zip counts straddle 10; uniform draws capped at ~8).
    * Also: restock-sawtooth inventory quantities (Q39b's published
    * cov > 1.5, see the inv_quantity_on_hand case) and 15/16-line
    * big-basket sizes in the store pattern (Q34's published 15–20
    * bucket).
    * v15: the full published-literal STATE roster — customer addresses
    * draw from a 55-slot population-weighted list (the v7 10-state core
    * at 4 slots each + the 15 minor states published queries name at 1
    * slot), and store states are CYCLIC over TN + the core (the v11
    * store-name precedent — Q1/Q27/Q36's published s_state = 'TN' must
    * exist at the 12-row store floor; a hash draw misses it with
    * P ≈ 0.31). Un-adapts the Q13/Q48/Q69/Q85 state triplets, Q94's
    * 'IL', and the three 'TN' store gates to their published literals;
    * stateGmt covers the full roster so the v13 (state, gmt) coherence
    * holds everywhere.
    * v16: cyclic counties on the physical-site dims (s_county at the
    * 12-row store floor, cc_county at the 6-row call-center floor) —
    * Q73's published 4-county list and Q16's published Williamson
    * call-center gate run as written instead of depending on a hash
    * draw that misses a county with P ≈ 0.3.
    * v17: ~10% of catalog/web returning parties differ from the buyer
    * (dsdgen returns a fraction of items through someone else). The
    * fresh party is a uniform customer whose cdemo/hdemo/addr keys
    * RE-EVALUATE that customer row's own c_current_* expressions, so the
    * returning keys stay row-coherent; the other 90% keep the v15
    * buyer-is-returner linkage. Q85's published cd1 = cd2 marital/
    * education equality arms become real predicates (~10% of joined rows
    * carry an independent second demographic) instead of vacuous
    * pass-alls.
    * v18: SEASONAL ITEM POPULARITY — items partition into 12 contiguous
    * season blocks (b = n/12 rows; block r peaks in month r+1), colors
    * draw from the block's vocab slice {idx ≡ r mod 12} (colorVocab
    * order is semantic; Q56's slate/blanched/burnished triple shares
    * residue 9 → October), and 30% of sales baskets buy ONLY their sold
    * month's block (a consecutive-row sub-tour, PK-safe by the
    * basket-fits gate). Per-item yearly mass stays flat across the ten
    * non-holiday blocks (each boosted once a year by the same amount);
    * the Nov/Dec blocks run ~1.2–1.7× hotter because the v10
    * super-day/holiday date mass lands in their season — holiday items
    * are more popular, the dsdgen-like shape. Per-(item, sold-month)
    * density concentrates ~4× in season, carrying Q56/Q60's published
    * single-month item-grain reports the way v10 super days carry
    * Q23.
    * v19: customer_demographics CAPPED at its full cross product
    * (1,920,800 rows — dsdgen's fixed size at EVERY scale factor).
    * Below sf1 the linear prefix is unchanged, so all gate-scale caches
    * (sf0.001/0.01/0.1) and sf1 are bit-identical to v18 (GenDiff-
    * verified) and no query result moves; at sf10+ cd stops scaling
    * (the pre-v19 curve minted duplicate demographic rows — 192M at
    * sf100 — and turned every designed cd broadcast fact-sized,
    * measured as a Q64 driver-collect blow-up at sf100). Fact *_cdemo_sk
    * draws follow rowCount, so they span the full cross product from
    * sf1 up, exactly like dsdgen.
    * v20: structured i_units — the dsdgen 21-unit measure roster
    * (unitsRoster), hash-drawn per item and NULL-EXEMPT (see unitsRoster
    * doc). Closes the last dropped published predicate in the suite:
    * q_tpcds_q41_pub now runs the FULL published qualification including
    * the per-arm i_units gates at its pinned proof scale. Only
    * item.i_units moves; every other column of every table is
    * bit-identical to v19 (column-diffed old-vs-new — r14), so all
    * committed density probes for non-units predicates carry over.
    *
    * BUMP LOG (r12 advice: classify every bump as semantic vs refactor,
    * and record the check that matched the class). GenDiff (bit identity)
    * and GenScopeDiff (column-scoped diff) are the mains of commit
    * 6115878; both checks are now `graft.tools.Diag gendiff`:
    *   v18 — SEMANTIC (seasonal popularity redraws item colors + basket
    *         tours); bit-diff expected, change SCOPE column-diffed old-vs-
    *         new per table (only item_sk/i_color and basket item draws
    *         moved — r12).
    *   v19 — SEMANTIC at sf10+ only (cd cross-product cap); sf≤1 caches
    *         GenDiff-verified BIT-IDENTICAL to v18 (r12).
    *   r13 — no bump; no generator-value change this round (pub twins and
    *         bench/scale work only), so no GenDiff run is owed.
    *   v20 — SEMANTIC (i_units dictionary + null exemption); bit-diff
    *         expected on item.i_units ONLY, change SCOPE column-diffed
    *         old-vs-new per table at sf0.01 (r14: 32/32 non-item tables
    *         bit-identical, item identical on all columns but i_units). */
  val genVersion = 20

  /** Prime step of the within-basket item tour (see the item case in
    * colFor); must stay coprime to every supported item row count. */
  private val itemStep = 1000003L

  private val sf1Counts: Map[String, (Long, Boolean)] = Map(
    "call_center"            -> (6L, true),
    "catalog_page"           -> (11718L, false),
    "catalog_sales"          -> (1441548L, false),
    "catalog_returns"        -> (144067L, false),
    "customer"               -> (100000L, false),
    "customer_address"       -> (50000L, false),
    // capped in rowCount: cd is the demographic CROSS PRODUCT, so its
    // sf1 size is also its ceiling — dsdgen emits the same 1,920,800
    // rows at every scale factor; scaling past the full cross product
    // would mint duplicate demographic combinations and turn every
    // designed cd broadcast into a fact-sized relation (measured: the
    // pre-v19 linear curve hit 192M rows at sf100 and blew Q64's
    // broadcast collect past spark.driver.maxResultSize)
    "customer_demographics"  -> (1920800L, false),
    "date_dim"               -> (73049L, true),
    "income_band"            -> (20L, true),
    "household_demographics" -> (7200L, true),
    "inventory"              -> (11745000L, false),
    // v8: ALL physical-site dims hold their sf1 floor (the warehouse
    // precedent below, extended): a 1-store world makes the published
    // store-discriminating predicates (Q8's qualifying-zip semi-join,
    // Q19's store-vs-home zip mismatch) unsatisfiable or degenerate
    "store"                  -> (12L, true),
    "ship_mode"              -> (20L, true),
    "reason"                 -> (35L, false),
    "promotion"              -> (300L, false),
    "item"                   -> (18000L, false),
    "store_sales"            -> (2880404L, false),
    "store_returns"          -> (287514L, false),
    "web_page"               -> (60L, false),
    // fixed: dsdgen keeps tiny physical-site dims at their sf1 floor at
    // small scales (a 1-warehouse world makes the published multi-warehouse
    // predicates, e.g. Q95's, unsatisfiable); grows only ~4x by sf1000
    "warehouse"              -> (5L, true),
    "time_dim"               -> (86400L, true),
    "web_site"               -> (30L, true),
    "web_returns"            -> (71763L, false),
    "web_sales"              -> (719384L, false))

  def rowCount(table: String, sf: Double): Long = {
    val (n, fixed) = sf1Counts(table)
    // cross-product dims scale linearly only UP TO their full cross
    // product (their sf1 size), then stay fixed like dsdgen's: below
    // sf1 the linear prefix keeps the gate-scale caches bit-identical,
    // at and above sf1 the spec-exact fixed size keeps cd broadcastable
    // at any scale (60 MB, never fact-sized)
    if (fixed) n
    else if (table == "customer_demographics") math.max(1L, math.min((n * sf).toLong, n))
    else math.max(1L, (n * sf).toLong)
  }

  /** FK column-name suffix → target dimension (TPC-DS naming convention;
    * dsdgen draws every `*_sk` FK over the target dim's full key range,
    * /root/reference/src/tpcds.rs:51-62, and so do we — a fixed 1..1000
    * domain would break join selectivity and plant hot keys at scale). */
  private val fkSuffix: Seq[(String, String)] = Seq(
    "_date_sk" -> "date_dim",
    "_time_sk" -> "time_dim",
    "_item_sk" -> "item",
    "_customer_sk" -> "customer",
    "_cdemo_sk" -> "customer_demographics",
    "_hdemo_sk" -> "household_demographics",
    "_addr_sk" -> "customer_address",
    "_store_sk" -> "store",
    "_promo_sk" -> "promotion",
    "_reason_sk" -> "reason",
    "_warehouse_sk" -> "warehouse",
    "_web_page_sk" -> "web_page",
    "_web_site_sk" -> "web_site",
    "_call_center_sk" -> "call_center",
    "_catalog_page_sk" -> "catalog_page",
    "_ship_mode_sk" -> "ship_mode",
    "_income_band_sk" -> "income_band")

  /** Resolve a `*_sk` column to its FK target dim, if the suffix maps. */
  private def fkTarget(colName: String): Option[String] =
    fkSuffix.collectFirst { case (suf, dim) if colName.endsWith(suf) => dim }

  /** Lines per basket: rows of a sales fact sharing one ticket/order number
    * (dsdgen groups ~2-10 lineitems per ticket). All basket-level FKs
    * (customer, date, time, store, demo, address — everything except the
    * per-line item/promo) are drawn from the BASKET id, so the lines of one
    * ticket describe one coherent transaction, exactly the invariant
    * TPC-DS-shaped queries (returns joins, ticket rollups) rely on. */
  private val basketLines: Map[String, Int] =
    Map("store_sales" -> 3, "catalog_sales" -> 4, "web_sales" -> 4)

  /** v9: VARIABLE-length store baskets. dsdgen store tickets hold ~1–12
    * lines (the published ticket line-COUNT bucket queries — Q34/Q73/Q46 —
    * are meaningless over fixed-size baskets). Sizes follow a fixed
    * periodic pattern over the dense line-id sequence: block k of
    * `sum(pattern)` consecutive lines holds exactly `pattern.length`
    * consecutive baskets with those sizes. Both mappings stay CLOSED-FORM
    * (no prefix sums): basket(line) counts pattern boundaries below
    * `line mod T`, start(basket) looks the offset up by `basket mod P` —
    * so generation remains partition-count invariant, ticket numbers stay
    * dense 1-based, declared row counts stay exact, and the returns
    * linkage re-derives the same basket for any sales line. The
    * basket-size sequence cycles with period 16 rather than hashing —
    * basket-LEVEL draws still hash the basket id, so no published
    * predicate can see the cycle (it would have to relate ticket-number
    * arithmetic to line counts). Catalog/web keep fixed 4-line orders
    * (no published count-bucket query reads them). */
  private[graft] val storePattern: Seq[Int] =
    // v14: two big-basket sizes (15, 16) — the published Q34 bucket
    // (count BETWEEN 15 AND 20) needs tickets in that band; the max stays
    // ≤ 18 so the within-basket distinct-item tour still fits the
    // sf0.001 item floor (18 rows)
    Seq(1, 6, 3, 15, 2, 8, 5, 16, 4, 7, 2, 6, 1, 9, 5, 8) // sum 98, avg 6.125
  private val storeCum: Seq[Int] = storePattern.scanLeft(0)(_ + _) // len 17
  private def variablePattern(tbl: String): Option[Seq[Int]] =
    if (tbl == "store_sales") Some(storePattern) else None

  /** Max lines a basket of `tbl` can hold (item-tour distinctness bound). */
  private def maxBasketLines(tbl: String): Int =
    variablePattern(tbl).map(_.max).getOrElse(basketLines(tbl))

  /** The basket (ticket/order) index a dense line id belongs to. */
  private def basketOfLine(tbl: String, line: Column): Column =
    variablePattern(tbl) match {
      case Some(pat) =>
        val t = pat.sum
        val r = (line % t).cast(IntegerType)
        val inBlock = storeCum.slice(1, pat.size) // interior boundaries
          .map(c => when(r >= c, 1L).otherwise(0L)).reduce(_ + _)
        floor(line / t).cast(LongType) * pat.size + inBlock
      case None => floor(line / basketLines(tbl)).cast(LongType)
    }

  /** A line's 0-based index within its basket (drives the item tour). */
  private def lineIdxInBasket(tbl: String, line: Column, basket: Column): Column =
    variablePattern(tbl) match {
      case Some(pat) =>
        val t = pat.sum
        val start = element_at(
          array(storeCum.init.map(c => lit(c)): _*),
          (pmod(basket, lit(pat.size.toLong)) + 1).cast(IntegerType))
        (line % t).cast(LongType) - start
      case None => line - basket * basketLines(tbl)
    }

  /** Ticket/order-number columns: dense basket ids (1-based), NOT hash noise —
    * joining returns on (order, item) must hit the originating sale.
    * IntegerType per the reference schema; overflows past ~6.4e9 rows/table
    * (sf ≳ 2200), far beyond any published TPC-DS scale. */
  private val orderNumberCols: Set[String] =
    Set("ss_ticket_number", "cs_order_number", "ws_order_number")

  /** Basket-level columns of a sales fact: every FK except the per-line
    * item/promo/warehouse picks (dsdgen ships the lines of one order from
    * possibly different warehouses — the premise of the published Q95
    * "more than one warehouse" predicate). */
  private def basketLevel(name: String): Boolean =
    name.endsWith("_sk") && !name.endsWith("_item_sk") &&
      !name.endsWith("_promo_sk") && !name.endsWith("_warehouse_sk")

  private def tagOf(tbl: String, i: Int): Int = tbl.hashCode * 131 + i * 31 + 17

  /** v12: the FULL dsdgen color vocabulary (colors.dst, ~90 names) —
    * published color predicates (Q24's 'pale', Q56's slate/blanched/
    * burnished, Q41/Q64's lists) name values OUTSIDE the old 16-color
    * slice; every color literal a published query mentions exists in the
    * domain. v18 ORDER IS SEMANTIC: an item's SEASON block (index/
    * (n/12), see itemCol/skCol) draws its color from the vocab slice
    * {idx ≡ block (mod 12)} — a retail fashion-season model: colors
    * belong to a month, and in-season baskets (skCol's redirect) buy
    * that month's items. The list is the v12 alphabet with two swaps
    * (blanched↔blush, burnished↔dark) putting Q56's published
    * slate/blanched/burnished triple in one residue class (9 → month
    * 10), so the triple's items all peak in October and the published
    * single-month item-grain report has real cells at gate scale. */
  private[graft] val colorVocab: Seq[String] = Seq(
    "almond", "antique", "aquamarine", "azure", "beige",
    "bisque", "black", "blush", "blue", "blanched", "brown", "burlywood",
    "dark", "chartreuse", "chiffon", "chocolate", "coral",
    "cornflower", "cornsilk", "cream", "cyan", "burnished", "deep", "dim",
    "dodger", "drab", "firebrick", "floral", "forest", "frosted",
    "gainsboro", "ghost", "goldenrod", "green", "grey", "honeydew",
    "hot", "icy", "indian", "ivory", "khaki", "lace", "lavender",
    "lawn", "lemon", "light", "lime", "linen", "magenta", "maroon",
    "medium", "metallic", "midnight", "mint", "misty", "moccasin",
    "navajo", "navy", "olive", "orange", "orchid", "pale", "papaya",
    "peach", "persian", "peru", "pink", "plum", "powder", "puff",
    "purple", "red", "rose", "rosy", "royal", "saddle", "salmon",
    "sandy", "seashell", "sienna", "sky", "slate", "smoke", "snow",
    "spring", "steel", "tan", "thistle", "tomato", "turquoise",
    "violet", "wheat", "white", "yellow")

  /** City/county domains shared by store and customer_address (published
    * queries compare a store's city against the customer's — Q68's
    * bought-city vs home-city predicate needs a shared domain). Declared
    * BEFORE `dictionaries`, which captures them at object init. */
  private val cities = Seq("Midway", "Fairview", "Oak Grove", "Five Points",
    "Oakland", "Riverside", "Salem", "Georgetown", "Liberty", "Greenville",
    "Bridgeport", "Union", "Centerville", "Pleasant Hill")
  private val counties = Seq("Williamson County", "Ziebach County",
    "Walker County", "Daviess County", "Barrow County", "Franklin Parish",
    "Luce County", "Richland County", "Bronx County", "Orange County")
  /** v11: dsdgen's base-10 number syllables — its store names ARE these
    * (spec digit words: ought=0 able=1 pri=2 ese=3 anti=4 cally=5
    * ation=6 eing=7 hov=8 bar=9); Q96 filters s_store_name = 'ese'. */
  private[graft] val storeNameSyllables: Seq[String] = Seq("ought", "able",
    "pri", "ese", "anti", "cally", "ation", "eing", "hov", "bar")

  /** v13: US timezone offset per generated state (dsdgen ties each address
    * state to its gmt offset; published Q33/Q56/Q60/Q61 filter on it).
    * v15: extended over the full roster — standard-time offsets for every
    * state the generator can draw, so (state, gmt) pairs stay coherent.
    * The published `= -5` gate keeps the 6 major + 5 minor eastern
    * states, ~51% of addresses under the 55-slot weights. */
  private[graft] val stateGmt: Map[String, Int] = Map(
    "CA" -> -8, "WA" -> -8, "IL" -> -6, "TX" -> -6,
    "NY" -> -5, "FL" -> -5, "PA" -> -5, "OH" -> -5, "GA" -> -5, "MI" -> -5,
    // v15 minors (+ the cyclic store roster's TN)
    "TN" -> -6, "AR" -> -6, "CO" -> -7, "CT" -> -5, "IA" -> -6,
    "IN" -> -5, "KY" -> -5, "LA" -> -6, "MN" -> -6, "MS" -> -6,
    "NJ" -> -5, "NM" -> -7, "OR" -> -8, "VA" -> -5, "WI" -> -6)

  /** v15: the 10-state population core (the v7 domain) and the 15 minor
    * states published predicates name (Q13's OR/NM/KY + VA/MS arms, Q48's
    * CO/MN triplets, Q69's KY/NM, Q85's IN/NJ/WI/CT/LA/IA/AR, Q94's IL).
    * Customer addresses draw from a 55-slot weighted list — majors 4
    * slots (7.3% each), minors 1 (1.8%) — a population-shaped mixture;
    * duplicate slots carry the weights through both the state pick and
    * the v13 gmt-offset derivation (same slot index). */
  private[graft] val majorStates: Seq[String] =
    Seq("CA", "NY", "TX", "FL", "IL", "PA", "OH", "GA", "MI", "WA")
  private[graft] val minorStates: Seq[String] =
    Seq("AR", "CO", "CT", "IA", "IN", "KY", "LA", "MN",
      "MS", "NJ", "NM", "OR", "TN", "VA", "WI")
  private[graft] val caStateSlots: Seq[String] =
    majorStates.flatMap(s => Seq.fill(4)(s)) ++ minorStates

  /** v15: store states, CYCLIC over the 12-row dim (the v11 store-name
    * precedent): TN first so Q1/Q27/Q36's published s_state = 'TN' point
    * filters are guaranteed non-empty at every scale, then the core. */
  private[graft] val storeStates: Seq[String] = "TN" +: majorStates

  /** v12: the dsdgen carrier roster (ship_mode.dat's 20 carriers, one per
    * row of the 20-row fixed dim). CYCLIC like the store names so every
    * carrier — including Q66's published 'DHL' and 'BARIAN' — exists at
    * every scale; a hash draw could miss one. */
  private[graft] val carriers: Seq[String] = Seq("UPS", "FEDEX", "AIRBORNE",
    "USPS", "DHL", "TBS", "ZHOU", "ZOUROS", "MSC", "LATVIAN", "HARMSTORF",
    "PRIVATECARRIER", "DIAMOND", "ORIENTAL", "BOXBUNDLES", "ALLIANCE",
    "GREAT EASTERN", "GERMA", "RUPEKSA", "BARIAN")

  /** v20: the dsdgen unit-of-measure roster (units.dst — the 21 names
    * dsdgen draws i_units from; reference schema field: the item table's
    * `i_units` column, /root/reference/src/tpcds.rs:266). Q41's
    * published qualification gates on 16 of these (Ounce/Oz, Bunch/Ton,
    * N/A/Dozen, Box/Pound, Pallet/Gross, Cup/Dram, Each/Tbl, Lb/Bundle);
    * a word-salad domain could never contain them, so the gates had to
    * be dropped before v20. Hash-drawn (item scales with sf — every unit
    * exists whp at the 2000-row sf0.01 floor, P(miss one) < 1e-40) but
    * NULL-EXEMPT like the v11/v12 structural rosters: Q41's per-arm
    * (category × color × units × size) joint leaves single-digit
    * qualifying items at the sf1 proof scale, so a 5% null draw on the
    * gate column would make the published-form proof a coin flip. */
  private[graft] val unitsRoster: Seq[String] = Seq("Unknown", "Each",
    "Dozen", "Case", "Pallet", "Gross", "Ounce", "Pound", "Ton", "Dram",
    "Oz", "Lb", "Bunch", "Box", "Carton", "Cup", "Gram", "N/A", "Tbl",
    "Tsp", "Bundle")

  /** v10: dsdgen-style composed street names (first + second part). */
  private val streetNames: Seq[String] = {
    val first = Seq("Oak", "Maple", "Cedar", "Elm", "Pine", "Walnut",
      "Cherry", "Willow", "Hickory", "Birch", "Sunset", "Ridge", "Lake",
      "Hill", "Park", "River", "Spring", "Valley", "Forest", "Meadow")
    val second = Seq("", " Ridge", " Hill", " View", " Creek", " Grove")
    for (f <- first; s <- second) yield s"$f$s"
  }

  /** Structured 5-digit zip domain shared by every *_zip column (customer
    * address, store, warehouse, call center, web site). dsdgen zips are
    * 5-digit strings, and the published zip queries depend on that shape:
    * Q15/Q45 filter `substr(ca_zip, 1, 5) IN (...)`, Q19 compares the
    * customer's zip prefix against the store's, Q8 intersects store zip
    * 2-prefixes with high-customer-count zip 2-prefixes. 100 values with
    * ~60 distinct 2-prefixes keep both grains selective without leaving
    * single-row groups at test scale. */
  private val zips: Seq[String] =
    (0 until 100).map(i => f"${10000 + i * 607}%05d")

  /** v14: the urban-core zip subset stores sit in (every 8th domain zip —
    * 12 values whose 2-prefixes are pairwise distinct, so the store
    * 2-prefix grain Q8 intersects on stays as wide as the store dim).
    * Customer addresses draw 25% from this core (see the ca_zip case in
    * colFor), giving the published near-home predicates real support:
    * Q24's exact `s_zip = ca_zip` and Q8's per-prefix preferred-customer
    * `count > 10` cut both straddle their published constants. */
  private val coreZips: Seq[String] = (0 until 100 by 8).map(zips).take(12)

  /** Spec-true dictionaries for the columns TPC-DS queries filter and group
    * on (dsdgen draws these from fixed small domains, not free text; the
    * published queries' selectivity depends on the domain sizes). Columns not
    * listed here keep the generic word-salad strings. */
  private val dictionaries: Map[String, Seq[String]] = {
    val yn = Seq("Y", "N")
    Map(
      "cd_gender" -> Seq("M", "F"),
      "cd_marital_status" -> Seq("M", "S", "D", "W", "U"),
      "cd_education_status" -> Seq("Primary", "Secondary", "College",
        "2 yr Degree", "4 yr Degree", "Advanced Degree", "Unknown"),
      "cd_credit_rating" -> Seq("Low Risk", "Good", "High Risk", "Unknown"),
      "hd_buy_potential" -> Seq("0-500", "501-1000", "1001-5000",
        "5001-10000", ">10000", "Unknown"),
      "i_category" -> Seq("Books", "Children", "Electronics", "Home",
        "Jewelry", "Men", "Music", "Shoes", "Sports", "Women"),
      "i_size" -> Seq("petite", "small", "medium", "large", "extra large",
        "economy", "N/A"),
      // v15: weighted 55-slot roster (majors ×4 + minors ×1); s_state is
      // NOT dictionary-drawn — it cycles over storeStates (see colFor) so
      // the published 'TN' store gates can never be missed by a hash draw
      "ca_state" -> caStateSlots,
      "p_channel_dmail" -> yn, "p_channel_email" -> yn,
      "p_channel_catalog" -> yn, "p_channel_tv" -> yn,
      "p_channel_radio" -> yn, "p_channel_press" -> yn,
      "p_channel_event" -> yn, "p_channel_demo" -> yn,
      // v7: the remaining columns published queries filter/group on draw
      // from spec-shaped small domains instead of word salad — city/county
      // names and ship-mode types are the documented TPC-DS data domains
      // (published Q34/Q68/Q99 predicates name these values)
      "c_preferred_cust_flag" -> yn,
      "c_salutation" -> Seq("Mr.", "Mrs.", "Ms.", "Dr.", "Miss", "Sir"),
      "i_color" -> colorVocab,
      // v20: dsdgen's 21-unit measure roster (null-exempt — see
      // unitsRoster's doc; Q41's published per-arm i_units gates)
      "i_units" -> unitsRoster,
      "s_city" -> cities, "ca_city" -> cities,
      // v16: s_county/cc_county are CYCLIC (see colFor) — only the
      // address-side county keeps the hash draw
      "ca_county" -> counties,
      "ca_street_type" -> Seq("Street", "Avenue", "Boulevard", "Court",
        "Drive", "Lane", "Parkway", "Road", "Way", "Circle"),
      // v10: structured street names (dsdgen composes them from a fixed
      // name list; Q81's published address block projects them)
      "ca_street_name" -> streetNames,
      "ca_location_type" -> Seq("apartment", "condo", "single family"),
      "cc_class" -> Seq("small", "medium", "large"),
      "sm_type" -> Seq("EXPRESS", "NEXT DAY", "OVERNIGHT", "REGULAR",
        "TWO DAY", "LIBRARY"),
      // v8: zip columns draw 5-digit values from one shared domain (see
      // `zips` — the published substr-prefix predicates need the shape).
      // v14: stores draw from the urban core only; ca_zip is a 25/75
      // core/domain mixture handled as a colFor special case.
      "s_zip" -> coreZips, "w_zip" -> zips,
      "cc_zip" -> zips, "web_zip" -> zips,
      // v10: structured countries — dsdgen pins every address country to
      // 'United States' and draws birth countries from the uppercase FIPS
      // list, so Q24's `c_birth_country <> upper(ca_country)` actually
      // discriminates (word salad made it vacuously true) and Q30/Q81's
      // published customer/address SELECT blocks carry real values
      "ca_country" -> Seq("United States"),
      "c_birth_country" -> Seq("UNITED STATES", "CANADA", "MEXICO",
        "BRAZIL", "ARGENTINA", "UNITED KINGDOM", "FRANCE", "GERMANY",
        "ITALY", "SPAIN", "PORTUGAL", "NETHERLANDS", "BELGIUM", "IRELAND",
        "POLAND", "ROMANIA", "GREECE", "TURKEY", "RUSSIA", "UKRAINE",
        "CHINA", "JAPAN", "INDIA", "VIETNAM", "THAILAND", "PHILIPPINES",
        "INDONESIA", "AUSTRALIA", "NEW ZEALAND", "SOUTH AFRICA", "EGYPT",
        "NIGERIA", "KENYA", "CHILE", "PERU", "COLOMBIA"))
  }

  /** Returns-fact linkage: each returns row references an ACTUAL sales row
    * (dsdgen emits a return for ~10% of sales; the reference gets this for
    * free by shelling out to dsdgen, src/tpcds.rs:51-62). The linked sales
    * row is a deterministic hash of the returns row id; item/order-number/
    * customer/date columns re-evaluate the SALES table's expressions at that
    * row, so `returns ⋈ sales ON (order, item)` has dsdgen-like selectivity. */
  private case class ReturnsLink(salesTbl: String, orderCol: String,
    returnedDateCol: String, soldDateCol: String, linked: Map[String, String])

  private val returnsLinks: Map[String, ReturnsLink] = Map(
    "store_returns" -> ReturnsLink("store_sales", "sr_ticket_number",
      "sr_returned_date_sk", "ss_sold_date_sk", Map(
        "sr_item_sk" -> "ss_item_sk",
        "sr_customer_sk" -> "ss_customer_sk",
        "sr_cdemo_sk" -> "ss_cdemo_sk",
        "sr_hdemo_sk" -> "ss_hdemo_sk",
        "sr_addr_sk" -> "ss_addr_sk",
        "sr_store_sk" -> "ss_store_sk")),
    "catalog_returns" -> ReturnsLink("catalog_sales", "cr_order_number",
      "cr_returned_date_sk", "cs_sold_date_sk", Map(
        "cr_item_sk" -> "cs_item_sk",
        "cr_refunded_customer_sk" -> "cs_bill_customer_sk",
        "cr_refunded_cdemo_sk" -> "cs_bill_cdemo_sk",
        "cr_refunded_hdemo_sk" -> "cs_bill_hdemo_sk",
        "cr_refunded_addr_sk" -> "cs_bill_addr_sk",
        // v15: the returning party IS the buyer (dsdgen's common case,
        // already true for the customer key) — their demographics and
        // address rows follow, so Q85's published cd1 = cd2
        // double-demographic equality selects real rows. v17: returnsDf
        // overrides ~10% of rows with an independent returning party
        // (see retParty), so the equality arms retain real selectivity.
        "cr_returning_customer_sk" -> "cs_bill_customer_sk",
        "cr_returning_cdemo_sk" -> "cs_bill_cdemo_sk",
        "cr_returning_hdemo_sk" -> "cs_bill_hdemo_sk",
        "cr_returning_addr_sk" -> "cs_bill_addr_sk",
        "cr_call_center_sk" -> "cs_call_center_sk",
        "cr_catalog_page_sk" -> "cs_catalog_page_sk",
        "cr_warehouse_sk" -> "cs_warehouse_sk")),
    "web_returns" -> ReturnsLink("web_sales", "wr_order_number",
      "wr_returned_date_sk", "ws_sold_date_sk", Map(
        "wr_item_sk" -> "ws_item_sk",
        "wr_refunded_customer_sk" -> "ws_bill_customer_sk",
        "wr_refunded_cdemo_sk" -> "ws_bill_cdemo_sk",
        "wr_refunded_hdemo_sk" -> "ws_bill_hdemo_sk",
        "wr_refunded_addr_sk" -> "ws_bill_addr_sk",
        "wr_returning_customer_sk" -> "ws_bill_customer_sk",
        "wr_returning_cdemo_sk" -> "ws_bill_cdemo_sk",
        "wr_returning_hdemo_sk" -> "ws_bill_hdemo_sk",
        "wr_returning_addr_sk" -> "ws_bill_addr_sk",
        "wr_web_page_sk" -> "ws_web_page_sk")))

  /** date_dim's calendar epoch: sk 1 = 1900-01-01 (73,049 rows → 2099). */
  private val calEpoch = java.time.LocalDate.of(1900, 1, 1)
  private def skOf(date: java.time.LocalDate): Long =
    java.time.temporal.ChronoUnit.DAYS.between(calEpoch, date) + 1
  /** Date FKs draw from the dsdgen-like 5-year sales window (1998-2002),
    * not the full 200-year calendar — date-dim filters (d_year = 2000)
    * then hit realistic selectivity on generated facts. */
  private val dateSkLo = skOf(java.time.LocalDate.of(1998, 1, 1))
  private val dateSkHi = skOf(java.time.LocalDate.of(2002, 12, 31))

  /** v10: seasonal sold-date mix — 20% of sales land on ten fixed "super
    * days" per year (Black-Friday-like, each ≈ 15× an average day), 10%
    * on the Nov 15 – Dec 31 holiday window, 70% uniform. Gives Q23's
    * published HAVING count(*) > 4 per (item, d_date) real support
    * (λ(item, super day) ≈ 0.64, scale-invariant) while every d_year
    * stays equally likely. Applied ONLY to `*_sold_date_sk`. */
  private val superDaySks: Seq[Long] = for {
    year <- 1998 to 2002
    (m, d) <- Seq((11, 24), (11, 27), (12, 14), (12, 15), (12, 16),
      (12, 17), (12, 18), (12, 19), (12, 20), (12, 21))
  } yield skOf(java.time.LocalDate.of(year, m, d))
  private val holidayStartSks: Seq[Long] =
    (1998 to 2002).map(y => skOf(java.time.LocalDate.of(y, 11, 15)))
  private def seasonalSoldDateSk(src: Column, tag: Int): Column = {
    val sel = pmod(h(src, tag), lit(10L))
    // +10x offsets stay clear of neighbour tags (tags ≡ 17 mod 31)
    val superPick = element_at(array(superDaySks.map(lit): _*),
      (pmod(h(src, tag + 101), lit(superDaySks.size.toLong)) + 1)
        .cast(IntegerType))
    val holPick = element_at(array(holidayStartSks.map(lit): _*),
      (pmod(h(src, tag + 102), lit(5L)) + 1).cast(IntegerType)) +
      pmod(h(src, tag + 103), lit(47L))
    when(sel < 2, superPick).when(sel < 3, holPick)
      .otherwise(uniLong(src, tag + 104, dateSkLo, dateSkHi))
  }

  /** Per-column tag keyed by column NAME (stable across call sites): the
    * derived-money expressions must re-draw the SAME primitive (quantity,
    * markup, discount …) from several consuming columns. */
  private def tagFor(tbl: String, name: String): Int =
    tagOf(tbl, schema(tbl).fieldNames.indexOf(name))

  private val D2 = DecimalType(7, 2)
  private def d2(c: Column): Column = c.cast(D2)

  /** v10: dsdgen's small integer domains for the demographics count
    * columns (household: dep 0..9, vehicle −1..4; customer: deps 0..6) —
    * the published equality/inequality predicates over them (Q13's
    * hd_dep_count = 3, Q34/Q73's dep/vehicle ratio buckets, Q96's
    * hd_dep_count = 3) select real fractions instead of ~0 of rows. */
  private val smallIntDomains: Map[String, (Long, Long)] = Map(
    "hd_dep_count"           -> (0L, 9L),
    "hd_vehicle_count"       -> (-1L, 4L),
    "cd_dep_count"           -> (0L, 6L),
    "cd_dep_employed_count"  -> (0L, 6L),
    "cd_dep_college_count"   -> (0L, 6L),
    // calendar-true birth dates (dsdgen draws 1924-1992; Q18's published
    // c_birth_month IN (...) and birth-column SELECT blocks need them)
    "c_birth_day"            -> (1L, 31L),
    "c_birth_month"          -> (1L, 12L),
    "c_birth_year"           -> (1924L, 1992L))

  /** Sales-fact money columns, ARITHMETICALLY COHERENT (dsdgen emits these
    * as a derivation chain, not independent draws — queries with
    * price-arithmetic predicates depend on it): per-line primitives
    * quantity ∈ [1,100], wholesale ∈ [1,99.99], markup ∈ [1.20,2.50],
    * discount ∈ [0,0.90], tax ∈ [0,9%] drive
    * list = whl·markup, sales = list·(1−disc), ext_* = unit·qty,
    * net_paid = ext_sales − coupon, net_profit = net_paid − ext_wholesale,
    * with every stored value rounded to cents (DECIMAL(7,2)) so the
    * relations hold EXACTLY on the stored columns. All decimal arithmetic —
    * deterministic and partition-invariant like every other column; bounds
    * keep every ext value < 25 000, inside DECIMAL(7,2). Evaluated at the
    * explicit line id, so returnsDf re-derives the SAME values at the
    * linked sales line. None for non-money columns → generic path. */
  private def salesMoney(tbl: String, name: String, line: Column): Option[Column] = {
    if (!basketLines.contains(tbl)) return None
    val pfx = name.take(2)
    def inlineRef(key: String): Column =
      moneyExpr(tbl, pfx, key, line, inlineRef).getOrElse(
        throw new IllegalArgumentException(s"unknown money dependency $key"))
    moneyExpr(tbl, pfx, name.drop(3), line, inlineRef)
  }

  /** One stored sales-money column (canonical suffix, e.g. "net_paid") as
    * an expression whose dependencies on OTHER stored money columns are
    * fetched through `ref`. Two resolution modes, identical values (pure
    * common-subexpression naming — genVersion unchanged):
    *  - inline recursion (salesMoney): each dependency expands in place.
    *    Used where a value appears once, e.g. returnsDf re-evaluating
    *    its linked sale's price.
    *  - named stage columns (salesDf): `ref` returns a column computed
    *    once in an earlier stacked select. Used for the sales facts' own
    *    projection, where inline expansion duplicated the derivation
    *    chain across 16 output columns exponentially and blew janino's
    *    64 KB generated-method limit (whole-stage codegen then silently
    *    fell back to interpreted projection).
    * v10 wholesale note: CHANNEL-CALIBRATED wholesale — an order statistic
    * of four draws over the SAME [1.00, 99.99] range (store = min, catalog
    * = 2nd smallest, web = max of 4 → means ≈ 20.8 / 40.4 / 80.8), inverse
    * to the 4:2:1 channel row volumes, so total and per-item expected
    * revenue is EQUAL across channels (within ~3%) and Q58/Q83-style
    * published cross-channel parity bands are satisfiable. Every stored
    * value keeps its published range. Tag offsets 1001..1004 never collide
    * with a neighbour column's tag (tags are ≡17 mod 31; 100x+k isn't). */
  private def moneyExpr(tbl: String, pfx: String, key: String, line: Column,
      ref: String => Column): Option[Column] = {
    def t(n: String) = tagFor(tbl, s"${pfx}_$n")
    def frac(tag: Int, n: Int) = // uniform k/100 for k in [0, n-1], exact decimal
      pmod(h(line, tag), lit(n.toLong)).cast(DecimalType(12, 2)) / 100
    key match {
      case "quantity" =>
        Some((pmod(h(line, t("quantity")), lit(100L)) + 1).cast(IntegerType))
      case "wholesale_cost" =>
        val u = (1 to 4).map(k =>
          (pmod(h(line, t("wholesale_cost") + 1000 + k), lit(9900L)) + 100)
            .cast(DecimalType(12, 2)) / 100)
        val lo1 = least(u(0), u(1)); val hi1 = greatest(u(0), u(1))
        val lo2 = least(u(2), u(3)); val hi2 = greatest(u(2), u(3))
        Some(d2(pfx match {
          case "ss" => least(lo1, lo2)
          case "cs" => least(greatest(lo1, lo2), least(hi1, hi2))
          case _    => greatest(hi1, hi2) // "ws"
        }))
      case "list_price" => Some(d2(ref("wholesale_cost") *
        (lit(BigDecimal("1.20")) + frac(t("list_price"), 131))))
      case "sales_price" => Some(d2(ref("list_price") *
        (lit(1) - frac(t("sales_price"), 91))))
      case "ext_discount_amt" =>
        Some(d2((ref("list_price") - ref("sales_price")) * ref("quantity")))
      case "ext_sales_price" => Some(d2(ref("sales_price") * ref("quantity")))
      case "ext_wholesale_cost" =>
        Some(d2(ref("wholesale_cost") * ref("quantity")))
      case "ext_list_price" => Some(d2(ref("list_price") * ref("quantity")))
      case "ext_tax" => Some(d2(ref("ext_sales_price") * frac(t("ext_tax"), 10)))
      case "coupon_amt" =>
        Some(when(pmod(h(line, t("coupon_amt")), lit(5)) < 4, d2(lit(0)))
          .otherwise(d2(ref("ext_sales_price") * frac(t("coupon_amt") + 1, 51))))
      case "ext_ship_cost" =>
        Some(d2(ref("list_price") * ref("quantity") * frac(t("ext_ship_cost"), 51)))
      case "net_paid" => Some(d2(ref("ext_sales_price") - ref("coupon_amt")))
      case "net_paid_inc_tax" => Some(d2(ref("net_paid") + ref("ext_tax")))
      case "net_paid_inc_ship" => Some(d2(ref("net_paid") + ref("ext_ship_cost")))
      case "net_paid_inc_ship_tax" =>
        Some(d2(ref("net_paid") + ref("ext_ship_cost") + ref("ext_tax")))
      case "net_profit" => Some(d2(ref("net_paid") - ref("ext_wholesale_cost")))
      case _ => None
    }
  }

  /** Stored money columns shared across downstream columns, in dependency
    * order — each level's expressions reference ONLY earlier levels. These
    * become named columns in salesDf's stacked selects; the remaining
    * money columns (ext_discount_amt, ext_list_price, net_paid_inc_*,
    * net_profit) are consumed nowhere else and stay in the final
    * projection. */
  private val salesMoneyLevels: Seq[Seq[String]] = Seq(
    Seq("quantity", "wholesale_cost"),
    Seq("list_price"),
    Seq("sales_price"),
    Seq("ext_sales_price", "ext_ship_cost", "ext_wholesale_cost"),
    Seq("ext_tax", "coupon_amt"),
    Seq("net_paid"))

  /** A sales fact as STAGED stacked selects: the basket id and each shared
    * money value is computed once as a named column, and the final
    * projection references them. CollapseProject keeps the stages apart
    * (each named column is a non-cheap expression referenced more than
    * once downstream), so whole-stage codegen emits each value once and
    * the generated method stays far under janino's 64 KB limit — where
    * the old single-select form inlined the whole derivation chain into
    * each of the 16 money outputs and fell back to interpreted eval.
    * Known seam: a FILTER composed directly over this live plan on several
    * derived money columns at once gets pushed through the stages by
    * Catalyst with full alias re-inlining (staging can't block predicate
    * pushdown) and can itself exceed 64 KB — correct via Spark's
    * interpreted fallback, just slow. The product's consumption path
    * (ensure()/CLI) materializes to parquet first, where filters hit the
    * scan instead. */
  private def salesDf(tbl: String, sf: Double, baseDf: DataFrame): DataFrame = {
    val st = schema(tbl)
    val pfx = st.fields.head.name.take(2)
    val line = col("id")
    def stagedRef(key: String): Column = col(s"__$key")
    val withBasket = baseDf.select(col("id"),
      basketOfLine(tbl, col("id")).as("__basket"))
    val staged = salesMoneyLevels.foldLeft(withBasket) { (df, level) =>
      df.select(df.columns.map(col) ++ level.map(k =>
        moneyExpr(tbl, pfx, k, line, stagedRef).get.as(s"__$k")): _*)
    }
    val stagedNames = salesMoneyLevels.flatten.toSet
    val cols = st.fields.zipWithIndex.map { case (f, i) =>
      val suffix = f.name.drop(3)
      val src = if (basketLevel(f.name)) col("__basket") else line
      val c =
        if (stagedNames(suffix))
          nullify(f, src, tagOf(tbl, i), col(s"__$suffix"))
        else moneyExpr(tbl, pfx, suffix, line, stagedRef) match {
          case Some(m) => nullify(f, src, tagOf(tbl, i), m)
          case None =>
            colFor(tbl, sf, f, tagOf(tbl, i), isFirst = i == 0, line,
              col("__basket"))
        }
      c.as(f.name)
    }
    staged.select(cols.toIndexedSeq: _*)
  }

  /** Item merchandise hierarchy, FUNCTIONALLY DEPENDENT like dsdgen's:
    * brand → class → category, with every `*_id` the 1:1 numeric key of its
    * string (dsdgen ties them; independent draws make a grouping by
    * (i_brand_id, i_brand) fan out to one group per item). Category comes
    * from the spec dictionary (same hash/tag as the pick, so id and string
    * agree); each category owns 16 classes, each class 10 brands —
    * class_id ∈ [1,160] and brand_id ∈ [11,1610] encode their parents, so
    * rollups over the hierarchy carry real containment semantics. */
  private def itemCol(tbl: String, name: String, src: Column,
                      sf: Double): Option[Column] = {
    if (tbl != "item") return None
    def t(n: String) = tagFor("item", n)
    def str(c: Column) = c.cast(StringType)
    lazy val catIdx = pmod(h(src, t("i_category")), lit(dictionaries("i_category").size.toLong))
    lazy val classK = pmod(h(src, t("i_class")), lit(16L))
    lazy val classId = catIdx * 16 + classK + 1
    lazy val brandK = pmod(h(src, t("i_brand")), lit(10L))
    lazy val brandId = classId * 10 + brandK + 1
    lazy val manuId = pmod(h(src, t("i_manufact")), lit(1000L)) + 1
    name match {
      case "i_category_id" => Some((catIdx + 1).cast(IntegerType))
      case "i_class" =>
        Some(concat(lit("class_"), str(catIdx + 1), lit("_"), str(classK + 1)))
      case "i_class_id" => Some(classId.cast(IntegerType))
      case "i_brand" => Some(concat(lit("brand_"), str(brandId)))
      case "i_brand_id" => Some(brandId.cast(IntegerType))
      case "i_manufact" => Some(concat(lit("manu_"), str(manuId)))
      case "i_manufact_id" => Some(manuId.cast(IntegerType))
      // dsdgen managers number 1..100 (not hash noise over 0..9999) — the
      // published manager queries (Q19/Q55/Q63) filter on ids in that range
      case "i_manager_id" =>
        Some((pmod(h(src, t("i_manager_id")), lit(100L)) + 1).cast(IntegerType))
      // v10: multi-word item description (4-10 words from a merchandise
      // vocabulary) — Q23's substr(i_item_desc, 1, 30) grouping key gets
      // dsdgen-like prefix diversity instead of one word per row
      case "i_item_desc" =>
        val tg = t("i_item_desc")
        val picks = (0 until 10).map(k => pick(src, tg * 31 + k, descVocab))
        Some(array_join(slice(array(picks: _*), lit(1),
          (pmod(h(src, tg), lit(7L)) + 4).cast(IntegerType)), " "))
      // v18: SEASON-COHERENT colors — the item's season block (contiguous
      // n/12-row ranges; block r peaks in month r+1) draws its color from
      // the vocab slice {idx ≡ r (mod 12)} (colorVocab order is semantic).
      // Marginal per-color frequency stays ~n/|vocab| (slices are even ±1),
      // but a color now implies a season, so skCol's in-season basket
      // redirect concentrates each color's sales in its month — the
      // support Q56's published single-month item-grain report reads.
      case "i_color" =>
        val n = rowCount("item", sf)
        val b = seasonBlockSize(n)
        val V = colorVocab.size.toLong
        val r = pmod(floor(src.cast(DoubleType) / b).cast(LongType), lit(12L))
        val sliceSz = when(r < lit(V % 12), lit(V / 12 + 1))
          .otherwise(lit(V / 12))
        val idx = r + lit(12L) * pmod(h(src, t("i_color")), sliceSz)
        Some(element_at(array(colorVocab.map(lit): _*),
          (idx + 1).cast(IntegerType)))
      case _ => None
    }
  }

  /** v18: season-block geometry shared by the item color draw and the
    * fact-side in-season redirect — items partition into 12 contiguous
    * blocks of b = max(1, n/12) rows; block r (0-based) peaks in calendar
    * month r+1. The ≤11 remainder rows past 12·b belong to no season
    * (never redirected to; their colors wrap via pmod). */
  private def seasonBlockSize(n: Long): Long = math.max(1L, n / 12)

  /** v10: merchandise-description vocabulary for i_item_desc (dsdgen emits
    * sentence-shaped descriptions; published queries key on the first 30
    * chars, so prefix diversity — not meaning — is what matters). */
  private val descVocab: Seq[String] = Seq("durable", "compact", "premium",
    "classic", "modern", "lightweight", "ergonomic", "portable", "elegant",
    "versatile", "sturdy", "refined", "practical", "stylish", "reliable",
    "quality", "design", "finish", "material", "edition", "series", "model",
    "collection", "standard", "comfort", "performance", "value", "features",
    "construction", "warranty")

  /** Item hierarchy members whose id column must share its STRING column's
    * null decision: one ~5% draw per member, so i_brand_id is null exactly
    * when i_brand is (the FD test groups by the pair; a lone-null row would
    * fan one id into a (string, NULL) second group). Same coherence idea as
    * basket-level null decisions riding the basket hash. */
  private val itemNullPeer: Map[String, String] = Map(
    "i_category_id" -> "i_category",
    "i_class_id" -> "i_class",
    "i_brand_id" -> "i_brand",
    "i_manufact_id" -> "i_manufact")

  /** ~5% deterministic nulls on a nullable non-structural column (shared by
    * the generic and returns paths; keys, income-band bounds and order
    * numbers stay dense). */
  private def nullify(f: StructField, src: Column, tag: Int, base: Column): Column =
    // s_store_name / sm_carrier: the cyclic domains are structural
    // guarantees (Q96's published name filter must find 'ese', Q66's
    // carrier filter must find DHL/BARIAN, at the tiny-dim floors) — a 5%
    // null draw would erase a whole value with P ≈ 0.05 per scale.
    // i_units (v20): Q41's published arms leave single-digit qualifying
    // items at the sf1 proof scale; nulls there make the proof a coin flip
    if (f.nullable && !f.name.startsWith("ib_") && !orderNumberCols(f.name) &&
        f.name != "s_store_name" && f.name != "sm_carrier" &&
        f.name != "s_state" && f.name != "s_gmt_offset" &&
        f.name != "s_county" && f.name != "cc_county" &&
        f.name != "i_units")
      when(pmod(h(src, tag + 7919), lit(20)) === 0, lit(null).cast(f.dataType))
        .otherwise(base)
    else base

  /** Deterministic column from (schema field, per-column tag), evaluated at
    * an EXPLICIT row identity: `line` drives per-line values, `basket`
    * drives basket-level values (the FKs all lines of one sales ticket
    * share). For non-basketed tables line == basket == col("id").
    * Parameterizing the identity is what lets returnsTable RE-EVALUATE a
    * sales table's expressions at the linked sales line id, so returns facts
    * reference actual sales rows (dsdgen linkage, src/tpcds.rs:51-62).
    * Type-driven: surrogate keys sequential, FKs uniform over the target
    * dim's key range at this sf, strings word-salad (or the spec dictionary
    * when `dictionaries` lists the column), dates in the 1998–2003 window,
    * decimals in [0, 999.99] at the declared precision. */
  private def colFor(tbl: String, sf: Double, f: StructField, tag: Int,
                     isFirst: Boolean, line: Column, basket: Column): Column = {
    // Hash source for this column: basket-level FKs of a basketed fact hash
    // the basket id (all lines of a ticket agree), everything else the line
    // id. Null decisions reuse the same source, so a ticket's customer is
    // null for ALL of its lines or none.
    val src = if (basketLines.contains(tbl) && basketLevel(f.name)) basket else line
    // A *_sk column is this table's own surrogate only when it is the first
    // column AND its suffix resolves to the table itself (or nowhere, e.g.
    // cd_demo_sk). Fact tables' first column (ss_sold_date_sk, inv_date_sk,
    // ...) resolves to date_dim and is generated as a date FK, not a dense
    // sequence.
    def skCol(cast: DataType): Column = fkTarget(f.name) match {
      case Some("date_dim") if tbl != "date_dim" =>
        // v10: sales-fact SOLD dates draw seasonally (dsdgen's sales
        // calendar is holiday-skewed; uniform dates leave Q23's published
        // per-(item, day) count>4 frequent-item gate empty at EVERY scale
        // — both facts and items scale with sf, so rows per (item, day)
        // is a constant ~0.09). Other date FKs (ship, inventory) stay
        // uniform.
        if (basketLines.contains(tbl) && f.name.endsWith("_sold_date_sk"))
          seasonalSoldDateSk(src, tag).cast(cast)
        else uniLong(src, tag, dateSkLo, dateSkHi).cast(cast)
      case Some("item") if basketLines.contains(tbl) =>
        // DISTINCT items within a basket — the TPC-DS (order_number,
        // item_sk) PK dsdgen guarantees: line k of a basket takes stop k of
        // a prime-stepped tour of the item table starting at a basket hash.
        // The step is coprime to |item| (required below), so the ≤4 lines
        // of one basket land on distinct items while the marginal
        // distribution stays hash-uniform across baskets. An independent
        // per-line draw collides at ~L²/2/|item| per basket and breaks the
        // returns⋈sales PK join's row identity.
        val n = rowCount("item", sf)
        require(BigInt(n).gcd(BigInt(itemStep)) == 1,
          s"item row count $n shares a factor with the basket item step " +
            s"$itemStep: pick a different prime step")
        // the tour only yields distinct items while a basket's lines fit in
        // one lap — at degenerate scales (item rows < lines per basket) the
        // PK would silently break along with the returns⋈sales 1:1 linkage
        require(n >= maxBasketLines(tbl),
          s"item row count $n < ${maxBasketLines(tbl)} lines per $tbl basket: " +
            s"the (order_number, item_sk) PK cannot hold; use sf >= " +
            f"${maxBasketLines(tbl) / sf1Counts("item")._1.toDouble}%.6f")
        val lineIdx = lineIdxInBasket(tbl, line, basket)
        val uniformItem =
          pmod(pmod(h(basket, tag), lit(n)) + lineIdx * lit(itemStep % n), lit(n)) + 1
        // v18: IN-SEASON baskets — 30% of baskets (by basket hash) buy only
        // items of their sold month's season block (blocks are contiguous
        // b = n/12 item ranges whose colors come from that month's vocab
        // slice — see colorVocab/itemCol). The sub-tour walks CONSECUTIVE
        // block rows from a hashed start, so the (order, item) PK holds
        // whenever the basket's line count fits the block; bigger baskets
        // (and every basket when b < lines, e.g. catalog/web at sf0.001)
        // keep the uniform full-table tour. Per-item YEARLY mass stays
        // flat across the ten non-holiday blocks (each gets the same
        // boost, one month each; Nov/Dec compound with the v10 holiday
        // date mass and run hotter — GenSpec pins both), and per-(item,
        // sold-month) density concentrates ~4× in the item's season —
        // the support single-month item-grain reports (Q56/Q60) read at
        // gate scale, the same way v10 super days carry Q23.
        val b = seasonBlockSize(n)
        val basketFits: Column = variablePattern(tbl) match {
          case Some(pat) => element_at(array(pat.map(x => lit(x.toLong)): _*),
            (pmod(basket, lit(pat.size.toLong)) + 1).cast(IntegerType)) <= lit(b)
          case None => lit(basketLines(tbl).toLong <= b)
        }
        val soldCol = schema(tbl).fieldNames.find(_.endsWith("_sold_date_sk")).get
        val soldSk = seasonalSoldDateSk(basket, tagFor(tbl, soldCol))
        val soldMonth = month(date_add(
          lit(java.sql.Date.valueOf("1900-01-01")),
          (soldSk - 1).cast(IntegerType))).cast(LongType)
        val inSeason = (pmod(h(basket, tag + 201), lit(10L)) < 3) && basketFits
        val blockStart = pmod(h(basket, tag + 202), lit(b))
        val seasonItem =
          (soldMonth - 1) * lit(b) + pmod(blockStart + lineIdx, lit(b)) + 1
        when(inSeason, seasonItem).otherwise(uniformItem).cast(cast)
      case Some(dim) if !(isFirst && dim == tbl) =>
        uniLong(src, tag, 1, rowCount(dim, sf)).cast(cast)
      case Some(_) => (line + 1).cast(cast) // own surrogate key
      case None if isFirst => (line + 1).cast(cast)
      case None => throw new IllegalArgumentException(
        s"unmapped FK column $tbl.${f.name}: add its suffix to fkSuffix")
    }
    val base: Column = salesMoney(tbl, f.name, src)
      .orElse(itemCol(tbl, f.name, src, sf)).getOrElse(f.dataType match {
      // dense 1-based ticket/order number: the lines of one basket share it,
      // and returns rows joining on (order, item) hit the originating sale
      case IntegerType if orderNumberCols(f.name) =>
        (basket + 1).cast(IntegerType)
      case IntegerType if f.name.endsWith("_sk") => skCol(IntegerType)
      case LongType if f.name.endsWith("_sk") => skCol(LongType)
      // income_band is ordered $10k ranges (band k: [10k(k-1), 10k·k − 1]),
      // so hd_income_band_sk joins carry real ordering semantics
      case IntegerType if f.name == "ib_lower_bound" =>
        (line * 10000).cast(IntegerType)
      case IntegerType if f.name == "ib_upper_bound" =>
        ((line + 1) * 10000 - 1).cast(IntegerType)
      case IntegerType if isFirst =>
        (line + 1).cast(IntegerType) // surrogate key: dense, 1-based
      // v10: published small integer domains (dsdgen's): the household /
      // customer demographics count columns the published predicates read
      // (Q13/Q34/Q73/Q96: hd_dep_count = k, hd_vehicle_count <= j) —
      // a 0..9999 word-salad domain makes every such predicate empty
      case IntegerType if smallIntDomains.contains(f.name) =>
        val (lo, hi) = smallIntDomains(f.name)
        uniLong(src, tag, lo, hi).cast(IntegerType)
      // v14: restock-sawtooth inventory levels — 7/8 of weekly snapshots
      // sit at lean post-depletion levels (0..199), 1/8 at fresh-restock
      // capacity (5000..9999). A flat draw caps the per-(item, warehouse,
      // month) sample cov at sqrt(n-1) with the n ≈ 2-3 weekly snapshots
      // a month holds, so Q39b's published cov > 1.5 gate was unreachable
      // at ANY scale (snapshots per cell are sf-invariant: fact rows and
      // item count both scale, warehouses are fixed). Lean/spike cells
      // clear it exactly like dsdgen's.
      case IntegerType if f.name == "inv_quantity_on_hand" =>
        when(pmod(h(src, tag + 6007), lit(8L)) === 0,
          uniLong(src, tag, 5000, 9999)).otherwise(uniLong(src, tag, 0, 199))
          .cast(IntegerType)
      case IntegerType => uniLong(src, tag, 0, 9999).cast(IntegerType)
      case LongType => uniLong(src, tag, 0, 999999)
      // v11: dsdgen number-syllable store names, cyclic so each of the
      // ten names exists at every scale (a hash draw misses 'ese' with
      // P ≈ 0.28 at the 12-row floor — Q96's published filter would
      // then be empty-by-luck)
      case StringType if f.name == "s_store_name" =>
        element_at(array(storeNameSyllables.map(lit): _*),
          (pmod(line, lit(storeNameSyllables.size.toLong)) + 1)
            .cast(IntegerType))
      // v12: dsdgen's 20-carrier roster, cyclic over the 20-row dim so
      // every carrier (Q66's published DHL/BARIAN) exists at every scale
      case StringType if f.name == "sm_carrier" =>
        element_at(array(carriers.map(lit): _*),
          (pmod(line, lit(carriers.size.toLong)) + 1).cast(IntegerType))
      // v15: cyclic store states (TN + the 10-state core) — every state
      // in the roster has a store at the 12-row floor, so the published
      // s_state = 'TN' point filters (Q1/Q27/Q36) are structural
      case StringType if f.name == "s_state" =>
        element_at(array(storeStates.map(lit): _*),
          (pmod(line, lit(storeStates.size.toLong)) + 1).cast(IntegerType))
      // v16: cyclic counties on the physical-site dims — every county
      // (incl. the published 'Williamson County') holds a store at the
      // 12-row floor and a call center at the 6-row floor, so Q73's
      // published 4-county list and Q16's published call-center county
      // gate are structural; customer addresses keep the hash draw
      case StringType if f.name == "s_county" || f.name == "cc_county" =>
        element_at(array(counties.map(lit): _*),
          (pmod(line, lit(counties.size.toLong)) + 1).cast(IntegerType))
      case StringType if f.name.endsWith("_id") =>
        // dsdgen-style 16-char business key, unique per row
        concat(lit("AAAAAAAA"), lpad(conv(pmod(line, lit(99999999L)).cast(StringType), 10, 16), 8, "0"))
      // v14: address zips draw 25% (1-in-4) from the urban core stores sit
      // in, 75% from the full domain — the near-home locality the published
      // exact-zip (Q24) and preferred-customer-density (Q8) gates assume
      case StringType if f.name == "ca_zip" =>
        when(pmod(h(src, tag + 5381), lit(4L)) === 0,
          pick(src, tag, coreZips)).otherwise(pick(src, tag, zips))
      case StringType if dictionaries.contains(f.name) =>
        pick(src, tag, dictionaries(f.name))
      case StringType => pick(src, tag, vocab)
      case DateType => date(src, tag, "1998-01-01", 2000)
      // v13: gmt offsets are COHERENT with the row's state — the offset
      // indexes the state dictionary with the STATE column's own hash, so
      // (state, offset) pairs agree like dsdgen's (NY → -5, TX → -6,
      // CA → -8, ...). Published ca_gmt_offset/s_gmt_offset = -5 gates
      // (Q33/Q56/Q60/Q61) become real predicates. Dims without a
      // dictionary state column draw from the same marginal (6:2:2).
      case _: DecimalType if f.name.endsWith("_gmt_offset") =>
        val statesKey = f.name.stripSuffix("gmt_offset") + "state"
        // v15: the cyclic store roster derives its gmt from the SAME line
        // index as the s_state pick, keeping (state, gmt) pairs coherent
        if (statesKey == "s_state")
          element_at(array(storeStates.map(s => lit(stateGmt(s))): _*),
            (pmod(line, lit(storeStates.size.toLong)) + 1)
              .cast(IntegerType)).cast(f.dataType)
        else dictionaries.get(statesKey) match {
          case Some(states) if schema(tbl).fieldNames.contains(statesKey) =>
            element_at(array(states.map(s => lit(stateGmt(s))): _*),
              (pmod(h(src, tagFor(tbl, statesKey)), lit(states.size.toLong))
                + 1).cast(IntegerType)).cast(f.dataType)
          case _ =>
            // same weighted marginal as the state-derived path (duplicate
            // slots in the pick list carry the weights)
            pick(src, tag, dictionaries("ca_state").map(s => stateGmt(s).toString))
              .cast(f.dataType)
        }
      // v14: dsdgen's item price curve — i_current_price ∈ [0.09, 99.99]
      // (items.dst prices never exceed ~100; the published item price
      // bands Q37 68–98, Q82 62–92, Q80's > 50 gate all assume that
      // ceiling — a [0, 999.99] draw parks them in a 10%-density corner)
      case d: DecimalType if f.name == "i_current_price" =>
        ((pmod(h(src, tag), lit(9991L)) + 9).cast(DecimalType(12, 2)) / 100)
          .cast(d)
      case d: DecimalType =>
        (pmod(h(src, tag), lit(100000L)).cast(DecimalType(12, 2)) / 100).cast(d)
      case DoubleType => unif(src, tag)
      case other => throw new IllegalArgumentException(
        s"unsupported TPC-DS column type: $other (${f.name})")
    })
    // id↔string pairs of one item-hierarchy member null together: the id
    // column borrows its string peer's tag for the null draw
    val nullTag =
      if (tbl == "item") itemNullPeer.get(f.name).map(tagFor("item", _)).getOrElse(tag)
      else tag
    if (isFirst) base else nullify(f, src, nullTag, base)
  }

  /** A returns fact: each row re-evaluates its linked sales
    * table's column expressions at a deterministically chosen sales LINE id,
    * so `returns ⋈ sales ON (order_number, item_sk)` lands on the
    * originating sale with dsdgen-like ~1-in-10 selectivity — item, order
    * number, customer/demo/address/store FKs all agree with the sale.
    * The sales line is chosen INJECTIVELY (returns row r draws uniformly
    * inside the sales block [r·stride, (r+1)·stride)), so no sales line is
    * returned twice; (order, item) uniqueness then holds up to the sales
    * table's own same-basket duplicate-item odds (~L²/2/|item| of baskets).
    * The returned date is the linked sale's sold date + 0–90 days, clamped
    * to the sales window — returns never precede their sale. */
  private def returnsDf(tbl: String, sf: Double, baseDf: DataFrame): DataFrame = {
    val rl = returnsLinks(tbl)
    val st = schema(tbl)
    val sIndex = schema(rl.salesTbl).fields.zipWithIndex
      .map { case (f, i) => f.name -> (f, i) }.toMap
    val salesRows = rowCount(rl.salesTbl, sf)
    val returnsRows = rowCount(tbl, sf)
    val stride = math.max(1L, salesRows / math.max(1L, returnsRows))
    val sid0 = col("id") * stride + uniLong(col("id"), tagOf(tbl, -1), 0, stride - 1)
    // injective while returnsRows·stride ≤ salesRows; the degenerate tail
    // (returns ≥ sales at extreme-tiny sf) degrades to pmod — valid FKs,
    // some sales lines returned twice
    val sid = if (returnsRows * stride <= salesRows) sid0 else pmod(sid0, lit(salesRows))
    // Staging (same 64 KB story as salesDf): the linked sales line id and
    // its basket are computed ONCE as named columns — every salesAt() call
    // references them instead of re-inlining the draw — and the money
    // derivation chain is one named column per level instead of an
    // exponentially duplicated tree per consumer.
    def salesAt(colName: String): Column = {
      val (sfld, si) = sIndex(colName)
      colFor(rl.salesTbl, sf, sfld, tagOf(rl.salesTbl, si),
        isFirst = si == 0, line = col("__sid"), basket = col("__sbkt"))
    }
    // Returns money columns, coherent with the LINKED SALE (dsdgen invariants
    // the published returns queries lean on): return_quantity ∈ [1, sold
    // quantity]; return_amt = sold unit sales_price × returned quantity;
    // the refund split (cash + reversed charge + credit) sums EXACTLY to
    // amt-inc-tax (credit is the residual); net_loss = amt_inc_tax + fee +
    // ship cost. A null at the linked sale (its own ~5% draw) propagates —
    // matching dsdgen's nullable money columns.
    val sPfx = Map("store_sales" -> "ss", "catalog_sales" -> "cs",
      "web_sales" -> "ws")(rl.salesTbl)
    val amt = if (tbl == "catalog_returns") "return_amount" else "return_amt"
    // every cross-reference resolves under the CANONICAL column name, so
    // each leaf's hash draw is tagged by its own column no matter which
    // consumer asked — the same value everywhere, like stored columns
    def returnsMoney(name: String, ref: String => Column): Option[Column] = {
      def cref(suffix: String): Column = ref(s"${pfxOf(tbl)}_$suffix")
      def frac(off: Int, n: Int) = pmod(h(col("id"), tagFor(tbl, name) + off),
        lit(n.toLong)).cast(DecimalType(12, 2)) / 100
      name.drop(3) match {
        case "return_quantity" =>
          Some((pmod(h(col("id"), tagFor(tbl, name)),
            salesAt(s"${sPfx}_quantity").cast(LongType)) + 1).cast(IntegerType))
        case "return_amt" | "return_amount" =>
          Some(d2(salesAt(s"${sPfx}_sales_price") * cref("return_quantity")))
        case "return_tax"         => Some(d2(cref(amt) * frac(13, 10)))
        case "return_amt_inc_tax" => Some(d2(cref(amt) + cref("return_tax")))
        case "fee" => Some(d2((pmod(h(col("id"), tagFor(tbl, name)), lit(9951L)) + 50)
          .cast(DecimalType(12, 2)) / 100))
        case "return_ship_cost" => Some(d2(cref(amt) * frac(17, 51)))
        case "refunded_cash" => Some(d2(cref("return_amt_inc_tax") * frac(19, 101)))
        case "reversed_charge" => Some(d2((cref("return_amt_inc_tax") -
          cref("refunded_cash")) * frac(23, 101)))
        case "store_credit" | "account_credit" =>
          Some(d2(cref("return_amt_inc_tax") - cref("refunded_cash") -
            cref("reversed_charge")))
        case "net_loss" =>
          Some(d2(cref("return_amt_inc_tax") + cref("fee") + cref("return_ship_cost")))
        case _ => None
      }
    }
    def stagedRef(name: String): Column = col(s"__$name")
    val p = pfxOf(tbl)
    // dependency-ordered shared values; credit and net_loss are consumed
    // nowhere else and stay in the final projection
    val moneyLevels: Seq[Seq[String]] = Seq(
      Seq(s"${p}_return_quantity"),
      Seq(s"${p}_$amt"),
      Seq(s"${p}_return_tax", s"${p}_fee", s"${p}_return_ship_cost"),
      Seq(s"${p}_return_amt_inc_tax"),
      Seq(s"${p}_refunded_cash"),
      Seq(s"${p}_reversed_charge"))
    // v17: ~10% of catalog/web returning parties are an INDEPENDENT
    // customer (dsdgen: returns come back through someone else for a
    // fraction of orders). One per-row draw flips all four returning_*
    // keys together; the fresh party's cdemo/hdemo/addr RE-EVALUATE that
    // customer row's own c_current_* expressions, so the quadruple stays
    // row-coherent. Store returns carry no returning_* block.
    val retCustCol = s"${pfxOf(tbl)}_returning_customer_sk"
    val hasRet = rl.linked.contains(retCustCol)
    val retParty: Map[String, String] = Map(
      s"${pfxOf(tbl)}_returning_cdemo_sk" -> "c_current_cdemo_sk",
      s"${pfxOf(tbl)}_returning_hdemo_sk" -> "c_current_hdemo_sk",
      s"${pfxOf(tbl)}_returning_addr_sk" -> "c_current_addr_sk")
    val cIndex = schema("customer").fields.zipWithIndex
      .map { case (f, i) => f.name -> (f, i) }.toMap
    def freshPartyKey(name: String): Column =
      if (name == retCustCol) col("__ret_line") + 1
      else {
        val (cf, ci) = cIndex(retParty(name))
        colFor("customer", sf, cf, tagOf("customer", ci), isFirst = false,
          col("__ret_line"), col("__ret_line"))
      }
    val withSid = baseDf.select(col("id"), sid.as("__sid"))
    val withBkt = withSid.select(col("id"), col("__sid"),
      basketOfLine(rl.salesTbl, col("__sid")).as("__sbkt"))
    val withRet =
      if (!hasRet) withBkt
      else withBkt.select(col("id"), col("__sid"), col("__sbkt"),
        (pmod(h(col("id"), tagFor(tbl, retCustCol) + 4099), lit(10L)) =!= 0)
          .as("__ret_same"),
        uniLong(col("id"), tagFor(tbl, retCustCol) + 4211, 0,
          rowCount("customer", sf) - 1).as("__ret_line"))
    val staged = moneyLevels.foldLeft(withRet) { (df, level) =>
      df.select(df.columns.map(col) ++ level.map(n =>
        returnsMoney(n, stagedRef).get.as(s"__$n")): _*)
    }
    val stagedNames = moneyLevels.flatten.toSet
    val cols = st.fields.zipWithIndex.map { case (f, i) =>
      val c: Column =
        if (f.name == rl.orderCol) (col("__sbkt") + 1).cast(f.dataType)
        else if (f.name == rl.returnedDateCol)
          least(salesAt(rl.soldDateCol).cast(LongType) +
            uniLong(col("id"), tagOf(tbl, i), 0, 90), lit(dateSkHi)).cast(f.dataType)
        else if (hasRet && (f.name == retCustCol || retParty.contains(f.name)))
          when(col("__ret_same"), salesAt(rl.linked(f.name)))
            .otherwise(freshPartyKey(f.name)).cast(f.dataType)
        else rl.linked.get(f.name) match {
          case Some(salesCol) => salesAt(salesCol).cast(f.dataType)
          case None =>
            if (stagedNames(f.name))
              nullify(f, col("id"), tagOf(tbl, i), d2OrSelf(f, col(s"__${f.name}")))
            else returnsMoney(f.name, stagedRef) match {
              case Some(m) => nullify(f, col("id"), tagOf(tbl, i), d2OrSelf(f, m))
              case None =>
                colFor(tbl, sf, f, tagOf(tbl, i), isFirst = false, col("id"), col("id"))
            }
        }
      c.as(f.name)
    }
    staged.select(cols.toIndexedSeq: _*)
  }

  /** Returns-table column prefix (sr/cr/wr). */
  private def pfxOf(tbl: String): String = tbl.take(1) + "r"

  /** Cast a derived money column to the field's declared type (no-op for
    * the IntegerType return_quantity). */
  private def d2OrSelf(f: StructField, c: Column): Column = c.cast(f.dataType)

  /** dsdgen-style 16-char business key (shared by the generic path and the
    * calendar tables). */
  private def bizId: Column =
    concat(lit("AAAAAAAA"), lpad(conv(pmod(col("id"), lit(99999999L))
      .cast(StringType), 10, 16), 8, "0"))

  /** date_dim as a TRUE CALENDAR: sk 1 = 1900-01-01, every derived field
    * (year/month/dow/quarter, sequence numbers, weekend/holiday flags,
    * first/last-of-month and same-day-last-year/quarter sk links) computed
    * from the actual date — not hash noise. A query filtering d_year = 2000
    * against generated facts now has calendar-true selectivity. */
  private def dateDim(baseDf: DataFrame): DataFrame = {
    val epoch = lit("1900-01-01").cast(DateType)
    val d = date_add(epoch, col("id").cast(IntegerType))
    def skOfCol(c: Column): Column = (datediff(c, epoch) + 1).cast(IntegerType)
    val weekSeq = (datediff(d, epoch).cast(IntegerType) / 7).cast(IntegerType)
    val qSeq = ((year(d) - 1900) * 4 + quarter(d) - 1).cast(IntegerType)
    def holiday(c: Column): Column =
      when((month(c) === 12 && dayofmonth(c) === 25) ||
        (month(c) === 7 && dayofmonth(c) === 4) ||
        (month(c) === 1 && dayofmonth(c) === 1), "Y").otherwise("N")
    val dayNames = array(Seq("Sunday", "Monday", "Tuesday", "Wednesday",
      "Thursday", "Friday", "Saturday").map(lit): _*)
    baseDf.select(
      (col("id") + 1).cast(IntegerType).as("d_date_sk"),
      bizId.as("d_date_id"),
      d.as("d_date"),
      ((year(d) - 1900) * 12 + month(d) - 1).cast(IntegerType).as("d_month_seq"),
      weekSeq.as("d_week_seq"),
      qSeq.as("d_quarter_seq"),
      year(d).cast(IntegerType).as("d_year"),
      (dayofweek(d) - 1).cast(IntegerType).as("d_dow"),
      month(d).cast(IntegerType).as("d_moy"),
      dayofmonth(d).cast(IntegerType).as("d_dom"),
      quarter(d).cast(IntegerType).as("d_qoy"),
      year(d).cast(IntegerType).as("d_fy_year"),
      qSeq.as("d_fy_quarter_seq"),
      weekSeq.as("d_fy_week_seq"),
      element_at(dayNames, dayofweek(d)).as("d_day_name"),
      concat(year(d).cast(StringType), lit("Q"),
        quarter(d).cast(StringType)).as("d_quarter_name"),
      holiday(d).as("d_holiday"),
      when(dayofweek(d).isin(1, 7), "Y").otherwise("N").as("d_weekend"),
      holiday(date_add(d, 1)).as("d_following_holiday"),
      skOfCol(trunc(d, "MM")).as("d_first_dom"),
      skOfCol(last_day(d)).as("d_last_dom"),
      skOfCol(add_months(d, -12)).as("d_same_day_ly"),
      skOfCol(add_months(d, -3)).as("d_same_day_lq"),
      lit("N").as("d_current_day"),
      lit("N").as("d_current_week"),
      lit("N").as("d_current_month"),
      lit("N").as("d_current_quarter"),
      lit("N").as("d_current_year"))
  }

  /** time_dim as the true seconds-of-day table: sk 1 = 00:00:00; hour,
    * minute, second, shift and meal-time bands all derive from the second
    * index. */
  private def timeDim(baseDf: DataFrame): DataFrame = {
    val t = col("id").cast(IntegerType)
    val hour = (t / 3600).cast(IntegerType)
    baseDf.select(
      (col("id") + 1).cast(IntegerType).as("t_time_sk"),
      bizId.as("t_time_id"),
      t.as("t_time"),
      hour.as("t_hour"),
      ((t / 60).cast(IntegerType) % 60).as("t_minute"),
      (t % 60).as("t_second"),
      when(hour < 12, "AM").otherwise("PM").as("t_am_pm"),
      when(hour < 8, "third").when(hour < 16, "first")
        .otherwise("second").as("t_shift"),
      when(hour < 6, "night").when(hour < 12, "morning")
        .when(hour < 18, "afternoon").otherwise("evening").as("t_sub_shift"),
      when(hour >= 6 && hour < 9, "breakfast")
        .when(hour >= 11 && hour < 14, "lunch")
        .when(hour >= 17 && hour < 20, "dinner")
        .otherwise(lit(null).cast(StringType)).as("t_meal_time"))
  }

  /** Build one table as a DataFrame matching TpcdsSchemas(tbl) exactly. */
  def table(spark: SparkSession, tbl: String, sf: Double, partitions: Int): DataFrame = {
    val st = schema(tbl)
    val rows = rowCount(tbl, sf)
    checkBasketRange(tbl, sf)
    val baseDf = spark.range(0, rows, 1, math.max(1, partitions)).toDF()
    tbl match {
      case "date_dim" => dateDim(baseDf)
      case "time_dim" => timeDim(baseDf)
      case t if returnsLinks.contains(t) => returnsDf(t, sf, baseDf)
      case t if basketLines.contains(t) => salesDf(t, sf, baseDf)
      case _ =>
        val line = col("id")
        val cols = st.fields.zipWithIndex.map { case (f, i) =>
          colFor(tbl, sf, f, tagOf(tbl, i), isFirst = i == 0, line, line).as(f.name)
        }
        baseDf.select(cols.toIndexedSeq: _*)
    }
  }

  /** Ticket/order numbers are Int32 per the reference schema; past
    * Int.MaxValue baskets a silent non-ANSI Long→Int cast would wrap them
    * negative and corrupt the returns⋈sales PK linkage. Fail LOUD instead
    * (covers the sales fact itself and the returns fact that re-evaluates
    * the linked sales table's basket ids). */
  private def checkBasketRange(tbl: String, sf: Double): Unit = {
    val basketSrc = returnsLinks.get(tbl).map(_.salesTbl).getOrElse(tbl)
    if (basketLines.contains(basketSrc)) {
      // exact closed form: the basket count is basketOfLine(lastLine)+1 —
      // full pattern blocks contribute pattern.size baskets each, and the
      // partial block contributes one basket per interior boundary at or
      // below the last line's offset, plus the basket the line sits in.
      val srcRows = rowCount(basketSrc, sf)
      val baskets = if (srcRows == 0L) 0L else variablePattern(basketSrc) match {
        case Some(pat) =>
          val t = pat.sum
          val last = srcRows - 1
          val inBlock = storeCum.slice(1, pat.size).count((last % t).toInt >= _)
          (last / t) * pat.size + inBlock + 1
        case None =>
          (srcRows - 1) / basketLines(basketSrc) + 1
      }
      val avgLines = variablePattern(basketSrc)
        .map(p => p.sum.toDouble / p.size)
        .getOrElse(basketLines(basketSrc).toDouble)
      require(baskets <= Int.MaxValue.toLong,
        s"generating '$tbl' at sf=$sf needs $baskets $basketSrc baskets, " +
          s"but ticket/order numbers are Int32 (reference schema) and would " +
          s"wrap. Max supported sf for $basketSrc ≈ " +
          f"${Int.MaxValue.toLong * avgLines / (sf1Counts(basketSrc)._1.toDouble)}%.0f.")
    }
  }

  /** Raw rows carry no trailing '|': TPC-DS schemas have no `ignore`
    * column (src/tpcds.rs:86-101, SURVEY §1.2). */
  protected def rawTrailingPipe: Boolean = false
}
