package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.txt

/** The fixture queries of SURVEY.md §2.3–§2.8 that keep a hand-written
  * DataFrame form.
  *
  * Every other fixture query is one SQL text in `SparkEntry.fixtureSql`,
  * which DuckDB runs as the oracle and Spark runs through [[TpcSql]]. A
  * form stays here only for the reason its doc gives after `Kept as a hand
  * form:`, or because it has no text at all (the rows-only sketches).
  *
  * Rules both kinds follow:
  *  - Money arithmetic runs in DecimalType on both engines. Decimal sums
  *    are exact and order-independent, so results are bit-identical at any
  *    parallelism — a raw double sum would flap in the last ulp across
  *    1000 executors (and across engines).
  *  - Every LIMIT sits on a total order (unique tiebreak key) so the
  *    selected rows are deterministic across engines and partitionings.
  *  - No UDFs anywhere: everything is Catalyst built-ins and stays inside
  *    whole-stage codegen.
  */
object Relational {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)
  /** Money/metric SUM input at DECIMAL(8,2): p ≤ 8 keeps the sum on
    * Catalyst's DecimalAggregates long path (sum buffer p+10 ≤ 18 = compact
    * long adds, no per-row BigDecimal buffer round-trip) — q_agg_pricing's
    * ext8 rationale applied to every plain money sum (r18, guide §1.2
    * per-task work). Exactness unchanged: fixture money/metric domains sit
    * far inside ±999,999.99 (TESTDATA.md; prices < $1M), a value outside
    * (8,2) throws loudly under ANSI instead of corrupting, and the (18,2)
    * sum buffer holds ±9.99e15 per group — orders of magnitude above any
    * 100 TB group total. Product sums (ext×disc etc.) keep their wide
    * types: a product's precision can't reach ≤ 8. */
  private def dec8(c: Column): Column = c.cast(DecimalType(8, 2))
  private val D = DoubleType

  // ---- §2.4 joins ----------------------------------------------------------

  /** [Q-join-sm] shuffle/sort-merge equi-join: orders ⋈ lineitem on orderkey.
    * Aggregate pushed BELOW the join (legal because the group keys are the
    * join key + a column functionally dependent on it): lineitem reduces to
    * one row per order before the join, so the join moves |orders| rows
    * instead of |lineitem| (~4x less at any scale) and the aggregation
    * shuffles narrow (key, partial) rows with map-side combine. Catalyst
    * doesn't do this rewrite itself; it's the shape to hand-author at
    * 100 TB. Result is identical to join-then-group (inner join, FK-valid
    * keys).
    *
    * Kept as a hand form: the text runs 1.88x its time at sf0.1 (hand 0.72 s,
    * text 1.35 s) and 1.72x at sf1 (hand 3.48 s, text 5.99 s); with its sum
    * narrowed to DECIMAL(8,2) it still runs 1.44x (0.77 s / 1.11 s) and 1.51x
    * (3.47 s / 5.23 s). The text joins before it aggregates, so the join
    * moves every lineitem row. Paired cross-commit timing: min over 3-4
    * alternating JVMs per side of the median of 5-9 warm reps (3 at sf1, the
    * 10x fixture replica), local[4]. */
  def q_join_sm(s: SparkSession, d: String): DataFrame = {
    val perOrder = t(s, d, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity")).as("sum_qty"),
        sum(dec8(col("l_extendedprice"))).cast(D).as("gross"))
    // hint pins the DECLARED strategy: this query is the suite's sort-merge
    // join coverage, and the r18 session default (preferSortMergeJoin=false,
    // SessionDefaults) would otherwise plan it as a shuffled-hash join
    t(s, d, "orders").select("o_orderkey", "o_orderstatus")
      .hint("merge")
      .join(perOrder, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("n_lines"), col("sum_qty"), col("gross"))
  }

  /** [Q-join-theta] range self-join: per-user event pairs within one hour.
    * Banded range join: `b.ts ∈ (a.ts, a.ts + 1h]` implies b's hour bucket
    * is a's bucket or the next one, so the a-side explodes to those two
    * buckets and the join is EQUI on (user_id, hour_bucket) with the exact
    * range as residual. Candidates are bounded by events-per-user-HOUR
    * (each b joins ≤2 exploded a-rows' buckets), not events-per-user² —
    * the difference between a keyed join that scales and one that
    * quadratically degrades on long-lived users.
    *
    * Kept as a hand form: StreamingSpec's interval-join test compares the
    * stream join with this form, and the text runs 2.24x its time at sf0.1
    * (hand 0.37 s, text 0.83 s) and 2.26x at sf1 (hand 2.21 s, text 4.99 s):
    * the text plans a user-keyed join whose range residual sees every same-
    * user pair. Paired cross-commit timing: min over 3 alternating JVMs per
    * side of the median of 5 warm reps (3 at sf1, the 10x fixture replica),
    * local[4]. */
  def q_join_theta(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val bkt = expr("floor(unix_micros(ts) / 3600000000)")
    val a = ev.select(col("user_id"), col("ts"),
      explode(array(bkt, bkt + 1)).as("bk"))
    val b = ev.select(col("user_id").as("user_b"), col("ts").as("ts_b"),
      bkt.as("bk_b"))
    a.join(b, col("user_id") === col("user_b") && col("bk") === col("bk_b") &&
        col("ts_b") > col("ts") &&
        col("ts_b") <= col("ts") + expr("INTERVAL 1 HOUR"))
      .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
  }

  /** [Q-join-asof] as-of join: each click gets its user's most recent
    * purchase at-or-before the click (the operator Pandas merge_asof / kdb
    * aj dedicate an engine primitive to; DuckDB's native ASOF JOIN is the
    * oracle). Composed scalably from built-ins: tag and union both sides,
    * then ONE user-keyed window pass carries the last purchase forward —
    * a single keyed shuffle + sort, no range join, no per-pair work.
    * At equal timestamps purchases sort before clicks (ts >= semantics);
    * event_id breaks remaining ties deterministically.
    *
    * Kept as a hand form: the text's `ASOF JOIN` is DuckDB syntax. */
  def q_join_asof(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val probe = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(null).cast(TimestampType).as("b_ts"),
        lit(null).cast(D).as("b_value"), lit(1).as("side"))
    val build = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("ts").as("b_ts"), col("value").as("b_value"), lit(0).as("side"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    probe.unionByName(build)
      .select(col("event_id"), col("user_id"), col("side"),
        last(col("b_ts"), ignoreNulls = true).over(w).as("asof_ts"),
        last(col("b_value"), ignoreNulls = true).over(w).as("asof_value"))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("asof_ts"), col("asof_value"))
  }

  // ---- §2.5 aggregations ---------------------------------------------------

  /** [Q-agg-hll] approx_count_distinct (HLL++) — tolerance-checked, no oracle:
    * HLL sketches differ across engines by design. */
  def q_agg_hll(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").agg(
      approx_count_distinct(col("l_orderkey")).as("approx_orders"),
      approx_count_distinct(col("l_partkey")).as("approx_parts"),
      count(lit(1)).as("n_rows"))

  // ---- §2.6 window functions ----------------------------------------------

  /** [Q-win-rank2] scale-safe two-phase rank: the low-cardinality-window
    * escape hatch for [[q_win_rank]]'s 5-value partition key.
    *
    * Phase 1: assign each row a slice id computed DETERMINISTICALLY from
    * the data — equi-width buckets over the order column between its
    * broadcast min/max (descending: higher price → lower pid) — then
    * row_number within (slice, key): windows of ~n/P rows hash-shuffled on
    * the diverse (pid, key) pair, P ∝ data, no 5-task straggler. Phase 2:
    * per-(slice, key) counts (P×5 rows — tiny) cumulated per key give each
    * slice's offset; global row_number = local + broadcast-joined offset.
    * Tie-aware rank is then min(row_number) over the (key, price) tie
    * group. Output ≡ rank()/row_number() over (partition by priority order
    * by price desc), judged by the same single-window oracle SQL.
    *
    * Why not repartitionByRange + spark_partition_id: this query derives
    * TWO subtrees (offsets agg, join input) from the sliced frame, and a
    * sampled range shuffle is seeded per materialization — the branches
    * only agree if Catalyst happens to reuse the exchange. A pid that is a
    * pure function of the row is identical in both branches by
    * construction, whatever the planner does. The bucket bounds come from
    * parquet FOOTER statistics read driver-side
    * ([[graft.Tables.footerDoubleRange]] — metadata, no Spark job, no
    * join in the plan); if stats are absent the fixed fallback range only
    * unbalances the buckets — the clamped pid stays a monotone
    * deterministic function of the price, so ranks stay exact. Equi-width
    * slicing assumes the order column is not pathologically clustered on
    * one value; a skewed deployment would swap in sampled-quantile
    * boundaries, keeping the same determinism (boundaries become data,
    * not partitioner state).
    *
    * Kept as a hand form: its oracle is the plain window, so the text would
    * turn it into a copy of q_win_rank. */
  def q_win_rank2(s: SparkSession, d: String): DataFrame = {
    val ties = Window.partitionBy("o_orderpriority", "o_totalprice")
    twoPhaseRowNumbers(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        min(col("rn")).over(ties).as("rnk"), col("rn"))
  }

  /** Shared phase-1+2 of the scale-safe window family ([[q_win_rank2]],
    * [[q_win_ntile2]]): global row_number over (partition by priority order
    * by price desc, orderkey) without ever shuffling on the 5-value key —
    * returns (o_orderkey, o_orderpriority, o_totalprice, rn). See
    * [[q_win_rank2]]'s scaladoc for the determinism design.
    *
    * Null handling: a NULL o_totalprice buckets to the LAST slice (pid is
    * computed over coalesce(price, lo), never null), matching the desc
    * NULLS LAST sort order both windows use, and the offsets join is
    * null-safe on o_orderpriority — so nullable input flows through with
    * single-window semantics instead of being silently inner-joined away. */
  private def twoPhaseRowNumbers(s: SparkSession, d: String): DataFrame = {
    val p = s.sparkContext.defaultParallelism
    val base = t(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val (lo, hi) = graft.Tables.footerDoubleRange(s, d, "orders", "o_totalprice")
      .getOrElse((0.0, 1e7))
    // NULL price → lo → clamped pid p-1: the last bucket, where desc NULLS
    // LAST ordering places those rows anyway, so pid stays monotone
    val parted = base
      .withColumn("pid", least(lit(p - 1), greatest(lit(0),
        floor((lit(hi) - coalesce(col("o_totalprice"), lit(lo))) * p
          / lit(hi - lo + 1e-9)).cast(IntegerType))))
    val local = Window.partitionBy("pid", "o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val withLocal = parted.withColumn("lrn", row_number().over(local))
    val cum = Window.partitionBy("o_orderpriority").orderBy("pid")
    val offsets = withLocal.groupBy("pid", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("off", sum("cnt").over(cum) - col("cnt"))
      .select(col("pid").as("off_pid"), col("o_orderpriority").as("off_key"),
        col("off"))
    withLocal.join(broadcast(offsets),
        col("pid") === col("off_pid") && col("o_orderpriority") <=> col("off_key"))
      .withColumn("rn", (col("lrn") + col("off")).cast(IntegerType))
      .drop("pid", "off_pid", "off_key", "lrn", "off")
  }

  /** [Q-win-ntile2] scale-safe ntile/percent_rank/cume_dist: the same
    * escape hatch [[q_win_rank2]] built for rank, extended to the three
    * remaining distribution functions — all derivable from the two-phase
    * global row_number plus a broadcast per-key count (5 rows):
    * `ntile(k)` places row rn in the bucket boundary formula over (n, k);
    * `percent_rank` = (tie-rank − 1)/(n − 1); `cume_dist` = (last tie
    * row's rn)/n. The only window over the raw 5-value key is gone; tie
    * windows key on the diverse (priority, price) pair. Replaces
    * [[q_win_ntile]]'s single-partition-per-key plan at scale.
    *
    * Kept as a hand form: its oracle is the plain window, so the text would
    * turn it into a copy of q_win_ntile. */
  def q_win_ntile2(s: SparkSession, d: String): DataFrame = {
    val k = 4
    // null-safe key match so a NULL priority group keeps its count row
    val counts = t(s, d, "orders").groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .select(col("o_orderpriority").as("cnt_key"), col("n"))
    val ties = Window.partitionBy("o_orderpriority", "o_totalprice")
    val q = col("n").divide(k).cast(LongType) // floor(n/k)
    val r = col("n") % k                      // first r buckets get q+1 rows
    twoPhaseRowNumbers(s, d)
      .withColumn("rnk", min(col("rn")).over(ties))
      .withColumn("mx", max(col("rn")).over(ties))
      .join(broadcast(counts), col("o_orderpriority") <=> col("cnt_key"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        when(col("rn") <= r * (q + 1), floor((col("rn") - 1) / (q + 1)) + 1)
          .otherwise(r + floor((col("rn") - r * (q + 1) - 1) / q) + 1)
          .cast(IntegerType).as("quartile"),
        when(col("n") === 1, lit(0.0))
          .otherwise((col("rnk") - 1).cast(DoubleType) / (col("n") - 1)).as("pr"),
        (col("mx").cast(DoubleType) / col("n")).as("cd"))
  }

  // ---- §2.8 scalar function families ----------------------------------------

  /** [Q-fn-string] string family over part.
    *
    * Kept as a hand form: the text gives a different result on Spark: Spark's
    * parser unescapes the `\\w` in the `regexp_extract` pattern literal to
    * `w`. */
  def q_fn_string(s: SparkSession, d: String): DataFrame =
    t(s, d, "part").select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      lower(col("p_name")).as("name_l"),
      substring(col("p_type"), 1, 5).as("type5"),
      length(col("p_name")).as("name_len"),
      element_at(split(col("p_type"), " "), 1).as("type_head"),
      regexp_extract(col("p_type"), "(\\w+)$", 1).as("type_tail"),
      concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
      col("p_name").like("%a%").as("has_a"))

  /** [Q-fn-map] map functions: parse props into map<string,bigint>, explode
    * to (k, v) rows, aggregate per key. from_json → MapType + generator
    * explode is the §2.8 map-family surface.
    *
    * Kept as a hand form: the text calls DuckDB's `json_keys`, which Spark
    * does not have. */
  def q_fn_map(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select(explode(from_json(col("props"), "map<string,bigint>",
        Map.empty[String, String])).as(Seq("k", "v")))
      .groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v"), max("v").as("max_v"))

  /** [Q-fn-json] JSON extraction over events.props.
    *
    * Kept as a hand form: the text runs 1.13x this form's time at sf0.1
    * (hand 0.23 s, text 0.26 s) and 1.17x at sf1 (hand 0.70 s, text
    * 0.82 s). The text sums value at DECIMAL(10,2) where this form sums at
    * DECIMAL(8,2), Spark's compact-long sum path ([[dec8]]). Paired
    * cross-commit timing: min over 6 alternating JVMs per side of the
    * median of 5-9 warm reps (3-5 at sf1, the 10x fixture replica),
    * local[4]. */
  def q_fn_json(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select(get_json_object(col("props"), "$.k").cast(IntegerType).as("k"), col("value"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(dec8(col("value"))).cast(D).as("sum_value"))

  /** [Q-fn-array] higher-order array functions over embeddings: fold (dot with
    * itself = squared L2 norm), size, max — all inside codegen, no UDF.
    *
    * Kept as a hand form: the text calls DuckDB's `list_sum`, which Spark
    * does not have. */
  def q_fn_array(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").select(
      col("vec_id"), col("label"),
      size(col("embedding")).as("dim"),
      round(expr(
        "sqrt(aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
      ), 6).as("l2"),
      expr("CAST(array_max(embedding) AS DOUBLE)").as("max_e"))

  // ---- round-4 additions ---------------------------------------------------

  /** [Q-agg-listagg] ordered string aggregation (LISTAGG / string_agg):
    * nation names per region, sorted then joined — the deterministic form
    * (collect_list order is partition-dependent, so the sort INSIDE the
    * aggregate is what makes this reproducible at any parallelism).
    *
    * Kept as a hand form: the text's `string_agg(x, ',' ORDER BY x)` is
    * DuckDB syntax. */
  def q_agg_listagg(s: SparkSession, d: String): DataFrame =
    t(s, d, "nation")
      .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
        count(lit(1)).as("n"))

  /** [Q-fn-interval] interval / timestamp arithmetic family: interval add,
    * minutes-into-day (aligned-boundary diff), epoch seconds — all row-local.
    * `div 60` (integer) rather than `/60` so both engines count whole
    * minutes from the midnight-aligned origin identically.
    *
    * Kept as a hand form: the text's `date_diff('minute', …)` (a quoted unit)
    * and `epoch` are DuckDB SQL. */
  def q_fn_interval(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").select(
      col("event_id"),
      (col("ts") + expr("INTERVAL 90 MINUTES")).as("ts_plus90"),
      expr("(unix_timestamp(ts) - unix_timestamp(date_trunc('DAY', ts))) div 60")
        .as("mins_into_day"),
      unix_timestamp(col("ts")).as("epoch_s"))

  /** [Q-win-sessionize] batch gap-based sessionization as ROW-LEVEL
    * attribution (the windowed complement of the session-window AGGREGATE in
    * q_stream_session): a session starts when the gap from the previous
    * event exceeds 30 min; the session id is the running count of session
    * starts. Two stacked windows over ONE keyed shuffle (same partitioning,
    * same order → Spark plans a single sort + two window operators).
    *
    * Kept as a hand form: the text calls DuckDB's `epoch`, which Spark does
    * not have. */
  def q_win_sessionize(s: SparkSession, d: String): DataFrame = {
    val byTs = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("new_s",
        when(col("ts").cast("long") - lag(col("ts"), 1).over(byTs).cast("long")
          >= 1800 || lag(col("ts"), 1).over(byTs).isNull, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("event_id"), col("user_id"), col("sid"), col("new_s"))
  }

  /** [Q-fn-date2] second date family: last_day, aligned day-of-week,
    * ISO week number, day-of-year, epoch-day diff — row-local calendar
    * arithmetic. (Spark's dayofweek is 1=Sunday; DuckDB's is 0=Sunday —
    * the oracle adds 1 to align, a documented engine-semantics bridge.)
    *
    * Kept as a hand form: the text gives a different result on Spark: its
    * `dayofweek(x) + 1` aligns DuckDB's 0-based day of week, and Spark's is
    * already 1-based. */
  def q_fn_date2(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").select(
      col("o_orderkey"),
      last_day(col("o_orderdate")).cast("date").as("month_end"),
      dayofweek(col("o_orderdate")).as("dow"),
      weekofyear(col("o_orderdate")).as("iso_week"),
      dayofyear(col("o_orderdate")).as("doy"),
      datediff(col("o_orderdate"), lit("1970-01-01")).as("epoch_days"))

  /** [Q-fn-explode-outer] generator NULL semantics: explode_outer keeps
    * the parent row (with a NULL element) when the array filters down to
    * empty — plain explode silently DROPS it, which at corpus scale is a
    * data-loss bug that no row count on the happy path catches.
    *
    * Kept as a hand form: the text runs 2.60x this form's time at sf0.1
    * (hand 0.05 s, text 0.13 s) and 2.43x at sf1 (hand 0.07 s, text
    * 0.17 s): its `LEFT JOIN LATERAL (SELECT explode(…))` plans a join of
    * each row with its own generated rows where this form is one
    * `explode_outer` in the projection. Paired cross-commit timing: min
    * over 3 alternating JVMs per side of the median of 5 warm reps (3 at
    * sf1, the 10x fixture replica), local[4]. */
  def q_fn_explode_outer(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").select(
      col("vec_id"),
      explode_outer(expr("filter(embedding, v -> CAST(v AS DOUBLE) > 3.0)")).as("x0"))
      .select(col("vec_id"), round(expr("CAST(x0 AS DOUBLE)"), 6).as("x"))

  /** [Q-fn-array2] second array family: slice + fold, element position
    * lookup, negative indexing — all codegen'd row-local higher-order /
    * positional ops over the embedding vectors.
    *
    * Kept as a hand form: the text calls DuckDB's `list_sum`, which Spark
    * does not have. */
  def q_fn_array2(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").select(
      col("vec_id"),
      round(expr(
        "aggregate(slice(embedding, 1, 8), CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE))"
      ), 6).as("head8_sum"),
      expr("array_position(embedding, array_max(embedding))").as("pos_max"),
      expr("CAST(element_at(embedding, -1) AS DOUBLE)").as("last_e"),
      size(expr("array_distinct(embedding)")).as("n_distinct_e"))

  /** [Q-text-mask] character-class masking (mask(): upper→X, lower→x,
    * digit→n, punctuation kept) — the PII-shape-preserving scrub that
    * keeps format signal (lengths, word shapes) while destroying content.
    * Row-local; the oracle mirrors it with three regexp passes.
    *
    * Kept as a hand form: the text runs 1.75x this form's time at sf0.1
    * (hand 0.04 s, text 0.07 s) and 3.00x at sf1 (hand 0.12 s, text
    * 0.36 s): it chains three `regexp_replace` passes per column where
    * this form calls Spark's one-pass `mask`. Paired cross-commit timing:
    * min over 3 alternating JVMs per side of the median of 5 warm reps (3
    * at sf1, the 10x fixture replica), local[4]. */
  def q_text_mask(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(
      col("c_custkey"),
      expr("mask(c_name)").as("name_masked"),
      expr("mask(c_mktsegment)").as("seg_masked"))

  /** [Q-win-ffill] FORWARD FILL: carry the last non-null observation
    * forward per key (`last_value IGNORE NULLS` over an unbounded-preceding
    * frame) — the time-series imputation step before any model sees a gappy
    * series. Nulls are planted deterministically (every 7th event) so both
    * engines fill the identical gaps. One keyed window.
    *
    * Kept as a hand form: the text's `last_value(x IGNORE NULLS)` inside the
    * call is DuckDB syntax. */
  def q_win_ffill(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        when(pmod(col("event_id"), lit(7)) === 0, lit(null)).otherwise(col("value"))
          .as("v_gappy"))
      .withColumn("v_filled", last(col("v_gappy"), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("v_gappy"), col("v_filled"))
  }

  /** [Q-ts-gapfill] time-series resample + gap fill: an hourly bucket grid
    * per event_type spanning [min, max] (sequence + explode — generated
    * PER GROUP ROW, so there is no driver scalar and no 1-row cross join),
    * left-joined to actual bucket counts, missing buckets filled with 0.
    * The canonical densification step before any windowed model sees the
    * series; grid size is O(groups · span/step), never corpus-sized.
    *
    * Kept as a hand form: the text calls DuckDB's `generate_series`, which
    * Spark does not have. */
  def q_ts_gapfill(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("event_type"), date_trunc("HOUR", col("ts")).as("b"))
    val grid = ev.groupBy("event_type").agg(min("b").as("mn"), max("b").as("mx"))
      .select(col("event_type"),
        explode(expr("sequence(mn, mx, INTERVAL 1 HOUR)")).as("b"))
    val counts = ev.groupBy("event_type", "b").agg(count(lit(1)).as("n0"))
    grid.join(counts, Seq("event_type", "b"), "left_outer")
      .select(col("event_type"), col("b"), coalesce(col("n0"), lit(0L)).as("n"))
  }

  /** [Q-text-bm25] BM25 retrieval scoring (Robertson/Sparck-Jones; the
    * ranking function behind corpus search and retrieval-based curation) of
    * a fixed query against every document: k1 = 1.2, b = 0.75, idf =
    * ln(1 + (N - df + ½)/(df + ½)).
    *
    * Determinism contract: the per-term contribution (the only libm-`ln`
    * value) is rounded to DECIMAL(20,6) BEFORE the per-doc sum, so the
    * sum is exact decimal arithmetic — order-independent across
    * partitionings and bit-identical across engines (a raw double sum
    * would expose both engines' fold order AND their ln's last-ulp
    * disagreement at the top-k boundary). Same spirit as floor(x+0.5) in
    * q_embed_quantize. DuckDB-oracle-matched.
    *
    * The declared entry pins the 4-term literal set below for the oracle;
    * `bm25` is the parameterized API (any query term set, any top-k).
    *
    * Kept as a hand form: the text explodes every token into a row, joins
    * df on the term and shuffles per term and per document; the kernel
    * form below runs 3 jobs instead of the text formulation's 8, and its
    * warm median at sf0.1 measured 0.16 s against 0.40 s (perfbench
    * queries-sf0.1, 22 warm passes per side, 4 cores). */
  def q_text_bm25(s: SparkSession, d: String): DataFrame =
    bm25(t(s, d, "documents"), Seq("hash", "join", "fast", "scan"))

  /** BM25 scoring of `qterms` against every document in `docs` (columns
    * `doc_id`, the documents key, and whitespace-tokenized `text`), top `k`
    * by (score desc, doc_id), with `n_terms` the number of distinct query
    * terms a document holds. A document that holds none is dropped.
    * Determinism contract per [Q-text-bm25].
    *
    * Plan shape: two passes over one row-local projection — `doc_id`, the
    * document length ([[graft.functions.txt.token_count]]) and the counts
    * of the distinct query terms ([[graft.functions.txt.term_counts]]),
    * both read on the text's bytes with no row per token. The first pass is
    * one scalar subquery, a 1-row aggregate that yields avgdl and the idf
    * of each term (from N and df); the second scores each document where it
    * stands ([[graft.functions.Bm25Score]], which references the subquery
    * once: a `getField` per use makes Spark re-optimize the subquery once
    * per reference). A document with no term scores null: the top-k cut
    * (TakeOrdered) puts nulls last and the filter above it drops them, so
    * `term_counts` runs once per document; a filter on `tf` below the
    * scorer would be pushed under its projection with `tf` inlined and run
    * it twice. The only exchange is the subquery's global aggregate: no
    * join, no per-term or per-document shuffle, at any scale. Building the
    * query runs no job. */
  def bm25(docs: DataFrame, qterms: Seq[String], k: Int = 20): DataFrame = {
    require(qterms.nonEmpty, "bm25 needs at least one query term")
    val terms = qterms.distinct
    val counted = docs.select(col("doc_id"), txt.token_count(col("text")).as("dl"),
      txt.term_counts(col("text"), terms).as("tf"))
    val n = count(lit(1)).cast("double")
    val idf = terms.indices.map { i =>
      val df = count_if(col("tf").getItem(i) > 0).cast("double")
      log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5)))
    }
    val stats = counted.agg(struct(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      array(idf: _*).as("idf"))).scalar()
    counted.select(col("doc_id"), txt.bm25_score(col("dl"), col("tf"), stats).as("s"))
      .select(col("doc_id"), col("s.bm25").as("bm25"), col("s.n_terms").as("n_terms"))
      .orderBy(col("bm25").desc_nulls_last, col("doc_id"))
      .limit(k)
      .where(col("bm25").isNotNull)
  }

  /** Hard fence for the exact-percentile oracle baseline: Spark's exact
    * `percentile_cont` buffers EVERY group value in the aggregation buffer —
    * with 5 priority groups that is n/5 doubles in one task's memory, an
    * OOM-class plan at production scale. Same policy as the all-pairs
    * embed baseline ([[Similarity.embedBaselineMaxRows]]): throw rather
    * than silently run it big. The scale path is [[q_agg_approx_quantile]]
    * (mergeable GK sketch, bounded memory). */
  val exactQuantileMaxRows: Long = 10000000L

  /** Refuses q_agg_quantile's text over more than [[exactQuantileMaxRows]]
    * orders. The count comes from parquet FOOTERS read driver-side
    * ([[graft.Tables.footerRowCount]], cached per dir): zero Spark jobs, so
    * the fence adds nothing to the measured query path. */
  def exactQuantileFence(s: SparkSession, d: String): Unit = {
    val n = graft.Tables.footerRowCount(s, d, "orders")
    require(n <= exactQuantileMaxRows,
      s"q_agg_quantile is the fenced exact-percentile oracle baseline; input " +
        s"has $n rows (max $exactQuantileMaxRows). Use q_agg_approx_quantile at scale.")
  }

  /** [Q-agg-approx-quantile] quantile-sketch family: approx_percentile
    * (Greenwald-Khanna) per group. Sketches are mergeable — partial sketches
    * combine map-side, so the shuffle carries O(groups · accuracy) summary
    * tuples, not rows; at 100 TB this is THE way to get percentiles (the
    * exact `percentile_cont` in q_agg_quantile's text buffers each group's
    * values).
    * Sketch internals are engine-specific → rows-only driver check; the
    * rank-error bound vs the exact quantile is asserted in ScalaTest.
    * Accuracy 1000 (rank error n/1000): the sketch state — and with it
    * the per-row update and merge cost — scales with the accuracy knob,
    * and 10000 made this the noisiest entry in the bench record (2.3x
    * run-to-run spread) for precision the rank-error test never needed. */
  def q_agg_approx_quantile(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").groupBy("o_orderpriority")
      .agg(expr("approx_percentile(o_totalprice, 0.5, 1000)").as("p50_a"),
        expr("approx_percentile(o_totalprice, 0.9, 1000)").as("p90_a"),
        expr("approx_percentile(o_totalprice, 0.99, 1000)").as("p99_a"),
        count(lit(1)).as("n"))
}
