package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Shuffle-shaping utilities for the 100 TB design point.
  *
  * These are the two standard levers when a keyed join stops scaling:
  *  - `bucketize`/`coLocatedJoin` — pre-shuffle both fact tables into the
  *    same bucket layout ONCE at write time, so every subsequent join on the
  *    bucket key is exchange-free (the per-query shuffle disappears; at
  *    100 TB the join shuffle IS the cost, and repeated joins on the same
  *    key amortize to zero exchanges).
  *  - `saltedJoin` — when one key's row count dwarfs the rest (a hot user,
  *    an empty-string document), split the hot key across `saltFactor`
  *    sub-keys: the big side salts deterministically, the dim side explodes
  *    over all salt values, the join stays equi, and no single task owns
  *    the hot key alone. (AQE's skew-join split handles moderate skew at
  *    runtime; salting is the static escalation for pathological keys.
  *    ScaleSpec demonstrates the AQE split firing — with the measured
  *    caveat that AQE DECLINES it when a downstream aggregation requires
  *    the join's hash partitioning, since the split would add a shuffle;
  *    deployments that want the split anyway on grouped joins set
  *    `spark.sql.adaptive.forceOptimizeSkewedJoin=true`, or salt.)
  */
object Scale {

  /** Write `df` as a bucketed, bucket-sorted table: rows are hash-placed by
    * `key` into `buckets` files per partition, the layout Spark's scan
    * reports as a valid HashPartitioning — joins/aggregations on `key`
    * between tables bucketed the same way plan NO Exchange. */
  def bucketize(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .mode("overwrite")
      .saveAsTable(table)

  /** Join two same-bucketed tables on their bucket key — exchange-free by
    * construction (assert with PlanGuard-style checks in tests). */
  def coLocatedJoin(spark: SparkSession, left: String, right: String,
                    key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** Write `df` hive-partitioned by `partCol` — the date-partitioned lake
    * layout. A reader filtering on `partCol` plans PartitionFilters and
    * never opens non-matching directories; at 100 TB this is the difference
    * between scanning a day and scanning a decade. */
  def writePartitioned(df: DataFrame, path: String, partCol: String): Unit =
    df.write.partitionBy(partCol).mode("overwrite").parquet(path)

  /** Write `df` range-clustered on `cols`: repartitionByRange splits the
    * key space into contiguous slices (range-partition shuffle with sampled
    * bounds), sortWithinPartitions orders rows inside each file — so every
    * parquet file and every row group covers a NARROW, mostly-disjoint key
    * range. A reader filtering on `cols` then skips whole files/row groups
    * from footer min/max stats alone (plus partition-level pruning when
    * combined with writePartitioned). At 100 TB this data-CLUSTERING lever
    * is what makes point/range lookups not scan the corpus; it composes
    * with, and differs from, bucketize (join co-location) and
    * writePartitioned (coarse directory pruning). */
  def sortForSkipping(df: DataFrame, path: String, numFiles: Int,
                      cols: String*): Unit = {
    val cs = cols.map(col)
    df.repartitionByRange(numFiles, cs: _*)
      .sortWithinPartitions(cs: _*)
      .write.mode(SaveMode.ErrorIfExists).parquet(path)
  }

  /** Write `df` Z-ORDER clustered on TWO numeric columns: each column
    * equi-width-buckets into 2^bits cells (`width_bucket` — row-local,
    * codegen'd; the min/max scalars are one cheap aggregate, a write-path
    * cost, not a per-query one), the two bucket ids bit-INTERLEAVE into a
    * z-value, and the data range-partitions + sorts on z. Because the
    * z-curve is locality-preserving in BOTH dimensions, every output file
    * covers a compact rectangle of (c1, c2) space — so footer min/max
    * stats prune lookups filtering on EITHER column, where a plain sort on
    * c1 leaves every file spanning c2's full range. The two-dimensional
    * complement of [[sortForSkipping]]. */
  def zorderWrite(df: DataFrame, path: String, numFiles: Int,
                  c1: String, c2: String, bits: Int = 8): Unit = {
    require(bits >= 1 && bits <= 15, s"bits must be in [1,15], got $bits")
    val r = df.agg(
      min(col(c1).cast("double")), max(col(c1).cast("double")),
      min(col(c2).cast("double")), max(col(c2).cast("double"))).head()
    val (lo1, hi1, lo2, hi2) = (r.getDouble(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3))
    require(hi1 > lo1 && hi2 > lo2,
      s"z-order needs non-degenerate ranges: [$lo1,$hi1] [$lo2,$hi2]")
    val n = 1 << bits
    def bucket(c: String, lo: Double, hi: Double) =
      least(greatest(
        expr(s"width_bucket(CAST($c AS DOUBLE), ${lo}d, ${hi}d, $n)") - 1,
        lit(0)), lit(n - 1)).cast("long")
    val b1 = bucket(c1, lo1, hi1)
    val b2 = bucket(c2, lo2, hi2)
    val z = (0 until bits).map(i =>
      shiftleft(b1.bitwiseAND(lit(1L << i)), i) +
        shiftleft(b2.bitwiseAND(lit(1L << i)), i + 1))
      .reduce(_ + _)
    val cols = df.columns.map(col).toSeq
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .select(cols: _*)
      .write.mode(SaveMode.ErrorIfExists).parquet(path)
  }

  /** Global (unpartitioned) RANK over `orderCol` WITHOUT the
    * single-partition sort `Window.orderBy` plans — the generic form of
    * [[graft.ops.Relational.q_win_rank2]]'s two-phase escape hatch, usable
    * on any frame (including computed aggregates, where no parquet footer
    * stats exist: the slice bounds come from a 1-row min/max aggregate
    * attached by a derived-key broadcast hash join — data, not partitioner
    * state, so the slice id stays a pure function of the row however
    * Catalyst materializes the branches).
    *
    * Phase 1: slice id = equi-width bucket of the order value between the
    * broadcast (min, max) — ascending or inverted for descending — then
    * row_number per slice (windows of ~n/slices rows, parallelism ∝ data).
    * Phase 2: per-slice counts (≤ `slices` rows — the ONE remaining
    * unpartitioned window, bounded by construction) cumulate into offsets;
    * global row_number = local + broadcast offset; tie-aware rank =
    * min(row_number) over the value tie group (a diverse-key shuffle).
    *
    * Semantics ≡ `rank().over(Window.orderBy(asc/desc))` including NULL
    * placement (asc: nulls first, slice 0; desc: nulls last, last slice)
    * and ties — asserted by ScaleSpec against the single-window form.
    * The double cast of the order value only picks the SLICE; exact
    * ordering inside/across slices uses the original column. That is
    * correct ONLY for types whose cast-to-double is order-homomorphic
    * (a ≤ b ⟹ cast(a) ≤ cast(b)): numerics (long > 2^53 loses precision
    * but stays weakly monotone, which slicing tolerates), boolean, date,
    * timestamp. For every other type (strings: lexicographic "10" < "9"
    * but 10.0 > 9.0; mixed numeric/non-numeric strings split between
    * numeric slices and the null-fallback slice) the two orders DISAGREE
    * and the sliced plan would rank silently wrong — so those types fall
    * back to the plain single-window form (correct, not parallel; a
    * fact-scale string rank should order by a numeric sort key instead).
    * Two degenerate-but-correct edges: a NaN anywhere in the column makes
    * max() NaN, which collapses every row to the null-fallback slice —
    * one slice, one sorted window, correct output, no parallelism
    * (price-like columns never carry NaN); and a single dominant tie
    * value concentrates the tie-resolution shuffle on that value's group
    * (rank of a tie group is one number, but its rows still co-locate to
    * compute it).
    *
    * Internal column names `_lo/_hi/_pid/_lrn/_opid/_off` are
    * reserved: an input frame already carrying one would be silently
    * overwritten by `withColumn` and dropped at the end, so the helper
    * refuses it up front.
    *
    * WHEN TO USE (measured, r12 with a since-retired A/B harness; the
    * decision is logged in OPTIMIZATION_r18.md): this wins when the ranked frame is fact-proportional — the
    * one-task sort is the bottleneck and the extra keyed shuffles are
    * noise. The local[32] crossover curve over parquet-backed orders
    * replicas: 150k rows window 0.18 s vs two-phase 0.68 (window 3.7×
    * ahead), 3M rows 2.1 vs 2.9, 15M rows 13.3 vs 10.9 — the single-task
    * sort's advantage decays with rows and flips around 10⁷ even on ONE
    * machine; on a cluster the one-task sort is additionally a straggler
    * and a memory wall while the two-phase plan spreads ∝ data. It LOSES
    * on small computed aggregates: the bounds pass re-executes the input
    * subtree, so wiring it into Q49/Q44's ≤|items| per-item aggregates
    * measured 2–3× SLOWER (q49 0.88 → 4.3 s, q44 0.43 → 1.3 s at sf0.1)
    * than their bounded single-partition windows, which therefore stay.
    * If `df` is an expensive subtree, persist it first — the helper scans
    * it twice. */
  def globalRank(df: DataFrame, orderCol: String, ascending: Boolean,
                 rankCol: String, slices: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val reserved = Seq("_lo", "_hi", "_pid", "_lrn", "_opid", "_off")
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"globalRank reserves internal column names ${reserved.mkString(",")}; " +
        s"input frame already carries ${clash.mkString(",")} — rename first")
    require(df.columns.contains(orderCol), s"no column $orderCol")
    val orderType = df.schema(orderCol).dataType
    // slice assignment needs an order-homomorphic NUMERIC image of the
    // order column; anything without one (strings!) takes the exact
    // single-window fallback instead of ranking wrong
    val homomorphic = orderType match {
      case _: NumericType | BooleanType | DateType | TimestampType |
           TimestampNTZType => true
      case _ => false
    }
    if (!homomorphic) {
      val ord0 = if (ascending) col(orderCol).asc else col(orderCol).desc
      return df.withColumn(rankCol,
        rank().over(Window.orderBy(ord0)).cast(IntegerType))
    }
    val p = if (slices > 0) slices
            else df.sparkSession.sparkContext.defaultParallelism
    // Per-type monotone map to double. Spark 4 forbids CAST(DATE AS
    // DOUBLE) and CAST(TIMESTAMP_NTZ AS DOUBLE) (DATATYPE_MISMATCH at
    // analysis), and NTZ→TIMESTAMP is NOT monotone (a DST spring-forward
    // gap resolves by shifting +1h, so local 02:59 can map AFTER 03:00):
    // dates take the epoch-day image, NTZ a TZ-free field decomposition.
    // Non-strictness is fine — equal doubles land in the SAME slice and
    // within-slice ordering uses the original column.
    val v = orderType match {
      case DateType => unix_date(col(orderCol)).cast(DoubleType)
      case TimestampNTZType =>
        unix_date(to_date(col(orderCol))).cast(DoubleType) * 86400.0 +
          hour(col(orderCol)).cast(DoubleType) * 3600.0 +
          minute(col(orderCol)).cast(DoubleType) * 60.0 +
          date_part(lit("SECOND"), col(orderCol)).cast(DoubleType)
      case _ => col(orderCol).cast(DoubleType)
    }
    // the 1-row bounds attach by a broadcast HASH join
    // (graft.plans.SingleRowAttach keys the cross join)
    val bounds = df.agg(min(v).as("_lo"), max(v).as("_hi"))
    val dir = if (ascending) v - col("_lo") else col("_hi") - v
    val span = col("_hi") - col("_lo") + lit(1e-9)
    // NULL order value (or all-NULL frame): asc sorts nulls FIRST → slice
    // 0; desc sorts them LAST → last slice — matching Window.orderBy
    val nullPid = if (ascending) lit(0) else lit(p - 1)
    val parted = df.crossJoin(broadcast(bounds))
      // (dir / span) first: dir*p overflows to Infinity for |values| near
      // Double.MaxValue/p, and floor(Inf)'s Long.MaxValue wraps the non-ANSI
      // Int cast to -1 → greatest() would clamp the LARGEST rows into slice
      // 0. dir/span stays in [0,1], so the intermediate stays in [0,p].
      .withColumn("_pid",
        least(lit(p - 1), greatest(lit(0),
          coalesce(floor(dir / span * p).cast(IntegerType), nullPid))))
      .drop("_lo", "_hi")
    val ord = if (ascending) col(orderCol).asc else col(orderCol).desc
    val withLrn = parted
      .withColumn("_lrn", row_number().over(
        Window.partitionBy(col("_pid")).orderBy(ord)))
    val offsets = withLrn.groupBy("_pid").agg(count(lit(1)).as("_cnt"))
      .withColumn("_off",
        sum("_cnt").over(Window.orderBy(col("_pid"))) - col("_cnt"))
      .select(col("_pid").as("_opid"), col("_off"))
    withLrn.join(broadcast(offsets), col("_pid") === col("_opid"))
      .withColumn(rankCol,
        min(col("_lrn") + col("_off"))
          .over(Window.partitionBy(col(orderCol)))
          .cast(IntegerType))
      .drop("_pid", "_opid", "_lrn", "_off")
  }

  /** Equi-join `big ⋈ dim` on `key` with the dim side replicated over
    * `saltFactor` sub-keys. The big side's salt is derived from xxhash64 of
    * the whole row (deterministic, uniform); the dim side explodes to all
    * salt values, so every (key, salt) pair finds its match and the result
    * equals the unsalted join exactly. Dim-side blowup is saltFactor×dim —
    * use for big⋈small joins where one big-side key is pathologically hot. */
  def saltedJoin(big: DataFrame, dim: DataFrame, key: String,
                 saltFactor: Int): DataFrame = {
    val salted = big.withColumn("_salt",
      pmod(xxhash64(struct(big.columns.map(col).toSeq: _*)), lit(saltFactor)))
    val replicated = dim.withColumn("_salt",
      explode(sequence(lit(0L), lit(saltFactor - 1L))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Tie-aware distributed TOP-K-WITH-RANK — `rank().over(Window.orderBy)
    * .filter(rank <= k)` semantics WITHOUT ranking (or even sorting) the
    * corpus. The k-th best value comes from `orderBy(ord).limit(k)` — a
    * TakeOrderedAndProject: every partition keeps its local top-k, the
    * driver merges P·k rows, no global sort — aggregated to a 1-row
    * threshold attached by the derived-key broadcast hash join. Survivors
    * (rank ≤ k ⟺ value not worse than the k-th: ties AT the threshold all
    * have rank ≤ k, so the filter is exact, not approximate) are then the
    * ONLY rows ranked, with a plain window over the ≤(k + threshold-tie)
    * frame. NULL order values follow Spark's window order: asc = NULLS
    * FIRST (rank 1 — always survive), desc = NULLS LAST (survive only
    * when fewer than k non-null values exist). A pathological column
    * where ~all rows tie at the threshold degrades survivors toward the
    * full frame — the same mass a real top-k must return; for that shape
    * use [[globalRank]] instead. At 100 TB this is THE form for
    * "top 10 per metric" reports (Q49/Q44's published shape): the fact
    * pass reduces to a per-partition heap + one broadcast, no shuffle of
    * the frame at all.
    *
    * NOTE (discovered r12 while plan-testing this): Spark 4 already
    * pushes a PLAIN `rank().over(orderBy).filter(rank <= k)` into
    * WindowGroupLimit — per-partition rank-aware partial top-k before
    * the single-partition exchange, which then carries only ≤ k·P rows —
    * so the naive window form is itself scale-reasonable for a SINGLE
    * rank filter (Q44's independent `rnk < 11` filters plan 4
    * group-limits). topKRank earns its keep where the pushdown can't
    * go: OR-combined multi-rank filters (Q49's published shape plans 0
    * group-limits — verified), reusing one threshold across frames, or
    * when k·P is itself too big for the final one-task sort. */
  def topKRank(df: DataFrame, orderCol: String, ascending: Boolean, k: Int,
               rankCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.IntegerType
    val reserved = Seq("_thr", "_nn")
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"topKRank reserves internal column names ${reserved.mkString(",")}; " +
        s"input frame already carries ${clash.mkString(",")} — rename first")
    val v = col(orderCol)
    val ord = if (ascending) v.asc else v.desc
    val kthAgg = if (ascending) max(col("_v")) else min(col("_v"))
    val thr = df.select(v.as("_v"))
      .orderBy(if (ascending) col("_v").asc else col("_v").desc)
      .limit(k)
      .agg(kthAgg.as("_thr"), count(col("_v")).as("_nn"))
    val survives =
      if (ascending) v <= col("_thr") || v.isNull // nulls sort FIRST: rank 1
      else v >= col("_thr") || (v.isNull && col("_nn") < k) // nulls LAST
    // the 1-row threshold attaches by a broadcast HASH join
    // (graft.plans.SingleRowAttach keys the cross join)
    df.crossJoin(broadcast(thr)).filter(survives)
      .withColumn(rankCol, rank().over(Window.orderBy(ord)).cast(IntegerType))
      .filter(col(rankCol) <= k)
      .drop("_thr", "_nn")
  }

  /** [Q-win-grank] the generic two-phase global rank DECLARED — every
    * order ranked by price, DESCENDING, with no partition key at all (the
    * case [[graft.ops.Relational.q_win_rank2]]'s machinery can't serve:
    * rank2 still slices within a partition column; globalRank needs only
    * the order column and a min/max pass, so it generalizes to computed
    * frames). The oracle is the plain unpartitioned window — the driver's
    * hash match is the EXTERNAL proof that the two-phase plan is
    * value-for-value that window, ties and all.
    *
    * Kept as a hand form: the oracle text is the plain form this scale design
    * must equal, so running it would drop the design, and an sf0.1 timing
    * does not decide a design built for sf≥100. */
  def q_win_grank(s: SparkSession, d: String): DataFrame =
    globalRank(
      graft.Tables(s, d, "orders").select(col("o_orderkey"), col("o_totalprice")),
      "o_totalprice", ascending = false, "rnk")

  /** [Q-win-topk-rank] the tie-aware distributed top-k-with-rank DECLARED —
    * the 100 highest-priced orders with their global rank, via
    * [[topKRank]] (per-partition partial-limit threshold, broadcast hash
    * attach, only survivors ranked). The oracle is the plain
    * `rank() ... WHERE rnk <= k` subquery — the driver's hash match is
    * the external proof of the threshold algebra, ties included.
    *
    * Kept as a hand form: the oracle text is the plain form this scale design
    * must equal, so running it would drop the design, and an sf0.1 timing
    * does not decide a design built for sf≥100. */
  def q_win_topk_rank(s: SparkSession, d: String): DataFrame =
    topKRank(
      graft.Tables(s, d, "orders").select(col("o_orderkey"), col("o_totalprice")),
      "o_totalprice", ascending = false, 100, "rnk")

  /** [Q-join-salted] the salted skew join DECLARED — revenue per market
    * segment through `saltedJoin(orders ⋈ customer)` with 8 salt sub-keys.
    * The oracle is the PLAIN equi-join SQL: the driver's DuckDB hash-match
    * is the proof that salting is purely a physical-layout transform (the
    * ScalaTest equality check, made external). This is the static escalation
    * for a pathologically hot key that AQE's runtime skew split can't fix
    * (one logical key too big for ANY single task).
    *
    * Kept as a hand form: the oracle text is the plain form this scale design
    * must equal, so running it would drop the design, and an sf0.1 timing
    * does not decide a design built for sf≥100. */
  def q_join_salted(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val big = graft.Tables(s, d, "orders")
      .select(col("o_custkey").as("custkey"), col("o_totalprice"))
    val dim = graft.Tables(s, d, "customer")
      .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    saltedJoin(big, dim, "custkey", saltFactor = 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType)
          .as("sum_price"))
  }
}
