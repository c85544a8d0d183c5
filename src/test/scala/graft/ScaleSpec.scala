package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Scale

/** Shuffle-shaping utilities: bucketed joins must be exchange-free, salted
  * joins must equal their unsalted counterpart exactly. */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The in-memory catalog forgets tables across JVMs while their warehouse
    * dirs persist — clear both so saveAsTable starts fresh. */
  private def resetTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val dir = new java.io.File(s"/tmp/graft-test-warehouse/$name")
    if (dir.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("co-located join of same-bucketed tables plans no Exchange") {
    resetTable("t_orders_b")
    resetTable("t_lineitem_b")
    val orders = Tables(spark, TestSpark.sf0001, "orders")
      .select("o_orderkey", "o_totalprice")
    val lineitem = Tables(spark, TestSpark.sf0001, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    Scale.bucketize(orders, "t_orders_b", "o_orderkey", 8)
    Scale.bucketize(lineitem, "t_lineitem_b", "o_orderkey", 8)
    // disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Scale.coLocatedJoin(spark, "t_orders_b", "t_lineitem_b", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // and it computes the same rows as the plain join
      val plain = orders.join(lineitem, "o_orderkey")
      assert(joined.count() == plain.count())
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("partitioned layout prunes non-matching partitions at the scan") {
    val path = "/tmp/graft-part-events"
    val ev = Tables(spark, TestSpark.sf0001, "events")
      .withColumn("d", to_date(col("ts")))
    Scale.writePartitioned(ev, path, "d")
    val read = spark.read.parquet(path).filter(col("d") === "2024-01-03")
    val plan = read.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters: ["), s"no partition filters:\n$plan")
    assert(plan.contains("isnotnull(d"), "pruning predicate missing")
    // and the pruned read returns exactly that day's rows
    val want = ev.filter(col("d") === "2024-01-03").count()
    assert(read.count() == want && want > 0)
  }

  test("range-clustered layout: per-file key ranges are disjoint (skippable)") {
    val path = java.nio.file.Files.createTempDirectory("graft-clust").toString + "/ev"
    val ev = Tables(spark, TestSpark.sf001, "events")
      .select("event_id", "user_id", "value")
    Scale.sortForSkipping(ev, path, 8, "user_id")
    // footer-level claim: each parquet file covers a narrow user_id slice
    // and the slices don't overlap — exactly what min/max row-group
    // skipping needs to prune a point lookup down to one file
    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length >= 4, s"expected several range files, got ${files.length}")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("user_id"), max("user_id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"overlapping file ranges: hi=$hi lo2=$lo2")
      case _ =>
    }
    // content preserved, and a point filter still answers correctly
    val back = spark.read.parquet(path)
    assert(back.count() == ev.count())
    val k = ev.select("user_id").head().getLong(0)
    assert(back.filter(col("user_id") === k).count() ==
      ev.filter(col("user_id") === k).count())
  }

  test("z-order clustered layout bounds BOTH columns' per-file ranges") {
    val path = java.nio.file.Files.createTempDirectory("graft-zord").toString + "/ev"
    val ev = Tables(spark, TestSpark.sf001, "events")
      .select("event_id", "user_id", "value")
    Scale.zorderWrite(ev, path, 8, "user_id", "value")
    val g = ev.agg(min("user_id"), max("user_id"), min("value"), max("value")).head()
    val (ulo, uhi) = (g.getLong(0).toDouble, g.getLong(1).toDouble)
    val (vlo, vhi) = (g.getDouble(2), g.getDouble(3))
    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length >= 4)
    val fracs = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("user_id"), max("user_id"), min("value"), max("value")).head()
      ((r.getLong(1) - r.getLong(0)) / math.max(uhi - ulo, 1e-9),
        (r.getDouble(3) - r.getDouble(2)) / math.max(vhi - vlo, 1e-9))
    }
    // a plain sort on user_id leaves EVERY file spanning value's full range
    // (vFrac ≈ 1.0); the z-curve keeps each file a compact rectangle, so
    // both dimensions' average per-file coverage stays well under full
    val avgU = fracs.map(_._1).sum / fracs.length
    val avgV = fracs.map(_._2).sum / fracs.length
    assert(avgU < 0.8, s"avg user_id coverage $avgU not bounded")
    assert(avgV < 0.8, s"avg value coverage $avgV not bounded")
    // content preserved
    assert(spark.read.parquet(path).count() == ev.count())
  }

  test("salted join equals the unsalted join exactly") {
    val lineitem = Tables(spark, TestSpark.sf0001, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val orders = Tables(spark, TestSpark.sf0001, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val plain = lineitem.join(orders, "l_orderkey")
    val salted = Scale.saltedJoin(lineitem, orders, "l_orderkey", saltFactor = 8)
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("salted join spreads a pathologically hot key across salt buckets") {
    import spark.implicits._
    val hot = (1 to 10000).map(i => (1L, i)).toDF("k", "v")
    val dim = Seq((1L, "x")).toDF("k", "name")
    val salted = hot.withColumn("_salt",
      pmod(xxhash64(struct(col("k"), col("v"))), lit(8)))
    val spread = salted.groupBy("_salt").count().count()
    assert(spread > 4, s"salt collapsed to $spread buckets")
    val joined = Scale.saltedJoin(hot, dim, "k", 8)
    assert(joined.count() == 10000)
  }

  test("AQE splits a skewed sort-merge join at runtime (the moderate-skew path)") {
    // The engine's skew story is two-tier: saltedJoin for pathological
    // keys (above), AQE's runtime skew split for moderate skew — argued
    // in Dedup/Scale scaladocs since r3, DEMONSTRATED here (r16). One
    // key holds ~100x the median partition's rows; with the skew
    // thresholds scaled down to fixture size, the executed plan must
    // carry a skew=true sort-merge join and the result must equal the
    // same join computed under plain broadcast.
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val keep = Seq("spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      // force SMJ: no broadcast candidates at this size otherwise
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // half the fact lands on key 7 — one shuffle partition far beyond
      // factor x median. The probe aggregates GLOBALLY (no grouping):
      // a groupBy(k) downstream would REQUIRE the join's hash
      // partitioning and AQE then declines the split (it would add a
      // shuffle) — itself a finding worth pinning here.
      val fact = spark.range(0, 400000).select(
        when(col("id") % 2 === 0, 7L).otherwise(pmod(col("id"), lit(1000))).as("k"),
        col("id").as("v"))
      val dim = spark.range(0, 1000).select(col("id").as("k"),
        concat(lit("n"), col("id")).as("name"))
      val joined = fact.join(dim, "k")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"), sum(length(col("name"))).as("ln"))
      val skewRow = joined.collect() // materialize: AQE finalizes the plan
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val finalPlan = joined.queryExecution.executedPlan.collectFirst {
        case a: AdaptiveSparkPlanExec => a.executedPlan
      }.getOrElse(joined.queryExecution.executedPlan)
      // match the rendered plan: the SMJ lives inside QueryStageExec
      // wrappers (leaf nodes to collect()), but the skew mark renders
      assert(finalPlan.toString.contains("SortMergeJoin(skew=true)") &&
        finalPlan.toString.contains("skewed"),
        s"AQE never marked the join skew=true:\n${finalPlan.toString.take(2000)}")
      // the skew-SPLIT result must equal the broadcast-path result
      val want = fact.join(broadcast(dim), "k")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"), sum(length(col("name"))).as("ln"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(skewRow == want, "skew-split join diverged from broadcast join")
    } finally keep.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("globalRank equals rank() over the unpartitioned window — ties, NULLs, both directions") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // ties (few distinct values), NULLs, and a non-double order column
    val rows = (1 to 500).map(i =>
      (i.toLong, if (i % 7 == 0) None else Some((i % 23) * 10 - 50)))
    val df = rows.toDF("id", "v")
    for (asc <- Seq(true, false)) {
      val w = if (asc) Window.orderBy(col("v").asc) else Window.orderBy(col("v").desc)
      val want = df.withColumn("r", rank().over(w))
        .select("id", "r").as[(Long, Int)].collect().toMap
      val got = Scale.globalRank(df, "v", ascending = asc, "r", slices = 8)
        .select("id", "r").as[(Long, Int)].collect().toMap
      assert(got == want, s"globalRank(asc=$asc) diverged from the window form")
    }
  }

  test("globalRank/topKRank stay exact on NaN-bearing double columns (degenerate slices allowed)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rows = (1 to 120).map { i =>
      val v = if (i % 11 == 0) Double.NaN
              else if (i % 7 == 0) Double.PositiveInfinity
              else (i % 13) * 1.5
      (i.toLong, v)
    }
    val df = rows.toDF("id", "v")
    for (asc <- Seq(true, false)) {
      val w = if (asc) Window.orderBy(col("v").asc) else Window.orderBy(col("v").desc)
      val wantR = df.withColumn("r", rank().over(w)).select("id", "r")
        .as[(Long, Int)].collect().toMap
      val gotR = Scale.globalRank(df, "v", ascending = asc, "r", slices = 6)
        .select("id", "r").as[(Long, Int)].collect().toMap
      assert(gotR == wantR, s"globalRank diverged on NaN/Inf (asc=$asc)")
      val wantT = df.withColumn("r", rank().over(w)).filter(col("r") <= 9)
        .select("id", "r").as[(Long, Int)].collect().toMap
      val gotT = Scale.topKRank(df, "v", ascending = asc, 9, "r")
        .select("id", "r").as[(Long, Int)].collect().toMap
      assert(gotT == wantT, s"topKRank diverged on NaN/Inf (asc=$asc)")
    }
  }

  test("globalRank/topKRank correctness does not hinge on AQE or exchange reuse") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 300).map(i => (i.toLong, if (i % 9 == 0) None else Some(i % 17)))
      .toDF("id", "v")
    val wantRank = df.withColumn("r", rank().over(Window.orderBy(col("v").desc)))
      .select("id", "r").as[(Long, Int)].collect().toMap
    val wantTop = df.withColumn("r", rank().over(Window.orderBy(col("v").desc)))
      .filter(col("r") <= 5).select("id", "r").as[(Long, Int)].collect().toMap
    for (flags <- Seq(("false", "false"), ("true", "true"))) {
      spark.conf.set("spark.sql.adaptive.enabled", flags._1)
      spark.conf.set("spark.sql.exchange.reuse", flags._2)
      try {
        val g = Scale.globalRank(df, "v", ascending = false, "r", slices = 7)
          .select("id", "r").as[(Long, Int)].collect().toMap
        val t = Scale.topKRank(df, "v", ascending = false, 5, "r")
          .select("id", "r").as[(Long, Int)].collect().toMap
        assert(g == wantRank, s"globalRank diverged under aqe/reuse=$flags")
        assert(t == wantTop, s"topKRank diverged under aqe/reuse=$flags")
      } finally {
        spark.conf.unset("spark.sql.adaptive.enabled")
        spark.conf.unset("spark.sql.exchange.reuse")
      }
    }
  }

  test("topKRank equals rank().filter(rank <= k) — ties, NULL blocks, k beyond frame, both directions") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val shapes: Seq[Seq[Option[Int]]] = Seq(
      (1 to 200).map(i => if (i % 5 == 0) None else Some((i % 13) * 10)), // ties + 20% nulls
      (1 to 50).map(_ => Option.empty[Int]),                             // all nulls
      (1 to 50).map(i => Some(7)),                                       // all one tie group
      (1 to 3).map(i => Some(i)),                                        // tiny frame
      Seq.empty[Option[Int]])                                            // empty frame
    for {
      (vals, si) <- shapes.zipWithIndex
      asc <- Seq(true, false)
      k <- Seq(1, 4, 10, 100)
    } {
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val w = if (asc) Window.orderBy(col("v").asc) else Window.orderBy(col("v").desc)
      val want = df.withColumn("r", rank().over(w)).filter(col("r") <= k)
        .select("id", "r").as[(Long, Int)].collect().toMap
      val got = Scale.topKRank(df, "v", ascending = asc, k, "r")
        .select("id", "r").as[(Long, Int)].collect().toMap
      assert(got == want, s"topKRank(shape=$si, asc=$asc, k=$k) diverged")
    }
  }

  test("topKRank never sorts the corpus: partial limits, hash-attached threshold") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (i.toLong, i * 3 % 997)).toDF("id", "v")
    val plan = Scale.topKRank(df, "v", ascending = false, 10, "r")
      .queryExecution.executedPlan.toString
    // the k-th threshold subtree computes per-partition partial limits
    // (LocalLimit / TakeOrderedAndProject), never a full global sort
    assert(plan.contains("LocalLimit") || plan.contains("TakeOrderedAndProject"),
      s"k-th threshold not a distributed partial limit:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"threshold not attached by a broadcast HASH join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop"),
      s"threshold attach degraded to a nested loop:\n$plan")
    // bonus discovered writing this: Spark 4 pushes rank<=k into
    // WindowGroupLimit on the survivors too (per-partition rank-aware
    // top-k before the exchange) — assert we keep composing with it
    assert(plan.contains("WindowGroupLimit"),
      s"survivors' rank filter lost its group-limit pushdown:\n$plan")
  }

  test("globalRank ranks STRING order columns exactly (lexicographic, via the fallback plan)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // the canonical disagreement: lexicographic "10" < "9" but 10.0 > 9.0,
    // plus non-numeric strings (double-cast → NULL) and real NULLs — the
    // sliced plan would mis-rank all of these; the type gate must route
    // them to the exact single-window fallback (ADVICE r12, medium)
    val vals: Seq[Option[String]] =
      Seq(Some("10"), Some("9"), Some("100"), Some("zebra"), Some("apple"),
          None, Some(""), Some("10"), Some("Zebra"), Some("07"), None) ++
        (1 to 80).map(i => Some((i % 17).toString))
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    for (asc <- Seq(true, false)) {
      val w = if (asc) Window.orderBy(col("v").asc) else Window.orderBy(col("v").desc)
      val want = df.withColumn("r", rank().over(w))
        .select("id", "r").as[(Long, Int)].collect().toMap
      val got = Scale.globalRank(df, "v", ascending = asc, "r", slices = 8)
        .select("id", "r").as[(Long, Int)].collect().toMap
      assert(got == want, s"globalRank(asc=$asc) diverged on strings")
    }
  }

  test("globalRank ranks DATE and TIMESTAMP_NTZ order columns exactly (sliced plan, no double cast)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // Spark 4 forbids CAST(DATE AS DOUBLE) and CAST(TIMESTAMP_NTZ AS
    // DOUBLE) — the old blanket double cast made these types crash at
    // analysis instead of taking the sliced plan the gate admits them to
    // (ADVICE r13, medium). Dates slice on the epoch-day image; NTZ on a
    // TZ-free field decomposition (spring-forward local times included:
    // 02:30 on a US gap day must rank between 01:59 and 03:00, which the
    // NTZ→TIMESTAMP cast gets WRONG by resolving the gap +1h).
    val dates = (Seq(None, None) ++ (1 to 90).map(i =>
      Some(java.sql.Date.valueOf(f"20${i % 6}%02d-${i % 12 + 1}%02d-${i % 28 + 1}%02d"))))
    val ddf = dates.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val ntz = (Seq(None, None) ++ Seq(
      Some("2024-03-10 01:59:59.999999"), Some("2024-03-10 02:30:00"),
      Some("2024-03-10 03:00:00"), Some("2024-03-10 02:30:00")) ++
      (1 to 90).map(i =>
        Some(f"200${i % 9} -${i % 12 + 1}%02d-${i % 28 + 1}%02d ${i % 24}%02d:${i % 60}%02d:${(i * 7) % 60}%02d".replace(" -", "-"))))
    val ndf = ntz.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "s")
      .withColumn("v", col("s").cast(org.apache.spark.sql.types.TimestampNTZType))
      .select("id", "v")
    assert(ndf.schema("v").dataType == org.apache.spark.sql.types.TimestampNTZType)
    for (df <- Seq(ddf, ndf); asc <- Seq(true, false)) {
      val w = if (asc) Window.orderBy(col("v").asc) else Window.orderBy(col("v").desc)
      val want = df.withColumn("r", rank().over(w))
        .select("id", "r").as[(Long, Int)].collect().toMap
      val got = Scale.globalRank(df, "v", ascending = asc, "r", slices = 8)
        .select("id", "r").as[(Long, Int)].collect().toMap
      assert(got == want,
        s"globalRank(asc=$asc) diverged on ${df.schema("v").dataType}")
    }
  }

  test("globalRank stays exact at extreme double magnitudes (no dir*p overflow)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // |values| near Double.MaxValue: the old floor(dir*p/span) overflowed
    // dir*p to Infinity, wrapped the Int cast to -1, and clamped the
    // LARGEST rows into slice 0 (ADVICE r12); floor(dir/span*p) stays finite
    val vals = Seq(-Double.MaxValue, -1e308, -1.0, 0.0, 1.0, 1e300,
                   1e308, Double.MaxValue, Double.MaxValue) ++
      (1 to 60).map(i => i * 1e306)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    for (asc <- Seq(true, false)) {
      val w = if (asc) Window.orderBy(col("v").asc) else Window.orderBy(col("v").desc)
      val want = df.withColumn("r", rank().over(w))
        .select("id", "r").as[(Long, Int)].collect().toMap
      val got = Scale.globalRank(df, "v", ascending = asc, "r", slices = 8)
        .select("id", "r").as[(Long, Int)].collect().toMap
      assert(got == want, s"globalRank(asc=$asc) diverged at extreme magnitudes")
    }
  }

  test("topKRank is exact on STRING order columns (native ordering, no double cast anywhere)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // unlike globalRank, topKRank never casts the order column — the
    // threshold comes from orderBy/limit in the column's own ordering —
    // so strings must rank exactly WITHOUT any fallback plan
    val vals: Seq[Option[String]] =
      Seq(Some("10"), Some("9"), Some("100"), Some("zebra"), None, Some(""),
          Some("10"), Some("Zebra"), Some("07"), None) ++
        (1 to 60).map(i => Some((i % 13).toString))
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    for (asc <- Seq(true, false); k <- Seq(3, 12)) {
      val w = if (asc) Window.orderBy(col("v").asc) else Window.orderBy(col("v").desc)
      val want = df.withColumn("r", rank().over(w)).filter(col("r") <= k)
        .select("id", "r").as[(Long, Int)].collect().toMap
      val got = Scale.topKRank(df, "v", ascending = asc, k, "r")
        .select("id", "r").as[(Long, Int)].collect().toMap
      assert(got == want, s"topKRank(asc=$asc, k=$k) diverged on strings")
    }
  }

  test("globalRank/topKRank refuse input frames carrying reserved internal names") {
    import spark.implicits._
    val df = (1 to 10).map(i => (i.toLong, i * 2, s"x$i")).toDF("id", "v", "_pid")
    val eg = intercept[IllegalArgumentException] {
      Scale.globalRank(df, "v", ascending = true, "r")
    }
    assert(eg.getMessage.contains("_pid"), s"wrong message: ${eg.getMessage}")
    val df2 = (1 to 10).map(i => (i.toLong, i * 2, i)).toDF("id", "v", "_thr")
    val et = intercept[IllegalArgumentException] {
      Scale.topKRank(df2, "v", ascending = true, 3, "r")
    }
    assert(et.getMessage.contains("_thr"), s"wrong message: ${et.getMessage}")
  }

  test("globalRank's big window is slice-keyed, never a full single-partition sort") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, i * 1.5)).toDF("id", "v")
    val plan = Scale.globalRank(df, "v", ascending = true, "r")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val shuffles = plan.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n")
    assert(shuffles.contains("_pid"), s"no slice-keyed hash shuffle:\n$plan")
    // the slice id must be a pure function of the row, not of placement
    assert(!plan.toUpperCase.contains("SPARK_PARTITION_ID"),
      s"pid derived from physical partition placement:\n$plan")
    // the bounds attach must stay a HASH join even over this NON-NULLABLE
    // order column (graft.plans.SingleRowAttach keys the 1-row attach)
    assert(!plan.contains("BroadcastNestedLoop"),
      s"bounds attach degraded to a nested loop:\n$plan")
  }
}
