package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Q67 decade-ratio A/B (r14 verdict #4).
  *
  * Q67 is rank-over-8-level-rollup. The r15 plan audit shows Spark 4's
  * WindowGroupLimit DOES engage (partial top-100 before the exchange), so
  * the super-linear decade ratio (sf10 8.3 s → sf100 31.8 s, 3.8×) must
  * come from the aggregation: `rollup` plans an Expand that multiplies
  * the JOINED FACT 9× (one copy per grouping set) before the partial
  * aggregate — at sf100 that is ~2.6 G expanded rows into a partial hash
  * table carrying 9 grouping-set key spaces at once.
  *
  * Shape B aggregates ONCE at leaf grain (the 8 columns), then rolls up
  * the leaf AGGREGATE: Expand runs over |leaf groups| rows instead of
  * |fact| rows. Exact DECIMAL sums are associative, so the two shapes are
  * value-identical (asserted here before timing).
  *
  * Usage: SPARK_DRIVER_MEM=16g runMain graft.tools.Q67Bench <sfDir>
  *   [reps=3] (sfDir = fixture dir or "sf100" with
  *   SPARK_GRAFT_CACHE_ROOT pointing at a probe root)
  */
object Q67Bench {
  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    // value identity (exceptAll both ways) shuffles BOTH shapes' full
    // results at once — at sf100 that triples scratch-disk needs and can
    // ENOSPC a host that runs either shape alone comfortably. The
    // identity is associativity of exact DECIMAL sum (scale-free), so
    // prove it at sf10 and pass --skip-identity for the sf100 timing.
    val skipIdentity = flags.contains("--skip-identity")
    val sfDir = pos.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = pos.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_CACHE_ROOT")
      .foreach(r => b.config("spark.graft.cacheRoot", r))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dir = graft.ops.Tpcds.ensure(spark, sfDir)
    def t(name: String) = graft.ops.Tpcds.t(spark, dir, name)
    val groupCols = Seq("i_category", "i_class", "i_brand", "i_product_name",
      "d_year", "d_qoy", "d_moy", "s_store_id")

    def joined: DataFrame = {
      val dd = t("date_dim").filter(col("d_month_seq").between(1200, 1211))
        .select("d_date_sk", "d_year", "d_qoy", "d_moy")
      val it = t("item")
        .select("i_item_sk", "i_category", "i_class", "i_brand", "i_product_name")
      val st = t("store").select("s_store_sk", "s_store_id")
      t("store_sales")
        .select("ss_sold_date_sk", "ss_item_sk", "ss_store_sk", "ss_quantity",
          "ss_sales_price")
        .join(broadcast(dd), col("ss_sold_date_sk") === col("d_date_sk"))
        .join(broadcast(it), col("ss_item_sk") === col("i_item_sk"))
        .join(broadcast(st), col("ss_store_sk") === col("s_store_sk"))
    }
    val amt = coalesce(col("ss_sales_price") * col("ss_quantity"),
      lit(0).cast(DecimalType(7, 2)))
    def finish(rolled: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("i_category").orderBy(col("sumsales").desc)
      rolled.withColumn("rk", rank().over(w)).filter(col("rk") <= 100)
        .select((groupCols.map(col) :+
          col("sumsales").cast(DoubleType).as("sumsales") :+ col("rk")): _*)
    }
    // A: the declared shape — rollup directly over the joined fact
    def shapeA: DataFrame = finish(
      joined.rollup(groupCols.map(col): _*).agg(sum(amt).as("sumsales")))
    // B: leaf-grain aggregate first, rollup over the aggregate
    def shapeB: DataFrame = finish(
      joined.groupBy(groupCols.map(col): _*).agg(sum(amt).as("leaf"))
        .rollup(groupCols.map(col): _*).agg(sum(col("leaf")).as("sumsales")))

    // value-identity gate before any timing
    if (!skipIdentity) {
      val a = shapeA; val bq = shapeB
      val diff = a.exceptAll(bq).count() + bq.exceptAll(a).count()
      require(diff == 0, s"shapes disagree: $diff rows differ")
      println(s"""{"check":"value_identity","ok":true,"rows":${a.count()}}""")
    }

    def timed(name: String, mk: () => DataFrame): Unit = {
      // shuffle files persist until driver GC (the Sf100Probe ENOSPC
      // class) — reclaim between runs, outside the timed window
      def gc(): Unit = { System.gc(); Thread.sleep(1500) }
      mk().write.format("noop").mode("overwrite").save() // warm
      val runs = (1 to reps).map { _ =>
        gc()
        val t0 = System.nanoTime()
        mk().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"""{"shape":"$name","warm_median_s":${runs(runs.size / 2)}%.2f,"runs":[${runs.map(r => f"$r%.2f").mkString(",")}],"sf":"$sfDir"}""")
    }
    timed("A_rollup_over_fact", () => shapeA)
    timed("B_rollup_over_leaf_agg", () => shapeB)
    spark.stop()
  }
}
