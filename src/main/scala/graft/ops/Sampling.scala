package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic corpus sampling / mixing (SURVEY §2.10 extension) — the
  * operators a training-data pipeline uses to cut reproducible samples and
  * per-source mixing ratios. Everything is a row-local filter on a hash of
  * a stable key: NO shuffle, NO rand() (rand() is per-task-seeded and
  * changes under retries/repartitioning — a silent reproducibility bug at
  * scale), and re-running at any parallelism selects the SAME rows.
  */
object Sampling {

  private val M = 1000000L

  /** Keep ~`fraction` of rows, chosen by xxhash64(key, salt): deterministic,
    * partition-invariant, and independent samples for different salts. */
  def sampleByHash(df: DataFrame, key: Column, fraction: Double,
                   salt: Int = 0): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"bad fraction $fraction")
    df.filter(pmod(xxhash64(key, lit(salt)), lit(M)) < (fraction * M).toLong)
  }

  /** Per-stratum fractions (e.g. language mixing ratios): rows in a stratum
    * missing from `fractions` keep `default`. Same hash-splitter — one
    * deterministic pass, no shuffle, no per-stratum jobs. */
  def stratifiedSampleByHash(df: DataFrame, key: Column, stratum: Column,
                             fractions: Map[String, Double],
                             default: Double = 0.0, salt: Int = 0): DataFrame = {
    val cut = fractions.foldLeft(lit((default * M).toLong)) {
      case (acc, (k, f)) => when(stratum === k, lit((f * M).toLong)).otherwise(acc)
    }
    df.filter(pmod(xxhash64(key, lit(salt)), lit(M)) < cut)
  }

  /** [Q-sample] per-language stratified sampling REPORT, oracle-matched:
    * the declared query uses a plain-arithmetic splitter (doc_id * K mod
    * 100 — a fixed multiplicative mix both engines compute bit-identically)
    * so DuckDB can verify the bookkeeping cell-exact; the production
    * operators above use xxhash64 (engine-specific → covered by the
    * determinism/fraction property tests instead). en keeps 50%, everything
    * else 10% — the mixing-ratio shape.
    *
    * Kept as a hand form: the text's `count(*) FILTER (cond)` is DuckDB
    * syntax; Spark needs `FILTER (WHERE cond)`. */
  def q_sample(s: SparkSession, d: String): DataFrame = {
    val rate = when(col("lang") === "en", 50).otherwise(10)
    Tables(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        (pmod(col("doc_id") * 2654435761L, lit(100)) < rate).as("kept"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        expr("count_if(kept)").as("n_sampled"))
  }
}
