package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
}
