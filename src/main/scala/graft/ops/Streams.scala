package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.Tables

/** SURVEY.md §2.9 streaming extension — batch-equivalent declared queries.
  *
  * DuckDB has no streaming, so the declared `[Q-stream-*]` queries are the
  * batch time-window equivalents; `graft.streaming.EventStreams` runs the same
  * aggregations through Structured Streaming and the ScalaTest suite asserts
  * streaming output == these batch results (SURVEY §2.9 batch-equivalence).
  */
object Streams {
  // (8,2): p ≤ 8 keeps the sum on Catalyst's DecimalAggregates long path
  // (see Relational.dec8, r18); value domain < $1M, identical exact sum
  private val valDec = sum(col("value").cast(DecimalType(8, 2))).cast(DoubleType)

  /** Shared window transforms — applied identically to the batch table here
    * and to the Structured Streaming source in graft.streaming.EventStreams
    * (one plan definition, two execution modes: SURVEY §2.9). */
  private[graft] def tumbleAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), valDec.as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  private[graft] def slideAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), valDec.as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  private[graft] def sessionAgg(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), valDec.as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("n"), col("sum_value"))

  /** [Q-stream-tumble] 10-minute tumbling window per event_type.
    *
    * Kept as a hand form: the batch transform is the one the streaming
    * execution runs (`EventStreams.tumble`), and StreamingSpec compares the
    * two; the text also calls DuckDB's `time_bucket`. */
  def q_stream_tumble(s: SparkSession, d: String): DataFrame =
    tumbleAgg(Tables(s, d, "events"))

  /** [Q-stream-slide] 10-minute windows sliding by 5 — each event lands in 2.
    *
    * Kept as a hand form: the batch transform is the one the streaming
    * execution runs (`EventStreams.slide`), and StreamingSpec compares the
    * two; the text also calls DuckDB's `time_bucket`. */
  def q_stream_slide(s: SparkSession, d: String): DataFrame =
    slideAgg(Tables(s, d, "events"))

  /** [Q-stream-session] 30-minute-gap session windows per user.
    * Oracle expresses the same via gaps-and-islands window functions.
    *
    * Kept as a hand form: the batch transform is the one the streaming
    * execution runs (`EventStreams.session`), and StreamingSpec compares the
    * two (the text gives the same result on Spark). */
  def q_stream_session(s: SparkSession, d: String): DataFrame =
    sessionAgg(Tables(s, d, "events"))
}
