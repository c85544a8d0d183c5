package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.10 multimodal-column plumbing.
  *
  * Media payloads are opaque `binary` columns + a typed metadata struct —
  * the pattern a 100 TB training-data pipeline uses (the bytes travel with
  * the row; feature extraction is per-partition and never collects).
  *
  * The container has no image/audio codecs, so `decodeStub` is a clearly
  * marked DETERMINISTIC FAKE decode: it derives a fixed-shape feature vector
  * from the payload bytes via xxhash64. The Spark-side plumbing — binary
  * schema, batch shape, partition-parallel extraction, metadata struct — is
  * real and tested; swapping in a real codec replaces only the inner
  * expression (or a mapInPandas/mapInArrow stage on a cluster with codecs).
  */
object Multimodal {

  /** documents.text re-materialized as an opaque binary payload + metadata —
    * stands in for (image|audio|video) bytes. */
  def asBinaryTable(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents").select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(col("source"), col("lang"), col("n_chars")).as("meta"))

  /** DETERMINISTIC FAKE decode: payload → fixed-dim "feature" vector.
    * Real pipelines put the codec here (Catalyst expr / mapInArrow). */
  def decodeStub(payloadCol: String, dim: Int = 8): org.apache.spark.sql.Column =
    expr(s"transform(sequence(0, ${dim - 1}), i -> " +
      s"CAST(xxhash64($payloadCol, i) AS DOUBLE) / 9.223372036854776E18)")

  /** Per-payload feature extraction over binary columns (fake decode). */
  def features(s: SparkSession, d: String, dim: Int = 8): DataFrame =
    asBinaryTable(s, d).select(
      col("doc_id"),
      length(col("payload")).as("n_bytes"),
      decodeStub("payload", dim).as("features"),
      col("meta.source").as("source"))

  case class MediaRow(doc_id: Long, payload: Array[Byte], source: String)
  case class FeatureRow(doc_id: Long, n_bytes: Int, features: Array[Double],
                        source: String)

  /** The same fake decode as `decodeStub`, as a plain JVM function —
    * replicates Catalyst's xxhash64(payload, i) chain (seed 42, children
    * hashed left to right) so the two paths agree bit-for-bit. */
  private[ops] def decodeStubJvm(payload: Array[Byte], dim: Int): Array[Double] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{BinaryType, IntegerType}
    Array.tabulate(dim) { i =>
      val h1 = XxHash64Function.hash(payload, BinaryType, 42L)
      val h2 = XxHash64Function.hash(i, IntegerType, h1)
      h2.toDouble / 9.223372036854776e18
    }
  }

  /** Partition-parallel feature extraction through a TYPED per-partition
    * iterator — the plumbing a real media codec drops into (swap
    * `decodeStubJvm` for JNI/image/audio decode, or replace the whole stage
    * with mapInArrow for batch-columnar codecs). Rows stream through the
    * iterator (constant memory per partition, no collect); the encoder
    * schema is the cross-partition contract. Asserted bit-equal to the
    * expression path in RowsOnlySpec. */
  def featuresPartitioned(s: SparkSession, d: String, dim: Int = 8): Dataset[FeatureRow] = {
    import s.implicits._
    asBinaryTable(s, d)
      .select(col("doc_id"), col("payload"), col("meta.source").as("source"))
      .as[MediaRow]
      .mapPartitions(_.map(r => FeatureRow(
        r.doc_id, r.payload.length, decodeStubJvm(r.payload, dim), r.source)))
  }

  /** [Q-mm-features] fake-decode feature vectors (rows-only check). */
  def q_mm_features(s: SparkSession, d: String): DataFrame =
    features(s, d).select(col("doc_id"), col("n_bytes"),
      round(expr("aggregate(features, CAST(0 AS DOUBLE), (a, x) -> a + x * x)"), 6)
        .as("feat_sqnorm"))

  /** Fixed-size frame sampling over a binary payload (the video/audio
    * "every k-th chunk" access pattern): array of `frameBytes`-sized binary
    * slices. Pure expression — the bytes never leave the row. An empty
    * payload yields an empty array (unguarded, sequence(0, -1) evaluates
    * DESCENDING to [0, -1] and would fabricate two bogus frames). */
  def frames(payloadCol: String, frameBytes: Int = 64): org.apache.spark.sql.Column =
    expr(s"CASE WHEN length($payloadCol) = 0 THEN CAST(array() AS ARRAY<BINARY>) " +
      s"ELSE transform(sequence(0, CAST(ceil(length($payloadCol) / " +
      s"CAST($frameBytes AS DOUBLE)) AS INT) - 1), " +
      s"f -> substring($payloadCol, f * $frameBytes + 1, $frameBytes)) END")

  /** Resize a feature vector to `newDim`: truncate or zero-pad — the
    * fixed-shape contract downstream models need. */
  def resizeFeatures(featCol: String, newDim: Int): org.apache.spark.sql.Column =
    expr(s"transform(sequence(1, $newDim), i -> " +
      s"CASE WHEN i <= size($featCol) THEN element_at($featCol, i) " +
      s"ELSE CAST(0 AS DOUBLE) END)")
}
