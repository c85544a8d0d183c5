package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The row-per-token formulation of [[graft.ops.Relational.bm25]], kept as
  * the reference its kernel form must equal exactly: tokens explode into
  * rows, filter to the query terms, tf is a (doc, term) aggregate, df a
  * second aggregate joined back by term, and the per-document sum a third.
  * N and avgdl come from one scalar subquery. Same contract: k1 = 1.2,
  * b = 0.75, each contribution cast to DECIMAL(20,6) and summed exactly,
  * top `k` by (bm25 desc, doc_id). */
object Bm25Reference {
  def bm25(docs: DataFrame, qterms: Seq[String], k: Int = 20): DataFrame = {
    val dl = size(split(col("text"), " "))
    val stats = docs.select(struct(count(lit(1)).cast("double").as("n"),
      (sum(dl).cast("double") / count(lit(1))).as("avgdl"))).scalar()
    val (nDocs, avgdl) = (stats.getField("n"), stats.getField("avgdl"))
    val tf = docs
      .select(col("doc_id"), dl.as("dl"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(qterms: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .withColumn("idf", log(lit(1.0) +
        (nDocs - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("contrib", (col("idf") * col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)))
        .cast("decimal(20,6)"))
      .groupBy("doc_id")
      .agg(sum("contrib").cast("double").as("bm25"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }
}
