package perfbench

import graft.SparkEntry

/** The two workloads. Each query workload runs a fixed, name-sorted slice
  * of its query families every pass (every `stride`-th name starting at
  * `offset`), so a pass fits in one run's time while still sampling every
  * part of a family; the seed only changes the order. */
sealed trait Workload { def name: String }

final case class Slice(family: Seq[String], stride: Int, offset: Int) {
  def queries: Seq[String] = family.zipWithIndex.collect {
    case (q, i) if i % stride == offset => q
  }
}

final case class QueryWorkload(name: String, slices: Seq[Slice], generated: Boolean)
    extends Workload {
  def queries: Seq[String] = slices.flatMap(_.queries)
  def family: Seq[String] = slices.flatMap(_.family)
}

final case class IngestWorkload(name: String, scale: Double) extends Workload

object Workloads {
  private def isLlm(q: String): Boolean =
    Seq("q_dedup_", "q_sim_", "q_text_", "q_mm_").exists(q.startsWith(_)) ||
      Set("q_embed_quantize", "q_pack", "q_sample", "q_pipeline_clean")(q)
  private def isTpc(q: String): Boolean =
    q.startsWith("q_tpcds_") || q.startsWith("q_tpch_")

  private lazy val declared: Seq[String] =
    SparkEntry.queries.keys.filterNot(SparkEntry.pinnedScaleProofs).toSeq.sorted

  /** The 127 generated-data TPC-DS and TPC-H queries (minus the five
    * queries pinned to sf1), the 39 LLM-pipeline queries, and the 76
    * relational / window / stream / set / scalar-function fixture queries. */
  lazy val tpcFamily: Seq[String] = declared.filter(isTpc)
  lazy val llmFamily: Seq[String] = declared.filter(isLlm)
  lazy val fixtureFamily: Seq[String] = declared.filterNot(q => isTpc(q) || isLlm(q))

  lazy val all: Seq[Workload] = Seq(
    QueryWorkload("queries-sf0.1", Seq(Slice(tpcFamily, 43, 0), Slice(fixtureFamily, 25, 10),
      Slice(llmFamily, 13, 9)), generated = true),
    IngestWorkload("ingest-sf0.01", 0.01))

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
