package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Re-running declared queries in one session reuses their generated
  * classes. Spark's default codegen cache (100 entries) is smaller than
  * this list's working set (~130 compiles at sf0.01), so without
  * [[graft.plans.SessionDefaults.codegenCache]] every round compiles the
  * whole list again. The list is the benchmark's query slice; it holds
  * none of the queries whose AQE stage order or distinct-aggregate
  * rewrite changes their generated code between constructions (see the
  * SessionDefaults scaladoc). */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val names = Seq("q_tpcds_q1", "q_tpcds_q45", "q_tpcds_q84",
    "q_agg_moments", "q_join_anti", "q_stream_tumble", "q_dedup_simhash",
    "q_text_bm25", "q_text_stats")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Build and execute each query once; the compile count of each. */
  private def round(): Seq[(String, Long)] = names.map { n =>
    val c0 = compiles
    SparkEntry.queries(n)(spark, TestSpark.sf001)
      .write.format("noop").mode("overwrite").save()
    n -> (compiles - c0)
  }

  test("a second round of declared queries compiles no class") {
    round()
    val second = round()
    assert(second.forall(_._2 == 0),
      s"recompiled on the second round: ${second.filter(_._2 > 0).mkString(", ")}")
  }
}
