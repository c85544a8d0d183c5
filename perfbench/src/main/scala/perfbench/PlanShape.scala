package perfbench

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Node counts of a query's final (post-adaptive) physical plan, plus the
  * bytes its file scans selected. Query stages are walked into, a reused
  * exchange counts once as reused (its target is not re-counted), and
  * subquery plans are included. */
object PlanShape {
  val keys: Seq[String] =
    Seq("file_scans", "exchanges", "reused_exchanges", "nested_loop_joins", "broadcasts")

  def count(root: SparkPlan): Map[String, Long] = {
    val n = scala.collection.mutable.Map((keys :+ "scan_bytes").map(_ -> 0L): _*)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => n("reused_exchanges") += 1
      case _ =>
        p.getClass.getSimpleName match {
          case "FileSourceScanExec" | "BatchScanExec" =>
            n("file_scans") += 1
            // bytes of the files the scan selected ("size of files read")
            n("scan_bytes") += p.metrics.get("filesSize").map(_.value).getOrElse(0L)
          case "ShuffleExchangeExec" => n("exchanges") += 1
          case "BroadcastExchangeExec" => n("broadcasts") += 1
          case "BroadcastNestedLoopJoinExec" | "CartesianProductExec" =>
            n("nested_loop_joins") += 1
          case _ => ()
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(root)
    n.toMap
  }
}
