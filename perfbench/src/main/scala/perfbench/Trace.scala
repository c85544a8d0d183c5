package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** One timed interval. Spans of one operation share `op`; `parent` is the
  * enclosing span's name within that operation (empty for the root). */
final case class Span(op: String, name: String, parent: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one tag (an operation phase). */
final class Counter {
  var jobs = 0L; var inferJobs = 0L; var materializeJobs = 0L
  var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
  var readBytes = 0L; var writeBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L

  def +=(o: Counter): Unit = {
    jobs += o.jobs; inferJobs += o.inferJobs; materializeJobs += o.materializeJobs
    stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    readBytes += o.readBytes; writeBytes += o.writeBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** Traced-run recorder: spans kept in memory, plus a SparkListener that
  * counts jobs, stages, tasks and task metrics per tag. The tag is a local
  * property set on the calling thread before each phase; Spark copies local
  * properties into threads started from it, so jobs of thread-pooled
  * construction carry their query's tag too. Untagged jobs count under "". */
final class Trace(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.HashMap.empty[String, Counter]
  private val stageTag = mutable.HashMap.empty[Int, String]

  private val execTag = mutable.HashMap.empty[Long, String]
  private val execTable = mutable.HashMap.empty[Long, (String, Long)]
  private val tableSpansBuf = mutable.ArrayBuffer.empty[Span]

  private def counter(tag: String): Counter = counters.getOrElseUpdate(tag, new Counter)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val tag = props.flatMap(p => Option(p.getProperty(Trace.TagKey))).getOrElse("")
      // a stage's name is its job's call site, e.g. "parquet at Tables.scala:40"
      val sites = e.stageInfos.map(_.name)
      val c = counter(tag)
      c.jobs += 1
      if (sites.exists(_.startsWith("parquet at"))) c.inferJobs += 1
      if (sites.exists(_.contains("Materialize"))) c.materializeJobs += 1
      e.stageIds.foreach(s => stageTag(s) = tag)
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execTag(id.toLong) = tag)
    }
    // one span per table written: the SQL execution of its write command
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          Trace.TablePath.findFirstMatchIn(s.physicalPlanDescription)
            .foreach(m => execTable(s.executionId) = (m.group(1), s.time))
        case x: SparkListenerSQLExecutionEnd =>
          for ((table, start) <- execTable.remove(x.executionId);
               tag <- execTag.get(x.executionId)) {
            val (op, step) = tag.splitAt(math.max(0, tag.lastIndexOf('/')))
            tableSpansBuf += Span(op, table, step.drop(1), start * 1000000L, x.time * 1000000L)
          }
        case _ => ()
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      counter(stageTag.getOrElse(e.stageInfo.stageId, "")).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = counter(stageTag.getOrElse(e.stageId, ""))
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.readBytes += m.inputMetrics.bytesRead
        c.writeBytes += m.outputMetrics.bytesWritten
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private var attached = false

  /** Listen only while `on`: untraced passes run without the listener. */
  def listen(on: Boolean): Unit = if (on != attached) {
    if (on) sc.addSparkListener(listener)
    else { drain(); sc.removeSparkListener(listener) }
    attached = on
  }

  /** Wait until the listener has seen every event posted so far. The bus's
    * wait method is Spark-internal, so it is reached by reflection. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def all: Map[String, Counter] = synchronized(counters.toMap)

  /** Per-table write spans (epoch-based times, unlike the nanoTime spans). */
  def tableSpans: Seq[Span] = synchronized(tableSpansBuf.toSeq)

  /** Counters summed over every tag accepted by `keep`. */
  def sum(keep: String => Boolean): Counter = synchronized {
    val total = new Counter
    counters.foreach { case (t, c) => if (keep(t)) total += c }
    total
  }

  def span[T](op: String, name: String, parent: String = "")(body: => T): T = {
    val prev = sc.getLocalProperty(Trace.TagKey)
    sc.setLocalProperty(Trace.TagKey, s"$op/$name")
    val t0 = System.nanoTime()
    try body finally {
      spans += Span(op, name, parent, t0, System.nanoTime())
      sc.setLocalProperty(Trace.TagKey, prev)
    }
  }
}

object Trace {
  val TagKey = "perfbench.tag"
  // a table directory in a plan: ".../<table>.parquet" (or .tbl / .dat)
  private val TablePath = """/([A-Za-z_]+)\.(?:parquet|tbl|dat)\b""".r
}
