package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** In-memory spans around the calls into each layer. A span's jobs run under
  * the Spark job group `s<id>`, so [[Engine]] can attribute task counters to
  * the innermost open span. Self times are derived when the report is read. */
final class Tracer(sc: SparkContext) {
  final case class Span(id: Int, parent: Int, trace: String, name: String,
                        startNs: Long, endNs: Long, attrs: Map[String, Long])

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var open: List[Int] = Nil
  private var trace = ""

  def inTrace[T](traceId: String)(body: => T): T = {
    trace = traceId
    try body finally trace = ""
  }

  /** `body` returns its value and attributes recorded on the span. */
  def spanAttrs[T](name: String)(body: => (T, Map[String, Long])): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    sc.setJobGroup(s"s$id", name, interruptOnCancel = false)
    val start = System.nanoTime()
    try {
      val (v, attrs) = body
      spans += Span(id, parent, trace, name, start, System.nanoTime(), attrs)
      v
    } finally {
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"s$p", "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def span[T](name: String)(body: => T): T = spanAttrs(name)((body, Map.empty[String, Long]))

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs))
}

/** Task counters per Spark job group, from a listener registered on the
  * benchmark's own session (jobs outside any span count under ""). Bytes
  * read are the file scans' "size of files read" SQL metric, per query. */
final class Engine extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val queryGroup = mutable.Map.empty[Long, String]
  private val filesReadAccums = mutable.Set.empty[Long]
  private val counters = mutable.Map.empty[String, mutable.Map[String, Long]]

  private def group(g: String) =
    counters.getOrElseUpdate(g, mutable.Map.empty[String, Long].withDefaultValue(0L))

  private def noteScans(p: SparkPlanInfo): Unit = {
    filesReadAccums ++= p.metrics.filter(_.name == "size of files read").map(_.accumulatorId)
    p.children.foreach(noteScans)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        queryGroup(s.executionId) = s.jobGroupId.getOrElse("")
        noteScans(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => noteScans(u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        val c = group(queryGroup.getOrElse(d.executionId, ""))
        d.accumUpdates.foreach { case (id, v) => if (filesReadAccums(id)) c("input_bytes_read") += v }
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = group(stageGroup.getOrElse(e.stageId, ""))
    def add(k: String, v: Long): Unit = c(k) += v
    val info = e.taskInfo
    add("tasks", 1)
    if (info.failed || info.killed) add("tasks_failed", 1)
    Option(e.taskMetrics).foreach { m =>
      add("executor_busy_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      // Spark UI's scheduler delay: task wall not spent running, (de)serializing
      // or shipping the result
      val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      add("scheduler_wait_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult))
    }
  }

  def snapshot(sc: SparkContext): Map[String, Map[String, Long]] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(counters.map { case (g, c) => g -> c.toMap }.toMap)
  }
}
