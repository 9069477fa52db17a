package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One recorded call: `layer.function`, its interval, the span that caused
  * it, and the Spark counters that ran while it was the innermost open span.
  */
final class Span(val id: Int, val parent: Int, val name: String,
    val startNs: Long) {
  var endNs: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap()
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, `span` is a plain call. Enabled, it
  * registers a SparkListener and a QueryExecutionListener and drains the
  * (asynchronous) listener bus at every span boundary, so each event is
  * credited to the span that was innermost when the event was posted. This
  * is sound only because operations run one at a time.
  */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  @volatile private var current: Span = null
  private var enabled = false

  private def credit(k: String, v: Double): Unit = {
    val s = current
    if (s != null) s.synchronized(s.add(k, v))
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = credit("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      credit("stages", 1)
      if (e.stageInfo.failureReason.isDefined) credit("failed_stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      credit("tasks", 1)
      if (e.taskInfo.failed) credit("failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        credit("task_run_s", m.executorRunTime / 1e3)
        credit("task_cpu_s", m.executorCpuTime / 1e9)
        credit("gc_s", m.jvmGCTime / 1e3)
        credit("input_bytes", m.inputMetrics.bytesRead.toDouble)
        credit("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        credit("output_records", m.outputMetrics.recordsWritten.toDouble)
        credit("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        credit("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        credit("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        // the Spark UI's scheduler-delay formula
        val delay = e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          e.taskInfo.gettingResultTime
        credit("sched_delay_s", math.max(0L, delay) / 1e3)
      }
    }
  }

  private object planHelper extends AdaptiveSparkPlanHelper

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      credit("queries", 1)
      credit("plan_ms", Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum.toDouble)
      credit("action_ms", ns / 1e6)
      planHelper.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s
      }.foreach { s =>
        s.metrics.get("numFiles").foreach(m => credit("files_read", m.value.toDouble))
        s.metrics.get("numOutputRows").foreach(m => credit("rows_scanned", m.value.toDouble))
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      credit("failed_queries", 1)
  }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def enable(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    enabled = true
  }

  def disable(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    enabled = false
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      drain()
      val s = new Span(spans.size, if (open.isEmpty) -1 else open.top.id,
        name, System.nanoTime())
      spans += s
      open.push(s)
      current = s
      try body
      finally {
        drain()
        s.endNs = System.nanoTime()
        open.pop()
        current = if (open.isEmpty) null else open.top
      }
    }

  /** A count the benchmark itself knows (rows returned). */
  def note(k: String, v: Double): Unit = if (enabled) credit(k, v)

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Counters of a span and everything under it. */
  def inclusive(s: Span): Map[String, Double] = {
    val acc = mutable.Map[String, Double]()
    def walk(x: Span): Unit = {
      x.counters.foreach { case (k, v) => acc(k) = acc.getOrElse(k, 0.0) + v }
      children(x).foreach(walk)
    }
    walk(s)
    acc.toMap
  }

  /** Span duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  def roots: Seq[Span] = spans.filter(_.parent == -1).toSeq

  def named(prefix: String): Seq[Span] = spans.filter(_.name.startsWith(prefix)).toSeq

  def clear(): Unit = { spans.clear(); open.clear(); current = null }

  def writeJsonl(path: String, workload: String, seed: Long): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val sb = new StringBuilder
    spans.foreach { s =>
      val n = om.createObjectNode()
      n.put("id", s.id); n.put("parent", s.parent); n.put("name", s.name)
      n.put("workload", workload); n.put("seed", seed)
      n.put("start_s", (s.startNs - t0) / 1e9); n.put("end_s", (s.endNs - t0) / 1e9)
      n.put("self_s", selfSeconds(s))
      val c = n.putObject("counters")
      s.counters.foreach { case (k, v) => c.put(k, v) }
      sb.append(om.writeValueAsString(n)).append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
