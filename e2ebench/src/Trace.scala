package e2ebench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{E2eBenchAccess, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A timed region of the benchmark: run → workload → cycle → call.
  * Call spans set a Spark job group, so the SQL executions and jobs
  * they cause can be attached below them once the run is over. */
final class Span(val id: Int, val parent: Option[Span], val layer: String, val name: String) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  var endNs: Long = startNs
  var endMs: Long = startMs
  def seconds: Double = (endNs - startNs) / 1e9
  def group: String = s"e2ebench-$id"
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
}

/** Spans kept in memory; Spark events arrive on the listener bus and are
  * joined to spans by job group after the run (no tracing inside the
  * library). The listener is only registered while `listen(true)`. */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current: Option[Span] = None
  private val sc = spark.sparkContext

  def span[T](layer: String, name: String)(body: => T): (T, Span) = {
    val s = new Span(spans.size, current, layer, name)
    spans += s
    val outer = current
    current = Some(s)
    val call = Tracer.CallLayers(layer)
    if (call) sc.setJobGroup(s.group, name, interruptOnCancel = false)
    try (body, s)
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      current = outer
      if (call) sc.clearJobGroup()
    }
  }

  def all: Seq[Span] = spans.toSeq

  import Tracer._

  val execs = new java.util.concurrent.ConcurrentHashMap[Long, Exec]()
  val qeEvents = new ConcurrentLinkedQueue[QeEvent]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      jobs.put(e.jobId, Job(e.jobId, p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))),
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong),
        e.stageIds, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
          a.shufW += m.shuffleWriteMetrics.bytesWritten
          a.shufR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          a.spill += m.diskBytesSpilled
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
          a.inRec += m.inputMetrics.recordsRead; a.inBytes += m.inputMetrics.bytesRead
          a.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, Exec(s.executionId, s.jobGroupId, s.rootExecutionId, s.time))
      case s: SparkListenerSQLExecutionEnd =>
        Option(execs.get(s.executionId)).foreach(_.endMs = s.time)
        E2eBenchAccess.ended(s).foreach { case (func, durationNs, qe) =>
          qeEvents.add(Tracer.describe(s.executionId, qe, func, durationNs))
        }
      case _ =>
    }
  }

  private var listening = false
  def listen(on: Boolean): Unit = if (on != listening) {
    listening = on
    if (on) sc.addSparkListener(sparkListener)
    else { drain(); sc.removeSparkListener(sparkListener) }
  }

  /** Wait until every posted event has been delivered. */
  def drain(): Unit = E2eBenchAccess.drain(sc)
}

object Tracer {
  final case class Exec(id: Long, group: Option[String], root: Option[Long], startMs: Long,
                        var endMs: Long = -1L)
  final case class QeEvent(id: Long, func: String, ms: Double, planMs: Double,
                           csvRows: Long, parquetRows: Long, parquetFiles: Long,
                           writes: Seq[(String, Long, Long)])
  final case class Job(id: Int, group: Option[String], exec: Option[Long], stages: Seq[Int],
                       startMs: Long, var endMs: Long = -1L)
  final class StageAgg {
    var tasks, runMs, cpuNs, gcMs, shufW, shufR, spill, inRec, inBytes, outBytes = 0L
    var peakMem = 0L
  }

  val CallLayers: Set[String] = Set("cli", "queries", "etl")

  private object Walk extends AdaptiveSparkPlanHelper

  def describe(id: Long, qe: QueryExecution, func: String, durationNs: Long): QeEvent = {
    val plan = qe.executedPlan
    val scans = Walk.collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    def rows(s: FileSourceScanExec) = s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val (csv, parquet) = scans.partition(_.relation.fileFormat.toString.toUpperCase.contains("CSV"))
    val writes = Walk.collect(plan) {
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand =>
          (i.outputPath.getName, i.metrics.get("numFiles").map(_.value).getOrElse(0L),
            i.metrics.get("numOutputBytes").map(_.value).getOrElse(0L))
        case other => (other.nodeName, 0L, 0L)
      }
    }
    val planMs = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    QeEvent(id, func, durationNs / 1e6, planMs,
      csv.map(rows).sum, parquet.map(rows).sum,
      parquet.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum, writes)
  }
}
