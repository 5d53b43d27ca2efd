package graftbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer: the unit the traced mode attributes Spark work
  * to. Its job group (`group`) is set on the calling thread for the
  * call's duration, so every job, stage and task it starts carries it. */
final class Span(val id: Long, val name: String, val layer: String,
    val parent: Long, val request: Long, val startNs: Long) {
  var endNs = 0L
  var failed = false
  /** Result rows the client received or wrote. */
  var rows = 0L
  /** Whether the tracer kept this span (recording was on). */
  var recorded = false
  val group = s"graftbench-$id"
}

/** Counters attributed to one span. Updated from the listener bus. */
final class SpanCounters {
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  /** On-disk bytes of the files a tx-table scan planned. */
  var scanBytes = 0L
  var joinRows = 0L
  var filesPlanned = 0L
  var filesListed = 0L
}

/** Spans and their Spark counters. When `recording` is off, spans still
  * set job groups (the client's timeout cancels by group) but nothing is
  * kept and no listener is attached; the traced mode turns recording on
  * for the middle two of four rounds to measure its own overhead. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private var nextId = 0L
  private val stack = ArrayBuffer[Span]()
  val spans = ArrayBuffer[Span]()
  private var recording = false
  private var attached = false

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  /** Plan statistics and execution ids, both keyed by the identity of
    * the QueryExecution (the two listeners see it on different buses). */
  private val planStats =
    java.util.Collections.synchronizedMap(
      new java.util.IdentityHashMap[QueryExecution, SpanCounters]())
  private val planExec =
    java.util.Collections.synchronizedMap(
      new java.util.IdentityHashMap[QueryExecution, java.lang.Long]())
  private val counters = new ConcurrentHashMap[String, SpanCounters]()
  private def countersOf(g: String) =
    counters.computeIfAbsent(g, _ => new SpanCounters)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("graftbench-"))
        .foreach(g => e.stageIds.foreach(stageGroup.put(_, g)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(e.stageId)
      val tm = e.taskMetrics
      if (g != null && tm != null) {
        val c = countersOf(g)
        c.synchronized {
          c.tasks += 1
          c.cpuNs += tm.executorCpuTime
          c.runMs += tm.executorRunTime
          c.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten +
            tm.shuffleReadMetrics.totalBytesRead
          c.spillBytes += tm.diskBytesSpilled
          c.gcMs += tm.jvmGCTime
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.filter(_.startsWith("graftbench-"))
          .foreach(execGroup.put(s.executionId, _))
      case s: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.graftbench.ExecutionEnd.queryExecution(s)
          .foreach(planExec.put(_, Long.box(s.executionId)))
      case _ =>
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val c = new SpanCounters
      Tracer.nodes(qe.executedPlan).foreach {
        case j: BaseJoinExec =>
          c.joinRows += j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case b: BatchScanExec =>
          Tracer.FilesPlanned.findFirstMatchIn(b.scan.description()).foreach {
            m => c.filesPlanned += m.group(1).toLong
              c.filesListed += m.group(2).toLong
              b.scan match {
                case s: SupportsReportStatistics =>
                  c.scanBytes += s.estimateStatistics().sizeInBytes().orElse(0L)
                case _ =>
              }
          }
        case _ =>
      }
      planStats.put(qe, c)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception)
        : Unit = ()
  }

  /** Turn recording on or off before the next operation. Detaching first
    * drains the listener bus so the last recorded span keeps its events. */
  def setRecording(on: Boolean): Unit = {
    recording = on && enabled
    if (recording && !attached) {
      sc.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
      attached = true
    } else if (!recording && attached) {
      org.apache.spark.graftbench.Bus.drain(sc)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
      attached = false
    }
  }
  def isRecording: Boolean = recording

  def open(name: String, layer: String, parent: Long, request: Long): Span = {
    nextId += 1
    val s = new Span(nextId, name, layer, parent, request, System.nanoTime())
    sc.setJobGroup(s.group, name, interruptOnCancel = true)
    stack += s
    if (recording) { spans += s; s.recorded = true }
    s
  }

  def close(s: Span, failed: Boolean): Unit = {
    s.endNs = System.nanoTime()
    s.failed = failed
    stack -= s
    stack.lastOption match {
      case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = true)
      case None => sc.clearJobGroup()
    }
  }

  /** The most recently opened span, for the caller to record its rows. */
  def last: Option[Span] = if (nextId == 0) None else
    spans.lastOption.filter(_.id == nextId)

  /** Counters per recorded span, with the plan statistics of each SQL
    * execution folded into the span whose job group started it. */
  def countersBySpan(): Map[Long, SpanCounters] = {
    if (attached) org.apache.spark.graftbench.Bus.drain(sc)
    planStats.asScala.foreach { case (qe, st) =>
      Option(planExec.get(qe)).flatMap(e => Option(execGroup.get(e.longValue)))
        .foreach { g =>
        val c = countersOf(g)
        c.synchronized {
          c.joinRows += st.joinRows
          c.filesPlanned += st.filesPlanned
          c.filesListed += st.filesListed
          c.scanBytes += st.scanBytes
        }
      }
    }
    planStats.clear()
    planExec.clear()
    spans.map(s => s.id -> Option(counters.get(s.group))
      .getOrElse(new SpanCounters)).toMap
  }

  /** Writes the recorded spans as JSON lines. */
  def dump(f: File): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""parent":${s.parent},"request":${s.request},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""failed":${s.failed},"rows":${s.rows}}""")
    } finally w.close()
  }
}

object Tracer {
  private val FilesPlanned = "files planned (\\d+)/(\\d+)".r

  /** Every physical node of a plan: adaptive final plans, query stages,
    * reused exchanges and subqueries included. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => Iterator(q) ++ nodes(q.plan)
    case r: ReusedExchangeExec => Iterator(r) ++ nodes(r.child)
    case other => Iterator(other) ++
      other.children.iterator.flatMap(nodes) ++
      other.subqueries.iterator.flatMap(nodes)
  }
}
