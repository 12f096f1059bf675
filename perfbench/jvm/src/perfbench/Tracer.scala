package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for one traced run. Spans are opened and
  * closed on the driver thread around calls into the engine; while a
  * span is open its id rides every job as a local property, so the
  * listeners can attribute jobs, stages and tasks to it. Nothing is
  * registered with Spark until [[start]], so untraced runs pay nothing.
  * All arithmetic on the records (self time, driver time, slot use)
  * happens in the harness, not here. */
final class Tracer(spark: SparkSession, runId: String) {
  import Tracer._

  private val sc = spark.sparkContext
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock as the listener events' timestamps. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private final class Span(val id: Int, val name: String, val parent: Int,
      val startMs: Double) {
    var endMs: Double = Double.NaN
    val counters = mutable.LinkedHashMap.empty[String, Double]
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), nowMs)
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      open = open.tail
      sc.setLocalProperty(SpanProperty, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Sets a counter on the innermost open span. */
  def count(key: String, value: Double): Unit = open.head.counters(key) = value

  private val recorder = new Recorder
  private val sqlListener = new SqlListener

  def start(): Unit = {
    sc.addSparkListener(recorder)
    spark.listenerManager.register(sqlListener)
  }

  /** Waits for every pending listener event, unregisters, and returns
    * the whole record. */
  def stop(): ObjectNode = {
    ListenerDrain(sc)
    sc.removeSparkListener(recorder)
    spark.listenerManager.unregister(sqlListener)
    val root = mapper.createObjectNode()
    root.put("cores", sc.defaultParallelism)
    val sa = root.putArray("spans")
    spans.foreach { s =>
      val o = sa.addObject()
      o.put("id", s.id); o.put("run_id", runId); o.put("name", s.name)
      o.put("parent", s.parent)
      o.put("start_ms", s.startMs); o.put("end_ms", s.endMs)
      val c = o.putObject("counters")
      s.counters.foreach { case (k, v) => c.put(k, v) }
    }
    recorder.write(root)
    sqlListener.write(root)
    root
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  private val mapper = new ObjectMapper()

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanProperty)))
      .map(_.toInt).getOrElse(-1)

  /** Jobs and per-stage task totals, each tagged with the span that
    * was open on the thread that submitted it (-1: none). */
  private final class Recorder extends SparkListener {
    private final class Job(val id: Int, val span: Int, val startMs: Long) {
      var endMs: Long = -1L
      var succeeded = false
    }
    private final class Stage(val id: Int, val span: Int) {
      var tasks, runMs, cpuNs, gcMs, shuffleWrite, spill, outBytes = 0L
    }
    private val jobs = new ConcurrentHashMap[Int, Job]()
    private val stages = new ConcurrentHashMap[Int, Stage]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, new Job(e.jobId, spanOf(e.properties), e.time))

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.endMs = e.time
        j.succeeded = e.jobResult == JobSucceeded
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.putIfAbsent(e.stageInfo.stageId,
        new Stage(e.stageInfo.stageId, spanOf(e.properties)))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stages.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }

    def write(root: ObjectNode): Unit = {
      val ja = root.putArray("jobs")
      jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
        val o = ja.addObject()
        o.put("id", j.id); o.put("span", j.span)
        o.put("start_ms", j.startMs); o.put("end_ms", j.endMs)
        o.put("succeeded", j.succeeded)
      }
      val sa = root.putArray("stages")
      stages.values.asScala.toSeq.sortBy(_.id).foreach { s =>
        val o = sa.addObject()
        o.put("id", s.id); o.put("span", s.span); o.put("tasks", s.tasks)
        o.put("run_ms", s.runMs); o.put("cpu_ns", s.cpuNs); o.put("gc_ms", s.gcMs)
        o.put("shuffle_write_bytes", s.shuffleWrite); o.put("spill_bytes", s.spill)
        o.put("output_bytes", s.outBytes)
      }
    }
  }

  /** Per SQL action: rows the file scans produced and files the write
    * commands created, read from the executed plan's metrics. `at_ms`
    * is when the action's physical planning ended, which happens on the
    * submitting thread when the action runs; the harness books the
    * action to the span open at that time. */
  private final class SqlListener extends QueryExecutionListener {
    private val actions = new java.util.concurrent.ConcurrentLinkedQueue[ObjectNode]()

    private def walk(p: SparkPlan, f: SparkPlan => Unit): Unit = {
      f(p)
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, f)
        case q: QueryStageExec => walk(q.plan, f)
        case _: ReusedExchangeExec => return // counted where it first ran
        case _ =>
      }
      p.children.foreach(walk(_, f))
      p.subqueries.foreach(walk(_, f))
    }

    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      var scanRows, scanFiles, filesWritten, bytesWritten = 0L
      walk(qe.executedPlan, {
        case s: FileSourceScanExec =>
          scanRows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          scanFiles += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case w: DataWritingCommandExec =>
          filesWritten += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
          bytesWritten += w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
        case _ =>
      })
      val o = mapper.createObjectNode()
      o.put("func", func); o.put("duration_ms", durationNs / 1e6)
      o.put("at_ms", qe.tracker.phases.values.map(_.endTimeMs).maxOption.getOrElse(-1L))
      o.put("scan_rows", scanRows); o.put("scan_files", scanFiles)
      o.put("files_written", filesWritten); o.put("bytes_written", bytesWritten)
      actions.add(o)
    }

    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()

    def write(root: ObjectNode): Unit = {
      val a = root.putArray("sql_actions")
      actions.asScala.foreach(a.add)
    }
  }
}
