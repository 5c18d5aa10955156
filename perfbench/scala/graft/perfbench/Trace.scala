package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span: the jobs submitted while it was the
  * innermost open span, and their tasks. */
final class Counters {
  val jobs, tasks, cpuNs, gcMs, shuffleWriteBytes, fetchWaitMs, spillBytes = new AtomicLong
  def toJson: String =
    s"""{"jobs":${jobs.get},"tasks":${tasks.get},"cpu_ns":${cpuNs.get},"gc_ms":${gcMs.get},""" +
      s""""shuffle_write_bytes":${shuffleWriteBytes.get},"fetch_wait_ms":${fetchWaitMs.get},""" +
      s""""spill_bytes":${spillBytes.get}}"""
}

final case class Span(id: Int, var name: String, parent: Int, startNs: Long, var endNs: Long = -1L)

/** Spans around the benchmark's calls into the program's layers, kept in
  * memory and written once at the end of the run. Each span tags the jobs
  * submitted inside it through a thread-local Spark property, so task
  * metrics land on the span that caused them however late the listener
  * sees them. With tracing off every method is a plain pass-through. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val planEvents = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private var sc: Option[SparkContext] = None

  def counter(span: Int): Counters = counters.computeIfAbsent(span, _ => new Counters)

  /** Register the listeners on a new session (a run sets up several). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = Some(spark.sparkContext)
    spark.sparkContext.addSparkListener(new SpanListener(this))
    spark.listenerManager.register(new PlanListener(planEvents))
    stack.headOption.foreach(s => spark.sparkContext.setLocalProperty(Tracer.Key, s.id.toString))
  }

  def open(name: String): Span = {
    val s = Span(spans.size + 1, name, stack.headOption.map(_.id).getOrElse(0), System.nanoTime())
    if (enabled) {
      spans += s
      stack = s :: stack
      sc.foreach(_.setLocalProperty(Tracer.Key, s.id.toString))
    }
    s
  }

  def close(s: Span): Unit = if (enabled) {
    s.endNs = System.nanoTime()
    stack = stack.dropWhile(_.id != s.id).drop(1)
    sc.foreach(_.setLocalProperty(Tracer.Key, stack.headOption.map(_.id.toString).orNull))
  }

  def apply[T](name: String)(body: => T): T = {
    val s = open(name)
    try body finally close(s)
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = sc.foreach(org.apache.spark.PerfbenchBus.drain)

  private def epochMs(ns: Long): Double = originMs + (ns - originNs) / 1e6

  /** Planning time reported by the query listener, attributed to the
    * innermost span whose interval holds the start of the query's first
    * planning phase. */
  private def planMsBySpan: Map[Int, Long] = {
    val closed = spans.filter(_.endNs >= 0).toSeq
    planEvents.asScala.toSeq.flatMap { case (startMs, ms) =>
      val holding = closed.filter(s => epochMs(s.startNs) <= startMs && startMs <= epochMs(s.endNs))
      if (holding.isEmpty) None else Some(holding.maxBy(_.startNs).id -> ms)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** The whole trace as one JSON document: spans with their own listener
    * counts and planning time. Times are nanoseconds since the tracer's
    * origin; span 0 stands for work outside every span. */
  def toJson: String = {
    drain()
    val plan = planMsBySpan
    val rows = spans.filter(_.endNs >= 0).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs - originNs},""" +
        s""""end_ns":${s.endNs - originNs},"plan_ms":${plan.getOrElse(s.id, 0L)},"counters":${counter(s.id).toJson}}"""
    }
    s"""{"run_id":"$runId","unattributed":${counter(0).toJson},"spans":[${rows.mkString(",\n")}]}"""
  }
}

object Tracer {
  val Key = "perfbench.span"
}

final class SpanListener(tr: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val span = Option(js.properties).flatMap(p => Option(p.getProperty(Tracer.Key))).map(_.toInt).getOrElse(0)
    tr.counter(span).jobs.incrementAndGet()
    js.stageIds.foreach(id => stageSpan.put(id, span))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val c = tr.counter(stageSpan.getOrDefault(te.stageId, 0))
    c.tasks.incrementAndGet()
    val m = te.taskMetrics
    if (m != null) {
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.spillBytes.addAndGet(m.diskBytesSpilled)
      c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
    }
  }
}

/** Analysis + optimization + physical planning time of each finished query,
  * read from its `QueryExecution.tracker`. */
final class PlanListener(out: java.util.Queue[(Long, Long)]) extends QueryExecutionListener {
  private val Phases = Set("analysis", "optimization", "planning")
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.filter { case (k, _) => Phases(k) }.values
    if (phases.nonEmpty) out.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
  }
}
