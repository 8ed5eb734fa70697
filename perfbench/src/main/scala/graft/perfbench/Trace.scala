package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One recorded span: a call into one layer's public functions.
  * Times are driver wall clock; `startMs`/`endMs` (epoch) are kept
  * beside the monotonic `startNs`/`endNs` so planning phases, which
  * Spark stamps in epoch milliseconds, can be attributed to spans. */
final case class Span(id: Long, name: String, parent: Long, runId: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Executor-side and planning counters accumulated for one span. */
final class SpanCounters {
  var jobs = 0L
  var runTimeMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
}

/** Records spans around layer calls in the benchmark's own code and
  * attributes Spark work to them. A disabled tracer runs the bodies
  * and records nothing, so untraced runs pay no tracing cost.
  *
  * Attribution: the driver thread tags every job it submits with the
  * innermost open span (a Spark local property), so job, stage and
  * task events carry the span that caused them. Planning time comes
  * from a `QueryExecutionListener`; it is attributed to the innermost
  * span open when the query's planning phase started. Spans are kept
  * in memory; counters are read once the listener bus has drained. */
final class Tracer(spark: SparkSession, val enabled: Boolean, runId: String) {
  import Tracer.SpanProp

  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.HashMap[Long, SpanCounters]()
  private val stageSpan = mutable.HashMap[Int, Long]()
  private var stack: List[(Long, String, Long, Long)] = Nil
  private var nextId = 1L
  private val planEvents = mutable.ArrayBuffer[(Long, Long)]() // (startMs, planMs)

  private def countersOf(id: Long): SpanCounters =
    counters.synchronized(counters.getOrElseUpdate(id, new SpanCounters))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = spanOf(e.properties)
      if (id > 0) {
        countersOf(id).jobs += 1
        e.stageIds.foreach(s => stageSpan(s) = id)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = spanOf(e.properties)
      if (id > 0) stageSpan(e.stageInfo.stageId) = id
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = countersOf(id)
        c.runTimeMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planning = Seq("analysis", "optimization", "planning").flatMap(phases.get)
      if (planning.nonEmpty) {
        val start = phases.get("planning").getOrElse(planning.maxBy(_.startTimeMs)).startTimeMs
        planEvents.synchronized(planEvents += ((start, planning.map(_.durationMs).sum)))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)

  /** Register the listeners (a no-op when disabled). */
  def start(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Unregister the listeners; traced and untraced iterations then
    * alternate within one run to measure tracing overhead. */
  def stop(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanProp)
      stack = (id, name, System.nanoTime(), System.currentTimeMillis()) :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      try body
      finally {
        val (_, _, s0, m0) = stack.head
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prevProp)
        spans += Span(id, name, parent, runId, s0, System.nanoTime(), m0,
          System.currentTimeMillis())
      }
    }

  /** Wait until every event posted so far reached the listeners. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchShims.drainListeners(spark.sparkContext)

  /** All closed spans with their counters, planning time attributed. */
  def snapshot(): Seq[(Span, SpanCounters)] = {
    drain()
    val byId = spans.map(s => s.id -> s).toMap
    val events = planEvents.synchronized(planEvents.toList)
    events.foreach { case (startMs, planMs) =>
      // innermost span whose interval holds the planning start
      val hit = spans.filter(s => s.startMs <= startMs && startMs <= s.endMs)
      if (hit.nonEmpty) countersOf(hit.maxBy(s => depth(s, byId)).id).planMs += planMs
    }
    planEvents.synchronized(planEvents.clear())
    spans.toSeq.map(s => s -> countersOf(s.id))
  }

  private def depth(s: Span, byId: Map[Long, Span]): Int =
    if (s.parent == 0L) 0 else 1 + byId.get(s.parent).map(depth(_, byId)).getOrElse(0)
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Self time of a span: its duration minus the part of its interval
    * covered by its children. Children may overlap each other or
    * stick out of the parent; both are clipped before subtracting. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (a, b) => (a max start, b min end) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = curB max b
    }
    if (curB > curA) covered += curB - curA
    (end - start) - covered
  }
}
