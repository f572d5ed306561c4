package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans: name, start, end, parent and run id. Spans are only
  * recorded while [[Trace.on]] is set; they are written out once, when
  * the run ends. */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      endNs: Long)

  @volatile var on = false
  var runId = ""
  private val ids = new AtomicInteger
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def current: Int = stack.get.headOption.getOrElse(0)

  /** Time `body` as span `name`, a child of the innermost open span on
    * this thread (or of `parent` when given). */
  def span[A](name: String, parent: Int = -1)(body: => A): A =
    if (!on) body else {
      val id = ids.incrementAndGet()
      val p = if (parent >= 0) parent else current
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body finally {
        spans.add(Span(id, p, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  /** Record a span measured elsewhere (a callback that reports only its
    * duration, ending now). */
  def record(name: String, parent: Int, nanos: Long): Unit = if (on) {
    val end = System.nanoTime()
    spans.add(Span(ids.incrementAndGet(), parent, name, end - nanos, end))
  }

  def json: Seq[String] = spans.asScala.toSeq.sortBy(_.id).map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run":"$runId"}""")
}

/** Engine counters from Spark's public listener APIs, accumulated only
  * while [[Trace.on]] is set. */
object EngineStats {
  val jobs, tasks, schedDelayMs, cpuNs, gcMs, shufWrite, shufRead,
    fetchWaitMs, spill = new AtomicLong
  val peakExecMem = new AtomicLong
  val analysisMs, optimizationMs, planningMs = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** (start, end) wall-clock ms of every finished job */
  val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()

  def reset(): Unit = {
    Seq(jobs, tasks, schedDelayMs, cpuNs, gcMs, shufWrite, shufRead,
      fetchWaitMs, spill, peakExecMem, analysisMs, optimizationMs,
      planningMs).foreach(_.set(0L))
    jobSpans.clear()
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (Trace.on) {
      jobs.incrementAndGet()
      jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = jobStart.remove(e.jobId)
      if (Trace.on && t0 != 0L) jobSpans.add((t0, e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (Trace.on && m != null) {
        tasks.incrementAndGet()
        val i = e.taskInfo
        schedDelayMs.addAndGet(math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          i.gettingResultTime))
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
  }

  /** Wall ms inside [t0, t1] that no job was running. */
  def idleMs(t0: Long, t1: Long): Long = {
    val iv = jobSpans.asScala.toSeq
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = t0
    iv.foreach { case (a, b) =>
      val s = math.max(a, end)
      if (b > s) { covered += b - s; end = b }
    }
    (t1 - t0) - covered
  }
}

/** Planning phase times of every finished query, per session; registered
  * through `spark.sql.queryExecutionListeners` so sessions the program
  * derives with `newSession()` report too. */
class PhaseListener extends QueryExecutionListener {
  private def add(qe: QueryExecution): Unit = if (Trace.on) {
    val p = qe.tracker.phases
    p.get("analysis").foreach(s => EngineStats.analysisMs.addAndGet(s.durationMs))
    p.get("optimization").foreach(s =>
      EngineStats.optimizationMs.addAndGet(s.durationMs))
    p.get("planning").foreach(s => EngineStats.planningMs.addAndGet(s.durationMs))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    add(qe)
}
