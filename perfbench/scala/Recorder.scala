package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution

/** Counters of the Spark work done under one span (one call's build or
  * exec phase). Task-level fields are filled only while tracing is on. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var peakTask = 0L
  /** Largest per-stage sum of task peak execution memory. */
  var peakStage = 0L
}

/** Listener that ties Spark jobs, stages and tasks to the bench's spans
  * through the `perfbench.span` local property, which the loop sets
  * before each call's build and exec phase.
  *
  * Untraced runs only read stage completions (one event per stage, for
  * the peak-memory metric); task events are folded in only while
  * `traced` is set, so a traced iteration pays the per-task cost and an
  * untraced one does not.
  */
final class Recorder extends SparkListener {
  @volatile var traced = false

  val Prop = "perfbench.span"
  private val jobSpan = new ConcurrentHashMap[Int, String]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, Counters]()
  /** (span, start ms, end ms) of every finished job. */
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  def of(span: String): Counters = counters.computeIfAbsent(span, _ => new Counters)
  def spans: Map[String, Counters] = counters.asScala.toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).getOrElse("-")
    jobSpan.put(e.jobId, span)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageSpan.put(_, span))
    of(span).synchronized { of(span).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val span = jobSpan.getOrDefault(e.jobId, "-")
    val t0 = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
    jobIntervals.add((span, t0, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val span = stageSpan.getOrDefault(e.stageInfo.stageId, "-")
    val c = of(span)
    val peak = Option(e.stageInfo.taskMetrics).map(_.peakExecutionMemory).getOrElse(0L)
    c.synchronized {
      c.stages += 1
      c.peakStage = math.max(c.peakStage, peak)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) {
    val c = of(stageSpan.getOrDefault(e.stageId, "-"))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.diskBytesSpilled
        c.peakTask = math.max(c.peakTask, m.peakExecutionMemory)
      }
    }
  }
}

object Recorder {
  val PhaseNames = Seq("analysis", "optimization", "planning")

  /** Seconds spent in Catalyst's analysis, optimization and planning
    * phases of one query execution. */
  def phaseSeconds(qe: QueryExecution): Array[Double] = {
    val ph = qe.tracker.phases
    PhaseNames.map(n => ph.get(n).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)).toArray
  }
}

/** One timed interval of the loop: a call's build or exec phase, the call
  * itself, or a whole iteration. Kept in memory, written at the end. */
final case class Span(id: String, name: String, parent: String, iteration: Int,
    startNs: Long, var endNs: Long = 0L)

final class SpanLog(t0: Long) {
  val spans = mutable.ArrayBuffer.empty[Span]
  def open(id: String, name: String, parent: String, iteration: Int): Span = {
    val s = Span(id, name, parent, iteration, System.nanoTime())
    spans += s
    s
  }
  def close(s: Span): Double = {
    s.endNs = System.nanoTime()
    (s.endNs - s.startNs) / 1e9
  }
  def json: String = spans.map { s =>
    f"""{"id":"${s.id}","name":"${s.name}","parent":"${s.parent}","iteration":${s.iteration},""" +
      f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f}"""
  }.mkString("[\n", ",\n", "\n]")
}
