package kgbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed region: a layer call or a whole op. Spans nest through
  * `parent` (0 = top level); every span of one process shares `runId`. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startMs: Long, startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** Spark work attributed to one span by the span listener. */
final class SpanCounters {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var busyMs = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  /** (launch, finish) epoch millis of every finished task. */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Folds job, stage and task metrics into the span that submitted the job.
  * A job belongs to the span whose id was in the submitting thread's
  * `SpanProp` local property; its stages and tasks inherit that span. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  val bySpan = mutable.HashMap.empty[Int, SpanCounters]

  private def counters(span: Int) = bySpan.getOrElseUpdate(span, new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Tracer.SpanProp)))
    p.foreach { s =>
      val span = s.toInt
      counters(span).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val c = counters(span)
      c.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) c.failedTasks += 1
      c.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        c.busyMs += m.executorRunTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Span recorder. With `enabled = false` every `span` call just runs its
  * body: the untimed bookkeeping and the listener exist only in traced runs.
  * Spans stay in memory until [[write]]. */
final class Tracer(sc: SparkContext, val runId: String, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new SpanListener
  private var current = 0
  private var listening = false

  /** Attaches or detaches the span listener; spans record either way. The
    * bus is drained first, so that no event of a job submitted before the
    * switch reaches the listener after it, or is lost. */
  def listen(on: Boolean): Unit = if (enabled && on != listening) {
    org.apache.spark.KgbenchBus.drain(sc)
    if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    listening = on
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, name, current, runId,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      val prev = current
      current = s.id
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        current = prev
        sc.setLocalProperty(Tracer.SpanProp, if (prev == 0) null else prev.toString)
      }
    }

  /** Counters of every span, once the listener bus has delivered them. */
  def counters(): Map[Int, SpanCounters] = {
    org.apache.spark.KgbenchBus.drain(sc)
    listener.synchronized(listener.bySpan.toMap)
  }

  /** Writes the spans as JSON lines: name, start, end, parent, run id. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""run_id":"${s.runId}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""seconds":${s.seconds}}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val SpanProp = "kgbench.span"

  /** Seconds of `[from, to]` (epoch ms) during which no task ran. */
  def idleSeconds(from: Long, to: Long, intervals: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    math.max(0L, to - from - covered) / 1e3
  }
}
