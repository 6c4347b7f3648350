package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span recorder. Spans nest on the single client thread;
  * each has a name, start, end and parent, and the spans of one
  * request share the request's id. Disabled, `span` only runs its
  * body. Times are wall-clock milliseconds (fractional), on the same
  * clock Spark stamps its listener events with. */
final class Tracer(var enabled: Boolean) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextRequest = 0

  /** Counters recorded at span boundaries, by request id. */
  val counters = mutable.HashMap.empty[(Int, String), Double]

  def request[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      require(stack.isEmpty, "requests do not nest")
      nextRequest += 1
      span(name)(body)
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), nextRequest, nowMs)
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
      }
    }

  /** Add to a counter of the current request. */
  def count(name: String, v: Double): Unit =
    if (enabled) counters((nextRequest, name)) = counters.getOrElse((nextRequest, name), 0.0) + v
}

final case class Span(id: Int, name: String, parent: Int, request: Int, startMs: Double) {
  var endMs: Double = Double.NaN
  def durMs: Double = endMs - startMs
  def contains(t: Double): Boolean = t >= startMs && t <= endMs
}

/** Spark engine counters, captured as timestamped events and
  * assigned afterwards to the innermost span open at the event's
  * time. With a single client thread that assignment is exact; it
  * does not rely on stage call sites, which AQE blurs by submitting
  * stages from its own thread pool. */
final class EngineListener extends SparkListener {
  import EngineListener._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stageTimes = mutable.ArrayBuffer.empty[Long]
  val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageTimes += _)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.taskInfo.finishTime, m.executorRunTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }
}

object EngineListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long = -1L)
  final case class Task(finishMs: Long, runMs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
}

/** Per-span engine counters after attribution. */
final case class SpanStats(var jobs: Int = 0, var stages: Int = 0, var tasks: Int = 0,
    var taskMs: Double = 0, var gcMs: Double = 0, var shuffleRead: Double = 0,
    var shuffleWrite: Double = 0, var spill: Double = 0)

object Attribution {
  /** Innermost span containing time `t`, if any. */
  def innermost(spans: Seq[Span], t: Double): Option[Span] = {
    var best: Option[Span] = None
    spans.foreach(s => if (s.contains(t) && best.forall(_.startMs <= s.startMs)) best = Some(s))
    best
  }

  def attribute(spans: Seq[Span], l: EngineListener): Map[Int, SpanStats] = l.synchronized {
    val out = mutable.HashMap.empty[Int, SpanStats]
    def at(t: Double)(f: SpanStats => Unit): Unit =
      innermost(spans, t).foreach(s => f(out.getOrElseUpdate(s.id, SpanStats())))
    l.jobs.valuesIterator.foreach(j => at(j.startMs.toDouble)(_.jobs += 1))
    l.stageTimes.foreach(t => at(t.toDouble)(_.stages += 1))
    l.tasks.foreach { k =>
      at(k.finishMs.toDouble) { s =>
        s.tasks += 1; s.taskMs += k.runMs; s.gcMs += k.gcMs
        s.shuffleRead += k.shuffleRead; s.shuffleWrite += k.shuffleWrite; s.spill += k.spill
      }
    }
    out.toMap
  }

  /** Wall time of `[from, to]` not covered by any job: the driver gap. */
  def driverGapMs(from: Double, to: Double, l: EngineListener): Double = l.synchronized {
    val iv = l.jobs.valuesIterator.filter(_.endMs >= 0)
      .map(j => (math.max(from, j.startMs.toDouble), math.min(to, j.endMs.toDouble)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    (to - from) - covered
  }

  /** Self time: the span's duration minus what its children cover. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val childMs = mutable.HashMap.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.durMs)
    spans.map(s => s.id -> (s.durMs - childMs(s.id))).toMap
  }
}
