package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed layer call. Times are milliseconds on the tracer's clock. */
final class Span(val id: Int, val name: String, val parent: Int,
    val pass: Int, val startMs: Double) {
  var endMs: Double = Double.NaN
  def ms: Double = endMs - startMs
}

/** Spark work attributed to one span: the jobs submitted while it was the
  * innermost open span, and their tasks.
  */
final class JobRecord(val span: Int, val startMs: Double) {
  var endMs: Double = Double.NaN
  var tasks = 0
  var busyMs = 0.0
  var shuffleBytes = 0L
  val taskMs = ArrayBuffer[Double]()
}

/** Spans recorded in memory around each layer call the benchmark makes.
  *
  * With a SparkContext, entering a span tags the calling thread's jobs
  * with the span id (a local property), and [[SpanListener]] attributes
  * those jobs, their tasks, busy time and shuffle bytes to the span.
  * Disabled, [[span]] only runs its body.
  */
final class Tracer(val enabled: Boolean, sc: Option[SparkContext] = None) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Milliseconds on the same clock as Spark's listener event times. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  /** The pass id stamped on spans opened from now on. */
  var pass = 0

  val listener: Option[SpanListener] =
    if (enabled) sc.map { c => val l = new SpanListener; c.addSparkListener(l); l }
    else None

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
        pass, nowMs)
      spans += s
      stack = s :: stack
      val prev = sc.map(_.getLocalProperty(Tracer.SpanKey))
      sc.foreach(_.setLocalProperty(Tracer.SpanKey, s.id.toString))
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
        sc.foreach(_.setLocalProperty(Tracer.SpanKey, prev.orNull))
      }
    }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** `id` and every span below it. */
  def subtree(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.foldLeft(Set(id))(_ ++ subtree(_))
  }

  /** Span time not covered by its children. */
  def selfMs(s: Span): Double =
    s.ms - Stats.unionLength(children(s.id).map(c => (c.startMs, c.endMs)))

  /** Jobs of `s` and of the spans below it. Call after [[drain]]. */
  def jobs(s: Span): Seq[JobRecord] = {
    val ids = subtree(s.id)
    listener.toSeq.flatMap(_.jobs.filter(j => ids(j.span)))
  }

  /** Span time during which none of its jobs ran: driver-side work. */
  def driverGapMs(s: Span): Double =
    s.ms - Stats.unionLength(jobs(s).map { j =>
      (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs))
    })

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = sc.foreach(org.apache.spark.PerfbenchBus.drain)

  def close(): Unit = for (c <- sc; l <- listener) c.removeSparkListener(l)

  /** The spans as JSON lines, for the trace file written at the end. */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    val js = jobs(s)
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"pass":${s.pass},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"self_ms":${selfMs(s)},""" +
      s""""jobs":${js.size},"driver_gap_ms":${driverGapMs(s)},""" +
      s""""tasks":${js.map(_.tasks).sum},"busy_ms":${js.map(_.busyMs).sum},""" +
      s""""shuffle_bytes":${js.map(_.shuffleBytes).sum}}"""
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Listener that files each job, and its tasks, under the span that was
  * open on the submitting thread.
  */
final class SpanListener extends SparkListener {
  val jobs = ArrayBuffer[JobRecord]()
  private val byJob = scala.collection.mutable.HashMap[Int, JobRecord]()
  private val byStage = scala.collection.mutable.HashMap[Int, JobRecord]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val j = new JobRecord(span, e.time.toDouble)
    jobs += j
    byJob(e.jobId) = j
    e.stageIds.foreach(byStage(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byJob.remove(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.taskMs += e.taskInfo.duration.toDouble
      Option(e.taskMetrics).foreach { m =>
        j.busyMs += m.executorRunTime.toDouble
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
}
