package perfbench

import scala.collection.mutable
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spark runtime work attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var busyMs = 0L
  var schedWaitMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; busyMs += o.busyMs
    schedWaitMs += o.schedWaitMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** Attributes every job to the span id its submitting thread carried
  * in the `perfbench.span` local property (threads started inside a
  * span inherit it); stages and tasks follow their job. Work outside
  * any span lands on id -1. */
final class SpanListener extends SparkListener {
  private val bySpan = mutable.HashMap.empty[Int, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]

  private def at(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  def snapshot(): Map[Int, Counters] = synchronized { bySpan.toMap }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(-1)
    at(span).jobs += 1
    e.stageInfos.foreach(s => if (!stageSpan.contains(s.stageId)) stageSpan(s.stageId) = span)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmitted(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    at(stageSpan.getOrElse(id, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.busyMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stageSubmitted.get(e.stageId).foreach { t =>
      c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - t)
    }
  }
}

final case class Span(id: Int, name: String, parent: Int, pass: Int,
    startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. `span` is a no-op wrapper when tracing is off, so the
  * untraced passes run exactly the workload code. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  var pass = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), pass,
        System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        Main.log(f"${"  " * stack.size}span ${s.name} ${s.seconds}%.3f s")
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Span duration minus the part its child spans cover. */
  def selfSeconds: Map[Int, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }

  /** Listener counters of each span plus all its descendants. */
  def inclusive(own: Map[Int, Counters]): Map[Int, Counters] = {
    val out = mutable.HashMap.empty[Int, Counters]
    spans.foreach(s => out(s.id) = { val c = new Counters; own.get(s.id).foreach(c.add); c })
    // children always have larger ids than their parent: fold bottom-up
    spans.reverseIterator.foreach(s => if (s.parent >= 0) out(s.parent).add(out(s.id)))
    out.toMap
  }
}

object Tracer {
  val Key = "perfbench.span"
}
