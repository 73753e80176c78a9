package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a call the benchmark made into a layer. `parent` is the id of
  * the enclosing span (0 = none); `lap`/`op` locate it in the run (-1 = set-up
  * or a probe outside the laps). Times are System.nanoTime.
  */
final case class Span(id: Int, name: String, parent: Int, lap: Int, op: Int,
    t0: Long, t1: Long)

/** One finished task, attributed to the innermost span that was open on the
  * driver thread when its job was submitted.
  */
final case class TaskRec(span: Int, stage: Int, attempt: Int, ms: Long,
    cpuNs: Long, gcMs: Long, inBytes: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long, outBytes: Long)

/** Spans and task counters for a traced run. While inactive every method is
  * a pass-through: no listener, no local property, nothing recorded.
  *
  * Attribution: each span sets the SparkContext local property
  * [[Tracer.SpanProp]] on the driver thread for its duration. Spark copies
  * local properties into every job submitted from that thread, so the
  * listener maps a job's stages to the span from `onJobStart` and keys each
  * task by its stage. Everything stays in memory until the run ends.
  */
final class Tracer(sc: SparkContext) {
  private val spans = ArrayBuffer.empty[Span]
  private val tasks = java.util.Collections.synchronizedList(
    new java.util.ArrayList[TaskRec]())
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private var nextId = 1
  private var current = 0
  private var active = false

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val s = Option(js.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      s.foreach(id => js.stageIds.foreach(st => stageSpan.put(st, id.toInt)))
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      if (te.taskInfo != null && te.taskMetrics != null) {
        val m = te.taskMetrics
        tasks.add(TaskRec(stageSpan.getOrDefault(te.stageId, 0), te.stageId,
          te.stageAttemptId, te.taskInfo.duration, m.executorCpuTime,
          m.jvmGCTime, m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten))
      }
  }

  /** Start or stop recording; the listener is attached only while active. */
  def setActive(on: Boolean): Unit = if (on != active) {
    if (on) sc.addSparkListener(listener) else { settle(); sc.removeSparkListener(listener) }
    active = on
  }

  // listener events arrive asynchronously: wait until the task count is stable
  private def settle(): Unit = {
    var prev = -1
    var waited = 0
    while (tasks.size != prev && waited < 3000) {
      prev = tasks.size; Thread.sleep(100); waited += 100
    }
  }

  /** Run `body` inside a span named `name`. */
  def span[T](name: String, lap: Int = -1, op: Int = -1)(body: => T): T =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = current
      current = id
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, lap, op, t0, System.nanoTime())
        current = parent
        sc.setLocalProperty(Tracer.SpanProp,
          if (parent == 0) null else parent.toString)
      }
    }

  /** Stop listening and return everything recorded. */
  def finish(): (Seq[Span], Seq[TaskRec]) = {
    setActive(false)
    val ts = tasks.synchronized { tasks.toArray(Array.empty[TaskRec]).toSeq }
    (spans.toSeq, ts)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}
