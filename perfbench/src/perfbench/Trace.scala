package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call made by the benchmark. Times are epoch milliseconds so
  * they join with Spark's event times; `nanos` is the exact duration. */
final case class Span(name: String, op: Int, startMs: Long, endMs: Long, nanos: Long) {
  def seconds: Double = nanos / 1e9
}

/** A root SQL execution or a job outside any SQL execution, with the call
  * site Spark recorded for it (`count at SilverJob.scala:41`). */
final case class Action(site: String, startMs: Long, endMs: Long)

final case class StageStat(
    endMs: Long, tasks: Int, runMs: Long, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long)

/** Collects Spark's job, stage and SQL-execution events while `on`. It is
  * attached only in the traced run; the timed run has no listener.
  * `busyNanos` is the time its handlers took, the tracing overhead. */
final class Recorder extends SparkListener {
  @volatile var on = false
  @volatile var busyNanos = 0L
  private def timed(body: => Unit): Unit = if (on) {
    val t0 = System.nanoTime()
    synchronized { body; busyNanos += System.nanoTime() - t0 }
  }
  val actions = mutable.ArrayBuffer.empty[Action]
  val stages = mutable.ArrayBuffer.empty[StageStat]
  val jobStarts = mutable.ArrayBuffer.empty[Long]
  private val sqlOpen = mutable.Map.empty[Long, (String, Long)]
  private val jobOpen = mutable.Map.empty[Int, (String, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobStarts += e.time
    val props = Option(e.properties)
    if (!props.exists(_.getProperty("spark.sql.execution.id") != null))
      jobOpen(e.jobId) = (props.map(_.getProperty("callSite.short")).orNull, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobOpen.remove(e.jobId).foreach { case (site, t0) => actions += Action(site, t0, e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += StageStat(
      i.completionTime.getOrElse(System.currentTimeMillis()), i.numTasks,
      m.executorRunTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
    e match {
      case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
        sqlOpen(s.executionId) = (s.description, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        sqlOpen.remove(s.executionId).foreach { case (site, t0) =>
          actions += Action(site, t0, s.time)
        }
      case _ =>
    }
  }
}

/** Records spans around the benchmark's calls into the engine. Disabled,
  * it only runs the body. Spans stay in memory until the run ends. */
final class Tracer(val recorder: Option[Recorder]) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var enabled = false
  private var op = -1

  def tracing: Boolean = enabled

  def setEnabled(on: Boolean, opId: Int): Unit = {
    enabled = on && recorder.isDefined
    recorder.foreach(_.on = enabled)
    op = opId
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally spans += Span(name, op, ms, System.currentTimeMillis(), System.nanoTime() - t0)
    }
}
