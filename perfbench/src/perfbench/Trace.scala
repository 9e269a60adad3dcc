package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable.ArrayBuffer

/** In-memory spans around the benchmark's calls into the program, plus
  * Spark's own stage and task metrics read through a listener the
  * benchmark registers. Nothing is timed inside the program. Stages are
  * attributed to the innermost span open when they were submitted: the
  * loop is closed (one job at a time on one thread), so time
  * alone places every stage. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long)

/** Task metrics summed over one stage. */
final class Stage(val id: Int, val execId: Long) {
  var submitMs = 0L
  var completeMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var gcMs = 0L
  val taskMs = ArrayBuffer.empty[Long]
}

final class Trace {

  val spans = ArrayBuffer.empty[Span] // since the last reset
  private val log = ArrayBuffer.empty[Span] // the whole run, for the trace file
  private val open = ArrayBuffer.empty[(String, Long)]
  @volatile var enabled = false

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = open.lastOption.map(_._1).getOrElse("")
    val t0 = System.nanoTime()
    open += ((name, t0))
    try body
    finally {
      open.remove(open.length - 1)
      val s = Span(name, parent, t0, System.nanoTime())
      spans += s
      log += s
    }
  }

  // epoch-ms ↔ nanoTime offset, so stage times (epoch ms) sit on the span clock
  private val nsOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def msToNs(ms: Long): Long = ms * 1000000L - nsOffset

  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
  val execPlans = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val stageExec = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobs = new java.util.concurrent.atomic.AtomicInteger()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      jobs.incrementAndGet()
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(s => stageExec.put(s, exec))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) {
      val s = new Stage(e.stageInfo.stageId, stageExec.getOrDefault(e.stageInfo.stageId, -1L))
      s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stages.put(s.id, s)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stages.get(e.stageInfo.stageId)
      if (s != null) s.synchronized {
        s.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stages.get(e.stageId)
      if (s != null && e.taskMetrics != null) s.synchronized {
        val m = e.taskMetrics
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.gcMs += m.jvmGCTime
        s.taskMs += e.taskInfo.duration
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if enabled =>
        execPlans.put(x.executionId, x.physicalPlanDescription)
      case _ =>
    }
  }

  def reset(): Unit = {
    spans.clear(); stages.clear(); stageExec.clear(); execPlans.clear(); jobs.set(0)
  }

  import scala.jdk.CollectionConverters._

  /** Completed stages submitted inside an instance of span `name`. */
  def stagesIn(name: String): Seq[Stage] = {
    val in = spans.filter(_.name == name)
    stages.values.asScala.toSeq.filter { s =>
      val t = msToNs(s.submitMs)
      s.completeMs > 0 && in.exists(sp => t >= sp.startNs - 1000000L && t <= sp.endNs)
    }.sortBy(_.id)
  }

  def spanSeconds(name: String): Double =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  def wallS(ss: Seq[Stage]): Double = ss.map(s => (s.completeMs - s.submitMs) / 1e3).sum

  def toJson: String = log.map { s =>
    s"""{"name":"${s.name}","parent":"${s.parent}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}
