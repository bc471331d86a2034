package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One recorded span: a named interval on the benchmark's own thread,
  * its parent, and the operation it belongs to. Times are epoch
  * milliseconds with sub-millisecond precision, on the same clock as the
  * engine's listener events. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      t0: Double, t1: Double)

/** Span recorder. When disabled every call runs its body and records
  * nothing, so traced and untraced runs execute the same code.
  *
  * The innermost open span's id travels to the engine as a local
  * property on every job the body starts; [[EngineListener]] uses it to
  * attribute jobs, stages and tasks to spans, so the counts at each span
  * boundary are exact even though listener events arrive later. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  /** Epoch milliseconds, sub-millisecond resolution. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var op = -1

  def inOp[A](opId: Int)(body: => A): A = {
    op = opId
    try body finally op = -1
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = now()
      try body
      finally {
        val t1 = now()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey,
          stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, op, name, t0, t1)
      }
    }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Engine counters attributed to one span (jobs started while it was
  * the innermost open span). */
final class SpanCounts {
  var jobs = 0L
  var internalJobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var stageRetries = 0L
  var taskRunS = 0.0
  var taskCpuS = 0.0
  var taskGcS = 0.0
  var taskWaitS = 0.0
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  val stageSByFile = mutable.Map.empty[String, Double].withDefaultValue(0.0)
}

/** The benchmark's view of the Spark engine. Registered only in traced
  * runs. A job's call site is that of the DataFrame action it serves (the
  * SQL execution's description), or its final stage's name outside SQL;
  * adaptive execution runs query stages from its own threads, whose stage
  * names say nothing. A job is "internal" when that call site lies
  * outside the benchmark's own files, i.e. graft code started it rather
  * than the benchmark's final action. */
final class EngineListener(ownFiles: Set[String]) extends SparkListener {
  val bySpan = mutable.Map.empty[Int, SpanCounts]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Double]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[(Int, Int), Long]
  private val stageSite = mutable.Map.empty[Int, String]
  private val executionSite = mutable.Map.empty[Long, String]

  private def acc(span: Int): SpanCounts = bySpan.getOrElseUpdate(span, new SpanCounts)

  /** "save at Workloads.scala:88" -> "Workloads" */
  private def siteFile(callSite: String): String =
    Option(callSite).flatMap(s => "at ([A-Za-z0-9_$]+)\\.scala".r
      .findFirstMatchIn(s).map(_.group(1))).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    // e.g. "count at Workloads.scala:93"
    val site = siteFile(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionSite.get(id.toLong))
      .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).orNull)
    val a = acc(span)
    a.jobs += 1
    if (!ownFiles(site)) a.internalJobs += 1
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time.toDouble
    e.stageIds.foreach { s => stageSpan(s) = span; stageSite(s) = site }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executionSite(s.executionId) = s.description
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (span <- jobSpan.remove(e.jobId); t0 <- jobStart.remove(e.jobId))
      acc(span).jobIntervals += ((t0, e.time.toDouble))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmitted((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val a = acc(stageSpan.getOrElse(i.stageId, -1))
    a.stages += 1
    if (i.attemptNumber() > 0) a.stageRetries += 1
    for (s <- i.submissionTime; c <- i.completionTime)
      a.stageSByFile(stageSite.getOrElse(i.stageId, siteFile(i.name))) += (c - s) / 1e3
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageSpan.getOrElse(e.stageId, -1))
    val info = e.taskInfo
    a.tasks += 1
    if (info.failed || info.killed) a.failedTasks += 1
    stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach { s =>
      a.taskWaitS += math.max(0L, info.launchTime - s) / 1e3
    }
    val m = e.taskMetrics
    if (m != null) {
      a.taskRunS += m.executorRunTime / 1e3
      a.taskCpuS += m.executorCpuTime / 1e9
      a.taskGcS += m.jvmGCTime / 1e3
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}
