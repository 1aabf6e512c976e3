package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchAccess
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One Spark job and the executor work of its tasks. `span` is the
  * benchmark span the job ran under (-1 when it could not be told). */
final class JobRec(val id: Int, val span: Int, val execId: Long) {
  var stages = 0; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var bytesRead = 0L; var bytesWritten = 0L; var recordsWritten = 0L
  var peakMem = 0L
  /** Worst stage's max / median task duration (1 for one-task stages). */
  var skew = 1.0
}

/** A planning phase of a SQL execution, in epoch milliseconds. */
final case class Phase(name: String, startMs: Long, endMs: Long)

/** A SQL execution that ended: its planning phases and the node count
  * of the plan it ran. */
final case class PlanRec(execId: Long, phases: Seq[Phase], nodes: Int)

/** One micro-batch of a streaming query, keyed to the span that started
  * the query. */
final case class BatchRec(span: Int, run: String, inputRows: Long,
                          durationMs: Long, stateRows: Long)

/** Listens to the scheduler, SQL executions and the streaming bus.
  * Job and task counters are always on: they are what Spark's status
  * store keeps anyway, and the untraced metrics read them. Plan and
  * micro-batch records are taken only while `tracing` is set.
  *
  * Every job is attributed to a span when it starts: a micro-batch job
  * carries its stream's run id as job group, mapped to the span that
  * started the stream; any other job carries the `perfbench.span` local
  * property of the thread that submitted it. */
final class Recorder extends SparkListener with AdaptiveSparkPlanHelper {
  @volatile var tracing = false
  /** Span the submitting thread is in; read when a stream starts. */
  @volatile var currentSpan = -1

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val runSpan = mutable.HashMap.empty[String, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String): Option[String] = p.flatMap(x => Option(x.getProperty(k)))
    val span = prop("spark.jobGroup.id").flatMap(runSpan.get)
      .orElse(prop(Recorder.SpanProperty).map(_.toInt)).getOrElse(-1)
    val execId = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val j = new JobRec(e.jobId, span, execId)
    jobs += j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).filter(_ => m != null).foreach { j =>
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      j.spill += m.diskBytesSpilled
      j.bytesRead += m.inputMetrics.bytesRead
      j.bytesWritten += m.outputMetrics.bytesWritten
      j.recordsWritten += m.outputMetrics.recordsWritten
      j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageJob.get(id).foreach { j =>
      j.stages += 1
      stageTaskMs.remove(id).filter(_.size > 1).foreach { ms =>
        val sorted = ms.sorted
        val median = sorted(sorted.size / 2).max(1L)
        j.skew = math.max(j.skew, sorted.last.toDouble / median)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd if tracing =>
      PerfbenchAccess.queryExecution(end).foreach { qe =>
        val phases = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs)
          .map { case (n, p) => Phase(n, p.startTimeMs, p.endTimeMs) }
        val nodes = collectWithSubqueries(qe.executedPlan) { case p => p }.size
        synchronized { plans += PlanRec(end.executionId, phases, nodes) }
      }
    case _ =>
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Recorder.this.synchronized { runSpan(e.runId.toString) = currentSpan }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (tracing) Recorder.this.synchronized {
        val p = e.progress
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        batches += BatchRec(runSpan.getOrElse(p.runId.toString, -1),
          p.runId.toString, p.numInputRows, ms, p.stateOperators.map(_.numRowsTotal).sum)
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Recorder {
  val SpanProperty = "perfbench.span"
}
