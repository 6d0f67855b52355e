package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

final class JobRec(val id: Int, val start: Long, val group: String, val execId: Long,
                   val stages: Seq[Int]) {
  var end: Long = -1L
}

final class StageRec(val id: Int, val job: Int) {
  var submitted = -1L
  var completed = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var launchWaitMs = 0L
  var inBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var outBytes = 0L
}

/** One planned query, as `QueryExecutionListener` reports it. */
final case class QeRec(start: Long, analysisMs: Long, optimizerMs: Long, physicalMs: Long,
                       graftRulesNs: Long)

/** One streaming micro-batch progress report. */
final case class BatchRec(runId: String, start: Long, durations: Map[String, Long]) {
  def ms(k: String): Long = durations.getOrElse(k, 0L)
  def end: Long = start + ms("triggerExecution")
}

/** Listens to the engine from outside. The `SparkListener` part (jobs,
  * stages, task metrics, AQE re-plans) runs for the whole run; the query and
  * streaming listeners are attached during traced passes only.
  *
  * A job records its job group: the benchmark's phase for batch jobs, the
  * query's run id for a streaming micro-batch's jobs. */
final class Recorder extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val queries = mutable.ArrayBuffer.empty[QeRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  private val aqeByExec = mutable.HashMap.empty[Long, Int]

  def aqeUpdates(execId: Long): Int = synchronized(aqeByExec.getOrElse(execId, 0))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new JobRec(e.jobId, e.time, group, exec, e.stageIds)
    e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = new StageRec(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.submitted = e.stageInfo.submissionTime.getOrElse(-1L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.completed = e.stageInfo.completionTime.getOrElse(-1L)
      if (s.submitted < 0) s.submitted = e.stageInfo.submissionTime.getOrElse(-1L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      if (s.submitted > 0) s.launchWaitMs += math.max(0L, e.taskInfo.launchTime - s.submitted)
      s.inBytes += m.inputMetrics.bytesRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized {
      aqeByExec(u.executionId) = aqeByExec.getOrElse(u.executionId, 0) + 1
    }
    case _ =>
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      val graftNs = qe.tracker.rules.collect {
        case (rule, summary) if rule.startsWith("graft.") => summary.totalTimeNs
      }.sum
      Recorder.this.synchronized {
        queries += QeRec(start, ms("analysis"), ms("optimization"), ms("planning"), graftNs)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      Recorder.this.synchronized { batches += BatchRec(p.runId.toString, start, d) }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
