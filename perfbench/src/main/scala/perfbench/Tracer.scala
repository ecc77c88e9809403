package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what the engine's layers report through Spark's public
  * listener interfaces: jobs with their task metrics, the planning
  * phases of every query execution, and every micro-batch of every
  * stream. Events are kept in memory, stamped with epoch milliseconds,
  * and attributed to benchmark query executions afterwards by time
  * window (the client is serial, so windows never overlap). Job groups
  * are not used: they do not reach stream threads.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  final class Job(val id: Int, val submitMs: Long) {
    var endMs = 0L
    var ok = true
    var stages = 0
    var firstLaunchMs = Long.MaxValue
    var tasks = 0L
    var failedTasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var outputBytes = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val phases = mutable.ArrayBuffer.empty[Phase]
  private val triggers = mutable.ArrayBuffer.empty[Trigger]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = new Job(e.jobId, e.time)
      jobs.put(e.jobId, j)
      e.stageInfos.foreach(s => stageJob.put(s.stageId, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j => j.synchronized {
        val info = e.taskInfo
        j.tasks += 1
        if (info.failed || info.killed) j.failedTasks += 1
        j.firstLaunchMs = math.min(j.firstLaunchMs, info.launchTime)
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      } }
  }

  private val executionListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.toSeq.map { case (n, p) => Phase(n, p.startTimeMs, p.endTimeMs, func) }
      phases.synchronized(phases ++= ps)
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, exception: Exception): Unit = record(func, qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val t = Trigger(Option(p.name).getOrElse(p.id.toString), Instant.parse(p.timestamp).toEpochMilli,
        d, p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.commitTimeMs).sum)
      triggers.synchronized(triggers += t)
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(executionListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(executionListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every queued listener event has been delivered. */
  def drain(): Unit = org.apache.spark.graftbus.ListenerBusDrain.drain(spark.sparkContext)

  def toJson: Json.Raw = {
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map { j => j.synchronized {
      Json.obj("id" -> j.id, "submit_ms" -> j.submitMs, "end_ms" -> j.endMs, "ok" -> j.ok,
        "stages" -> j.stages,
        "first_launch_ms" -> (if (j.firstLaunchMs == Long.MaxValue) j.endMs else j.firstLaunchMs),
        "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks, "run_ms" -> j.runMs,
        "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs, "input_bytes" -> j.inputBytes,
        "shuffle_read_bytes" -> j.shuffleReadBytes, "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "spill_bytes" -> j.spillBytes, "output_bytes" -> j.outputBytes)
    } }
    val ps = phases.synchronized(phases.toSeq).map(p =>
      Json.obj("phase" -> p.name, "start_ms" -> p.startMs, "end_ms" -> p.endMs, "func" -> p.func))
    val ts = triggers.synchronized(triggers.toSeq).map(t =>
      Json.obj("stream" -> t.stream, "start_ms" -> t.startMs, "duration_ms" -> Json.obj(t.durations.toSeq: _*),
        "input_rows" -> t.inputRows, "state_rows" -> t.stateRows, "state_commit_ms" -> t.stateCommitMs))
    Json.obj("jobs" -> Json.arr(js), "phases" -> Json.arr(ps), "triggers" -> Json.arr(ts))
  }
}

object Tracer {
  final case class Phase(name: String, startMs: Long, endMs: Long, func: String)

  final case class Trigger(stream: String, startMs: Long, durations: Map[String, Long],
      inputRows: Long, stateRows: Long, stateCommitMs: Long)
}
