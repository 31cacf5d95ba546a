package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's Spark-side recorders: job, stage and task intervals
  * with their task metrics (SparkListener), Catalyst phase times and
  * scanned-file counts (QueryExecutionListener), and micro-batch phase
  * durations (StreamingQueryListener). Registered only in the traced run;
  * events are kept raw and turned into metrics after the run. */
final class Listeners(spark: SparkSession) {
  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Long, Seq[Int])]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val tasks = ArrayBuffer.empty[Seq[Long]]
  private val queries = ArrayBuffer.empty[Map[String, Any]]
  private val batches = ArrayBuffer.empty[Map[String, Any]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStarts(e.jobId) = (e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val (start, stageIds) = jobStarts.remove(e.jobId).getOrElse((e.time, Nil))
      jobs += Map("id" -> e.jobId, "start_ms" -> start, "end_ms" -> e.time,
        "stages" -> stageIds, "ok" -> (e.jobResult == JobSucceeded))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stages += Map("id" -> i.stageId, "attempt" -> i.attemptNumber(),
        "start_ms" -> i.submissionTime.getOrElse(-1L),
        "end_ms" -> i.completionTime.getOrElse(-1L),
        "tasks" -> i.numTasks, "ok" -> i.failureReason.isEmpty)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val t = e.taskInfo
      val m = Option(e.taskMetrics)
      def metric(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
      tasks += Seq(e.stageId.toLong, t.launchTime, t.finishTime,
        if (t.successful) 0L else 1L,
        metric(_.executorRunTime), metric(_.executorCpuTime), metric(_.jvmGCTime),
        metric(_.inputMetrics.bytesRead), metric(_.shuffleWriteMetrics.bytesWritten),
        metric(_.shuffleReadMetrics.totalBytesRead),
        metric(x => x.memoryBytesSpilled + x.diskBytesSpilled),
        metric(_.outputMetrics.bytesWritten))
    }
  }

  private def scannedFiles(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scannedFiles(a.executedPlan)
    case s: QueryStageExec => scannedFiles(s.plan)
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => other.children.map(scannedFiles).sum +
      other.subqueries.map(scannedFiles).sum
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      def ms(name: String) = phases.get(name).map(_.durationMs).getOrElse(0L)
      val start = phases.values.map(_.startTimeMs).minOption.getOrElse(-1L)
      val files = try scannedFiles(qe.executedPlan) catch { case _: Exception => 0L }
      Listeners.this.synchronized {
        queries += Map("start_ms" -> start, "analysis_ms" -> ms("analysis"),
          "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"),
          "files" -> files, "ok" -> ok)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Listeners.this.synchronized {
        batches += Map("batch" -> e.progress.batchId, "rows" -> e.progress.numInputRows,
          "duration_ms" -> d)
      }
    }
  }

  private def classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Start recording. The listener bus is asynchronous, so it is drained
    * first: no event from before this point reaches the recorders. */
  def attach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(sparkListener)
    classic.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Stop recording once every event up to this point is delivered. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    classic.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def json: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toList, "stages" -> stages.toList, "tasks" -> tasks.toList,
      "task_fields" -> Seq("stage", "launch_ms", "finish_ms", "failed", "run_ms",
        "cpu_ns", "gc_ms", "input_bytes", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes", "output_bytes"),
      "queries" -> queries.toList, "batches" -> batches.toList)
  }
}

/** Bytes written through the local file system (Hadoop FileSystem
  * statistics), and the calls [[CountingFileSystem]] counted. */
object FsStats {
  def snapshot(): Map[String, Long] = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Map("bytes_written" -> all.map(_.getBytesWritten).sum,
      "calls" -> CountingFileSystem.ops.get)
  }

  def delta(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }

  def add(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
}
