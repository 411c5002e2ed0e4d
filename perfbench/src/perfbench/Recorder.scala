package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns Spark's listener events into spans: jobs (with the job group the
  * harness set), stages (with their summed task metrics), the Catalyst
  * phase timings of every SQL execution, and streaming triggers. */
final class Recorder(tracer: Tracer) extends SparkListener {
  private final class TaskSum {
    var tasks, cpuNs, runMs, gcMs, recordsIn, bytesIn, shuffleRead, shuffleWrite,
        spill, bytesOut = 0L
  }
  private val taskSums = mutable.HashMap.empty[(Int, Int), TaskSum]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobSpans = mutable.HashMap.empty[Int, Span]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val s = tracer.add("job", s"job ${e.jobId}", -1, e.time.toDouble, Double.NaN)
      .set("job_id" -> e.jobId, "group" -> group.getOrElse(""))
    jobSpans(e.jobId) = s
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.remove(e.jobId).foreach { s =>
      s.t1 = e.time.toDouble
      s.set("failed" -> (e.jobResult != JobSucceeded))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = taskSums.getOrElseUpdate((e.stageId, e.stageAttemptId), new TaskSum)
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.recordsIn += m.inputMetrics.recordsRead
      t.bytesIn += m.inputMetrics.bytesRead
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.bytesOut += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val t = taskSums.remove((i.stageId, i.attemptNumber())).getOrElse(new TaskSum)
    val end = i.completionTime.getOrElse(System.currentTimeMillis()).toDouble
    tracer.add("stage", s"stage ${i.stageId}", -1,
      i.submissionTime.map(_.toDouble).getOrElse(end), end)
      .set("job_id" -> stageJob.getOrElse(i.stageId, -1), "tasks" -> t.tasks,
        "task_cpu_s" -> t.cpuNs / 1e9, "task_run_s" -> t.runMs / 1e3,
        "gc_s" -> t.gcMs / 1e3, "records_in" -> t.recordsIn, "scan_bytes" -> t.bytesIn,
        "shuffle_read_bytes" -> t.shuffleRead, "shuffle_write_bytes" -> t.shuffleWrite,
        "spill_bytes" -> t.spill, "output_bytes" -> t.bytesOut)
  }

  /** Catalyst phase timings of each SQL execution, from its planning tracker. */
  val sqlListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        def d(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
        tracer.add("qe", funcName, -1, phases.values.map(_.startTimeMs).min.toDouble,
          phases.values.map(_.endTimeMs).max.toDouble)
          .set("analysis_s" -> d("analysis"), "optimization_s" -> d("optimization"),
            "planning_s" -> d("planning"), "ok" -> ok)
      }
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, ok = false)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(sqlListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(sqlListener)
  }
}

/** Streaming triggers as spans, built from progress events: each trigger's
  * wall time and its `durationMs` split (addBatch, walCommit, source
  * offsets, planning), plus a `stream` span per started query. */
final class TriggerRecorder(tracer: Tracer) extends StreamingQueryListener {
  private val started = mutable.HashMap.empty[java.util.UUID, Span]
  private def epochMs(ts: String): Double = java.time.Instant.parse(ts).toEpochMilli.toDouble

  def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = synchronized {
    started(e.runId) = tracer.add("stream", "stream", -1, epochMs(e.timestamp), Double.NaN)
  }

  def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
    val t0 = epochMs(p.timestamp)
    tracer.add("trigger", s"batch ${p.batchId}", -1, t0, t0 + d.getOrElse("triggerExecution", 0.0) * 1e3)
      .set("batch_id" -> p.batchId, "rows" -> p.numInputRows,
        "add_batch_s" -> d.getOrElse("addBatch", 0.0),
        "wal_commit_s" -> (d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)),
        "source_s" -> (d.getOrElse("latestOffset", 0.0) + d.getOrElse("getBatch", 0.0)),
        "query_planning_s" -> d.getOrElse("queryPlanning", 0.0))
  }

  def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = synchronized {
    started.remove(e.runId).foreach(_.t1 = Clock.ms)
  }
}
