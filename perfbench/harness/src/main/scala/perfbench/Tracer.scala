package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Collects one traced pass's Spark job/stage spans, task counters and
  * micro-batch triggers from the public listener APIs. Attached at the
  * start of a traced pass and detached (after the bus drains) at its
  * end, so untraced passes carry no listener cost. All times are epoch
  * milliseconds, the clock the listener events use. */
final class Tracer extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  val stages = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  val triggers = mutable.ArrayBuffer.empty[Map[String, Any]]
  val counters = mutable.LinkedHashMap[String, Double](
    "tasks" -> 0, "failed_tasks" -> 0, "task_run_ms" -> 0, "task_cpu_ns" -> 0,
    "task_wait_ms" -> 0, "shuffle_write_bytes" -> 0, "shuffle_read_bytes" -> 0,
    "spill_bytes" -> 0, "input_bytes" -> 0, "write_bytes" -> 0, "write_rows" -> 0)

  private val jobById = mutable.Map.empty[Int, mutable.Map[String, Any]]
  private val stageByKey = mutable.Map.empty[(Int, Int), mutable.Map[String, Any]]
  private val stageJob = mutable.Map.empty[Int, Int]

  private def add(k: String, v: Long): Unit = counters(k) = counters(k) + v.toDouble

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = mutable.Map[String, Any]("job" -> e.jobId, "start" -> e.time,
      "end" -> e.time, "group" -> Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_("end") = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val t = i.submissionTime.getOrElse(System.currentTimeMillis())
    val s = mutable.Map[String, Any]("stage" -> i.stageId, "job" -> stageJob.getOrElse(i.stageId, -1),
      "start" -> t, "end" -> t, "tasks" -> i.numTasks)
    stages += s
    stageByKey((i.stageId, i.attemptNumber())) = s
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageByKey.get((i.stageId, i.attemptNumber())).foreach { s =>
      s("end") = i.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    if (e.reason != Success) add("failed_tasks", 1)
    stageByKey.get((e.stageId, e.stageAttemptId)).foreach { s =>
      add("task_wait_ms", math.max(0L, e.taskInfo.launchTime - s("start").asInstanceOf[Long]))
    }
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("write_bytes", m.outputMetrics.bytesWritten)
      add("write_rows", m.outputMetrics.recordsWritten)
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      triggers += Map(
        "run" -> p.runId.toString, "name" -> Option(p.name).getOrElse(""),
        "batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "trigger_ms" -> d("triggerExecution"), "add_batch_ms" -> d("addBatch"),
        "commit_ms" -> (d("commitOffsets") + d("walCommit")),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }
}
