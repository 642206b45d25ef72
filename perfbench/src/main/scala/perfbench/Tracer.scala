package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Span recorder for the traced run. It keeps every job and stage of the
  * ops in memory and hands them out once at the end as JSON values.
  *
  * A job or stage belongs to the op whose job group was set when it was
  * submitted (`spark.jobGroup.id`) and to the phase the op was in
  * (`Phases.Key`); so spans nest op -> phase -> job -> stage. Jobs and
  * stages outside any op (set-up, output checks) carry no group and are
  * ignored by the report.
  *
  * Events arrive on the listener-bus thread only; read the results after
  * `BenchAccess.drainListeners`.
  */
final class Tracer extends SparkListener {

  private final class StageAgg {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleWriteNs = 0L
    var shuffleReadBytes = 0L
    var fetchWaitMs = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    val taskRunMs = mutable.ArrayBuffer.empty[Long]
  }

  private val jobStarts = mutable.Map.empty[Int, (String, String, Long)]
  private val stageProps = mutable.Map.empty[Int, (String, String)]
  private val aggs = mutable.Map.empty[(Int, Int), StageAgg]
  val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  val stages = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def tags(p: java.util.Properties): (String, String) =
    if (p == null) (null, null)
    else (p.getProperty("spark.jobGroup.id"), p.getProperty(Phases.Key))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val (group, phase) = tags(e.properties)
    jobStarts(e.jobId) = (group, phase, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStarts.remove(e.jobId).foreach { case (group, phase, start) =>
      jobs += Map("id" -> e.jobId, "group" -> group, "phase" -> phase,
        "start_ms" -> start, "end_ms" -> e.time)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageProps(e.stageInfo.stageId) = tags(e.properties)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = aggs.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      a.taskRunMs += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val (group, phase) = stageProps.getOrElse(si.stageId, (null, null))
    val a = aggs.remove((si.stageId, si.attemptNumber())).getOrElse(new StageAgg)
    val sorted = a.taskRunMs.sorted
    stages += Map(
      "id" -> si.stageId, "attempt" -> si.attemptNumber(),
      "group" -> group, "phase" -> phase,
      "start_ms" -> si.submissionTime.getOrElse(0L),
      "end_ms" -> si.completionTime.getOrElse(0L),
      "tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
      "gc_ms" -> a.gcMs,
      "shuffle_write_bytes" -> a.shuffleWriteBytes,
      "shuffle_write_ns" -> a.shuffleWriteNs,
      "shuffle_read_bytes" -> a.shuffleReadBytes,
      "fetch_wait_ms" -> a.fetchWaitMs, "spill_bytes" -> a.spillBytes,
      "input_bytes" -> a.inputBytes, "input_records" -> a.inputRecords,
      "task_max_ms" -> sorted.lastOption.getOrElse(0L),
      "task_median_ms" -> (if (sorted.isEmpty) 0L else sorted(sorted.size / 2)))
  }
}
