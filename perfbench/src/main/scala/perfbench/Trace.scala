package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.json4s.JObject
import org.json4s.JsonDSL._

/** Raw Spark events of the traced operations, kept in memory and
  * written out once the run ends. Only jobs that carry the [[Tag]]
  * prefix are recorded, and only stages those jobs list (through the
  * `stageIds` of their `SparkListenerJobStart`); everything else on the
  * bus is dropped. The arithmetic (stage attribution, interval unions,
  * phase walls) happens when the run is summarised, not here.
  *
  * A stage whose RDDs include a `FileScanRDD` is a source scan; its
  * input metrics are file reads, where other stages' input metrics
  * count reads of cached blocks.
  *
  * Storage is tracked for every block update: the running total of
  * RDD block bytes (cached frames and `localCheckpoint` blocks) and its
  * peak.
  */
final class Trace extends SparkListener {
  import Trace._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJobs = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var storedBytes = 0L
  private var peakBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tags = props.flatMap(p => Option(p.getProperty(JobTagsKey)))
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    if (tags.exists(_.startsWith(Tag))) {
      val desc = props.flatMap(p => Option(p.getProperty(JobDescriptionKey)))
      jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, e.stageIds, tags, desc)
      e.stageIds.foreach(s => stageJobs(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val si = e.stageInfo
      if (stageJobs.contains(si.stageId))
        stages((si.stageId, si.attemptNumber())) = new StageRec(si.stageId,
          si.attemptNumber(), si.submissionTime.getOrElse(-1L), -1L,
          si.numTasks, si.rddInfos.exists(_.name == "FileScanRDD"))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      stages.get((si.stageId, si.attemptNumber())).foreach { s =>
        s.completed = si.completionTime.getOrElse(-1L)
        s.failed = si.failureReason.isDefined
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.taskRunMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.resultBytes += m.resultSize
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        val now = info.memSize + info.diskSize
        storedBytes += now - blocks.getOrElse(key, 0L)
        if (now > 0) blocks(key) = now else blocks.remove(key)
        peakBytes = math.max(peakBytes, storedBytes)
      }
    }

  /** True once every recorded job has ended (the bus has caught up). */
  def drained: Boolean = synchronized(jobs.values.forall(_.end >= 0))

  def toJson: JObject = synchronized {
    ("jobs" -> jobs.values.toList.map { j =>
      ("id" -> j.id) ~ ("start_ms" -> j.start) ~ ("end_ms" -> j.end) ~
        ("stage_ids" -> j.stageIds) ~ ("tags" -> j.tags) ~
        ("description" -> j.description)
    }) ~
    ("stages" -> stages.values.toList.map { s =>
      ("id" -> s.id) ~ ("attempt" -> s.attempt) ~
        ("submitted_ms" -> s.submitted) ~ ("completed_ms" -> s.completed) ~
        ("failed" -> s.failed) ~ ("num_tasks" -> s.numTasks) ~
        ("file_scan" -> s.fileScan) ~
        ("tasks" -> s.tasks) ~ ("run_ms" -> s.runMs) ~ ("cpu_ns" -> s.cpuNs) ~
        ("gc_ms" -> s.gcMs) ~ ("result_bytes" -> s.resultBytes) ~
        ("input_bytes" -> s.inputBytes) ~ ("input_records" -> s.inputRecords) ~
        ("shuffle_read_bytes" -> s.shuffleReadBytes) ~
        ("shuffle_write_bytes" -> s.shuffleWriteBytes) ~
        ("spill_bytes" -> s.spillBytes) ~
        ("task_run_ms" -> s.taskRunMs.toList)
    }) ~
    ("peak_storage_bytes" -> peakBytes)
  }
}

object Trace {
  /** Prefix of every job tag the benchmark sets. */
  val Tag = "perfbench"
  private val JobTagsKey = "spark.job.tags"
  private val JobDescriptionKey = "spark.job.description"

  final case class JobRec(id: Int, start: Long, end: Long, stageIds: Seq[Int],
      tags: Seq[String], description: Option[String])

  final class StageRec(val id: Int, val attempt: Int, val submitted: Long,
      var completed: Long, val numTasks: Int, val fileScan: Boolean) {
    var failed = false
    var tasks = 0
    var runMs, cpuNs, gcMs, resultBytes, inputBytes, inputRecords = 0L
    var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
    val taskRunMs = mutable.ArrayBuffer.empty[Long]
  }
}
