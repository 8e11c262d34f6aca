package lakebench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One Spark job as seen from the listener bus. */
final case class JobRec(jobId: Int, startMs: Long, endMs: Long, tasks: Int,
    schedulerDelayMs: Long, inputBytes: Long, shuffleWriteBytes: Long,
    outputBytes: Long, outputRecords: Long)

/** Benchmark-owned listener: records jobs and their task totals while
  * `recording` is set. Registered once per session; untraced ops leave
  * `recording` off so the listener only drops events.
  */
final class JobListener extends SparkListener {
  @volatile var recording = false

  private final class Acc(val startMs: Long) {
    var tasks = 0
    var delay = 0L
    var input = 0L
    var shuffle = 0L
    var outBytes = 0L
    var outRecords = 0L
  }
  private val open = mutable.Map[Int, Acc]()
  private val stageToJob = mutable.Map[Int, Int]()
  private val done = mutable.ArrayBuffer[JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (recording) {
      open(e.jobId) = new Acc(e.time)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageToJob.get(e.stageId); acc <- open.get(job)) {
      acc.tasks += 1
      val info = e.taskInfo
      val m = e.taskMetrics
      if (m != null) {
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + info.gettingResultTime
        acc.delay += math.max(0L, info.duration - busy)
        acc.input += m.inputMetrics.bytesRead
        acc.shuffle += m.shuffleWriteMetrics.bytesWritten
        acc.outBytes += m.outputMetrics.bytesWritten
        acc.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { a =>
      done += JobRec(e.jobId, a.startMs, e.time, a.tasks, a.delay, a.input, a.shuffle,
        a.outBytes, a.outRecords)
    }
  }

  /** Completed jobs recorded since the last call. */
  def take(): Seq[JobRec] = synchronized {
    val r = done.toList
    done.clear()
    stageToJob.filterInPlace((_, j) => open.contains(j))
    r
  }
}
