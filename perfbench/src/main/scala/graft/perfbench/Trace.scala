package graft.perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** The benchmark's own Spark listener: job intervals and per-stage task
  * metrics, so a serial replay can attribute jobs to the call that ran
  * them by time window. Registered only in traced runs. */
final class Trace extends SparkListener {
  import Trace._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.HashMap[Int, StageStats]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages(i.stageId) = if (m == null) StageStats(i.numTasks, 0, 0, 0, 0, 0, 0)
      else StageStats(i.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Jobs that started inside [t0, t1] (epoch ms), once every one of them
    * has ended and reported its stages (listener delivery is async). */
  def jobsIn(t0: Long, t1: Long): Seq[(Job, Seq[StageStats])] = {
    val deadline = System.currentTimeMillis() + 5000
    def snapshot() = synchronized {
      jobs.values.filter(j => j.start >= t0 && j.start <= t1).toSeq
        .map(j => (j.copy(), j.stages.flatMap(stages.get)))
    }
    var s = snapshot()
    while (s.exists(_._1.end < 0) && System.currentTimeMillis() < deadline) {
      Thread.sleep(10)
      s = snapshot()
    }
    s
  }
}

object Trace {
  final case class Job(start: Long, stages: Seq[Int], var end: Long = -1L)
  final case class StageStats(tasks: Int, runMs: Long, cpuMs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)

  /** Wall time of [t0, t1] not covered by any of the intervals. */
  def uncovered(t0: Long, t1: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = t0
    for ((a, b) <- intervals.map { case (a, b) => (a.max(t0), b.min(t1)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (b > reach) { covered += b - a.max(reach); reach = b }
    }
    (t1 - t0) - covered
  }
}
