package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Spans of one traced pass, recorded from outside the program.
  *
  * The harness opens a call span around each call and child spans for its
  * body, optimize, plan and exec phases. A SparkListener registered by the
  * harness records job, stage and task events; after the pass each job is
  * parented to the call whose window contains its start (one closed-loop
  * client never overlaps calls, and time windows, unlike job groups, are
  * not fooled by pool threads that carry an earlier caller's properties).
  * Everything stays in memory until the run writes it out. */
final class Tracer extends SparkListener {
  import Tracer._

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val tasks = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties).map(_.getProperty("callSite.short", ""))
      .getOrElse("") + e.stageInfos.map(_.details).mkString
    jobs += Job(e.jobId, e.time, -1L, e.stageIds, site.contains("Mat$.materialize"))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    stages += Stage(s.stageId, s.submissionTime.getOrElse(System.currentTimeMillis()),
      -1L, s.numTasks)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stages.reverseIterator.find(_.id == s.stageId)
      .foreach(_.complete = s.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorDeserializeTime, m.jvmGCTime, m.resultSize,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.shuffleReadMetrics.fetchWaitTime)
  }

  def clear(): Unit = synchronized { jobs.clear(); stages.clear(); tasks.clear() }
}

object Tracer {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int],
                       mat: Boolean)
  final case class Stage(id: Int, submit: Long, var complete: Long, tasks: Int)
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
                        deserMs: Long, gcMs: Long, resultBytes: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long,
                        fetchWaitMs: Long)
}

/** A closed interval of wall-clock milliseconds with a name and a parent. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
  def contains(t: Long): Boolean = t >= start && t <= end
  def ms: Long = end - start
}
