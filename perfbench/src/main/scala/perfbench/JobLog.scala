package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Spark-runtime totals for one job group (one query execution). */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
}

/** One Spark job as seen by the listener; times are epoch milliseconds. */
final case class JobRecord(id: Int, group: String, startMs: Long, var endMs: Long)

/** Listener that attributes every job, stage and task to the job group it
  * ran under. The benchmark sets one job group per query execution on the
  * client thread that runs it, so concurrent clients are kept apart. */
final class JobLog extends SparkListener {
  private val groupOfStage = mutable.HashMap[Int, String]()
  private val jobsById = mutable.LinkedHashMap[Int, JobRecord]()
  private val stats = mutable.HashMap[String, GroupStats]()

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def statsOf(group: String): GroupStats = stats.getOrElseUpdate(group, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    e.stageIds.foreach(s => if (!groupOfStage.contains(s)) groupOfStage(s) = g)
    jobsById(e.jobId) = JobRecord(e.jobId, g, e.time, -1L)
    statsOf(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    statsOf(groupOfStage.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = statsOf(groupOfStage.getOrElse(e.stageId, ""))
    s.tasks += 1
    if (e.reason != org.apache.spark.Success) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.taskMs += m.executorRunTime
      s.taskCpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRows += m.inputMetrics.recordsRead
    }
  }

  def groupStats(group: String): Option[GroupStats] = synchronized(stats.get(group))

  def jobsOf(group: String): Seq[JobRecord] = synchronized(
    jobsById.values.filter(_.group == group).map(_.copy()).toSeq)
}
