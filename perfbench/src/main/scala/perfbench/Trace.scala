package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** The benchmark's own SparkListener: which jobs each operation ran, when,
  * and what their stages did. Operations tag their jobs with a job group
  * (`op<n>/build` while the DataFrame is being built, `op<n>/exec` while
  * its result is consumed), so a job started in the build group ran
  * eagerly, before the call returned its DataFrame.
  */
final class Recorder extends SparkListener {
  final case class Job(group: String, start: Long, var end: Long)

  /** Task metrics summed over the completed stage attempts of one group. */
  final class StageSums {
    var stages, tasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var shuffleWriteBytes, shuffleReadBytes, shuffleRecords = 0L
    var spillBytes, inputBytes, outputBytes, outputRecords = 0L
    def +=(o: StageSums): Unit = {
      stages += o.stages; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
      shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes; inputBytes += o.inputBytes
      outputBytes += o.outputBytes; outputRecords += o.outputRecords
    }
  }

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val sums = mutable.Map.empty[String, StageSums]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = Job(g, e.time, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = sums.getOrElseUpdate(stageGroup.getOrElse(info.stageId, ""), new StageSums)
    s.stages += 1
    s.tasks += info.numTasks
    val m = info.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
      s.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  def jobsOf(groups: Set[String]): Seq[Job] = synchronized { jobs.values.filter(j => groups(j.group)).toSeq }

  def sumsOf(groups: Set[String]): StageSums = synchronized {
    val out = new StageSums
    groups.foreach(g => sums.get(g).foreach(out += _))
    out
  }
}

object Trace {
  /** Milliseconds of [from, to] covered by at least one job interval. */
  def coveredMs(jobs: Seq[Recorder#Job], from: Long, to: Long): Long = {
    val spans = jobs.map(j => (math.max(j.start, from), math.min(j.end, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var cur = Long.MinValue
    spans.foreach { case (a, b) =>
      val s = math.max(a, cur)
      if (b > s) { covered += b - s; cur = b }
    }
    covered
  }
}
