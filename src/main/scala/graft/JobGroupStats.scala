package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

import scala.collection.mutable

/** Task figures summed over the jobs of one job group. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  def add(o: GroupStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

/** Spark listener that attributes jobs and task metrics to the job group
  * (`spark.jobGroup.id`) they ran under: jobs, tasks, executor CPU, shuffle
  * read (local + remote) and write bytes, and spill (memory + disk). Jobs
  * outside any group are not counted.
  *
  * A streaming query's micro-batches run under a job group of their own
  * (the query's run id, set by its execution thread), so a group entered
  * with [[JobGroupStats.within]] is also carried as a job tag, which that
  * thread inherits and keeps: the tag names the group when both are set.
  *
  * Events arrive on the async listener bus: read the figures only after
  * draining it (`GraftListenerBridge.drain`).
  */
final class JobGroupStats extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    JobGroupStats.groupOf(e.properties).foreach { g =>
      groups.getOrElseUpdate(g, new GroupStats).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    JobGroupStats.groupOf(e.properties).foreach(stageGroup(e.stageInfo.stageId) = _)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageGroup.get(e.stageId).foreach { g =>
      val s = groups.getOrElseUpdate(g, new GroupStats)
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Figures per group so far. */
  def snapshot(): Map[String, GroupStats] = synchronized {
    groups.map { case (g, s) => g -> { val c = new GroupStats; c.add(s); c } }.toMap
  }
}

object JobGroupStats {
  private val TagPrefix = "graft-group:"

  private def groupOf(props: java.util.Properties): Option[String] = Option(props).flatMap { p =>
    Option(p.getProperty("spark.job.tags")).toSeq.flatMap(_.split(','))
      .collectFirst { case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix) }
      .orElse(Option(p.getProperty("spark.jobGroup.id")))
  }

  /** Run `body` with `group` as the calling thread's job group (and job
    * tag), then clear both. Threads started inside inherit the group.
    */
  def within[T](sc: SparkContext, group: String)(body: => T): T = {
    sc.setJobGroup(group, group)
    sc.addJobTag(TagPrefix + group)
    try body
    finally { sc.removeJobTag(TagPrefix + group); sc.clearJobGroup() }
  }
}
