package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Task figures summed over the jobs of one job group. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var maxTaskMs = 0L
  def add(o: GroupStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
  }
}

/** Spark listener that attributes jobs and task metrics to the job group
  * the benchmark set before each layer call, and tracks the bytes held in
  * cached RDD blocks.
  *
  * Cached bytes follow block updates AND `SparkListenerUnpersistRDD`: an
  * unpersisted RDD's blocks are dropped without a per-block removal event,
  * so a listener that reads only block updates would grow by the whole
  * cache with every build.
  */
final class Counters extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val blocks = mutable.HashMap.empty[RDDBlockId, Long]
  private var cached = 0L
  private var peak = 0L

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    groups.getOrElseUpdate(g, new GroupStats).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup(e.stageInfo.stageId) = group(e.properties)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, "other"), new GroupStats)
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.maxTaskMs = math.max(s.maxTaskMs, e.taskInfo.duration)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val size = if (e.blockUpdatedInfo.storageLevel.isValid)
          e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize else 0L
        cached += size - blocks.getOrElse(id, 0L)
        if (size == 0L) blocks.remove(id) else blocks(id) = size
        peak = math.max(peak, cached)
      case _ =>
    }
  }
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = blocks.keys.filter(_.rddId == e.rddId).toSeq
    gone.foreach(id => cached -= blocks.remove(id).getOrElse(0L))
  }

  /** Starts a new peak window at the bytes cached now. */
  def resetPeak(): Unit = synchronized { peak = cached }
  def peakBytes: Long = synchronized { peak }
  def cachedBytes: Long = synchronized { cached }

  /** Figures per group since the last call; clears them. */
  def takeGroups(): Map[String, GroupStats] = synchronized {
    val out = groups.toMap; groups.clear(); out
  }
}

/** JVM- and Spark-wide counters read before and after a unit of work. */
final case class RuntimeSample(jitMs: Long, gcMs: Long, codegenCompiles: Long, cpuNs: Long)

object RuntimeSample {
  def now(): RuntimeSample = {
    val jit = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    RuntimeSample(jit, gc, compiles, cpu)
  }
  def delta(a: RuntimeSample, b: RuntimeSample): RuntimeSample =
    RuntimeSample(b.jitMs - a.jitMs, b.gcMs - a.gcMs, b.codegenCompiles - a.codegenCompiles, b.cpuNs - a.cpuNs)
}

/** A fixed single-threaded JVM workload whose CPU time is the unit of the
  * benchmark's CPU figures.
  *
  * On a shared host the CPU time of the same work is not constant: the
  * neighbours' load changes clock rate and how much of each core this
  * process gets. Two sets of runs of the same code taken twenty minutes
  * apart read every CPU time 20-26% higher in the second. A pass of this
  * workload, timed beside the program's work, slows down with it, so the
  * program's CPU time in passes stays put while the host's speed moves.
  * The workload (sort short strings, count them in a hash map) is
  * allocation- and pointer-heavy, like the program's driver-side work.
  */
object Reference {
  private val words: Array[AnyRef] =
    Array.tabulate(20000)(i => Integer.toString((i * 7919L % 1000003L).toInt, 36) + "-")
  private val threads = ManagementFactory.getThreadMXBean
  private var sink = 0L // keeps the JIT from dropping the pass's work

  /** CPU nanoseconds of one pass on the calling thread. */
  def passNs(): Double = {
    val c0 = threads.getCurrentThreadCpuTime
    val a = words.clone()
    java.util.Arrays.sort(a)
    val m = new java.util.HashMap[String, Integer]()
    a.foreach(w => m.merge(w.toString.substring(1), 1, (x: Integer, y: Integer) => x + y))
    sink += m.size
    (threads.getCurrentThreadCpuTime - c0).toDouble
  }

  /** Median CPU nanoseconds of `n` passes. */
  def medianNs(n: Int): Double = Bench.median(Seq.fill(n)(passNs()))
}
