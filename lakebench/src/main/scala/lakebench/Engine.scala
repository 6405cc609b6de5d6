package lakebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The engine layer's session: `graft.Bench`'s engine confs on
  * `local[nproc]` with shuffle partitions = nproc, and every scratch
  * directory inside the run's work directory.
  */
object Session {
  def start(work: Path, cores: Int): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.ui.enabled", "false")
      // the status store keeps finished jobs, stages, tasks and SQL
      // executions even with the UI off; capped, so that retained heap is
      // the program's state and not the count of jobs a run happened to finish
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "10")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Engine counters per harness-set job group, from a SparkListener. The
  * harness sets the group around each call it makes; jobs started without
  * a harness group (streaming micro-batches, background work) count under
  * "other".
  */
final class EngineProbe extends SparkListener {
  final class Counters {
    var jobs = 0L
    var tasks = 0L
    var taskNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }
  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(EngineProbe.Prefix))
      .map(_.stripPrefix(EngineProbe.Prefix)).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup(_) = g)
    byGroup.getOrElseUpdate(g, new Counters).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup.getOrElseUpdate(e.stageInfo.stageId, groupOf(e.properties))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = byGroup.getOrElseUpdate(stageGroup.getOrElse(e.stageId, "other"), new Counters)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskNs += m.executorRunTime * 1000000L
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def groups: Map[String, Counters] = synchronized(byGroup.toMap)

  /** (jobs, tasks, task seconds, shuffle MB, spill MB) over every group. */
  def totals: (Long, Long, Double, Double, Double) = synchronized {
    val cs = byGroup.values
    (cs.map(_.jobs).sum, cs.map(_.tasks).sum, cs.map(_.taskNs).sum / 1e9,
      cs.map(_.shuffleBytes).sum / 1e6, cs.map(_.spillBytes).sum / 1e6)
  }
}

object EngineProbe {
  val Prefix = "lakebench:"

  /** Run `body` under job group `group` when a probe is installed. */
  def group[T](spark: SparkSession, on: Boolean, group: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(Prefix + group, group, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }

  /** Give the asynchronous listener bus time to deliver the run's events. */
  def settle(): Unit = Thread.sleep(1500)
}

/** The JVM layer: GC time, peak heap and retained heap. */
object Jvm {
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def peakHeapMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap in use after full collections: what the run keeps live. */
  def retainedHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
