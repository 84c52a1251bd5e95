package graft.perfbench

import scala.collection.mutable
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Spark-side counters for one span of driver time (an op, or one call
  * into a layer inside an op). */
final case class SparkCounts(
    jobs: Long, stages: Long, tasks: Long, taskS: Double, gcS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double,
    jobBusyS: Double) {
  def +(o: SparkCounts): SparkCounts = SparkCounts(jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, taskS + o.taskS, gcS + o.gcS,
    shuffleWriteMb + o.shuffleWriteMb, shuffleReadMb + o.shuffleReadMb,
    spillMb + o.spillMb, jobBusyS + o.jobBusyS)
}

object SparkCounts {
  val Zero = SparkCounts(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** The benchmark's own SparkListener: counts jobs, stages, tasks and task
  * metrics per job group, and the time during which at least one job is
  * running. Registered only in traced runs. Spans are delimited by the
  * job group the benchmark sets around each call into a layer. */
final class Trace(sc: SparkContext) extends SparkListener {
  private val MB = 1024.0 * 1024.0
  private final class Acc {
    var jobs, stages, tasks = 0L
    var taskMs, gcMs = 0L
    var shW, shR, spill = 0L
    var busyMs = 0L
  }
  private val byGroup = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  // per group: jobs running now, and since when (event time, ms)
  private val running = mutable.HashMap.empty[String, Int]
  private val busySince = mutable.HashMap.empty[String, Long]

  private def acc(g: String) = byGroup.getOrElseUpdate(g, new Acc)
  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobGroup(e.jobId) = g
    e.stageIds.foreach(s => stageGroup(s) = g)
    acc(g).jobs += 1
    val n = running.getOrElse(g, 0)
    if (n == 0) busySince(g) = e.time
    running(g) = n + 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      val n = running.getOrElse(g, 1) - 1
      running(g) = n
      if (n == 0) acc(g).busyMs += e.time - busySince(g)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = Option(e.properties).map(p => groupOf(p))
      .getOrElse(stageGroup.getOrElse(e.stageInfo.stageId, ""))
    stageGroup(e.stageInfo.stageId) = g
    acc(g).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shW += m.shuffleWriteMetrics.bytesWritten
      a.shR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counters of one job group, after every event already posted has been
    * delivered. The group's counters are reset. */
  def take(group: String): SparkCounts = {
    PerfbenchBus.drain(sc)
    synchronized {
      val a = byGroup.remove(group).getOrElse(new Acc)
      SparkCounts(a.jobs, a.stages, a.tasks, a.taskMs / 1e3, a.gcMs / 1e3,
        a.shW / MB, a.shR / MB, a.spill / MB, a.busyMs / 1e3)
    }
  }
}
