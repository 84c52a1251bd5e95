package org.apache.spark

import scala.collection.mutable
import org.apache.spark.scheduler._

/** What a block of code cost Spark: its jobs, the stages and tasks
  * those jobs ran, and the tasks' summed metrics. Byte fields are bytes;
  * `maxTaskShuffleReadBytes` and `peakExecutionMemory` are maxima over
  * tasks, every other field a sum. */
final case class Cost(jobs: Int, stages: Int, tasks: Int,
    taskSeconds: Double, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    maxTaskShuffleReadBytes: Long, inputBytes: Long, spillBytes: Long,
    peakExecutionMemory: Long) {
  /** One JSON object, fields in declaration order. */
  def json: String = productElementNames.zip(productIterator)
    .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
}

/** The one meter: runs a block under a job group of its own, counts what
  * that group's jobs ran, and reads the count only after the listener bus
  * has delivered every event already posted. The bus is asynchronous, so a
  * reading taken without draining it can miss the block's last events or
  * keep the previous block's; `waitUntilEmpty` is `private[spark]`, hence
  * this package. Jobs started from threads the block spawns carry the
  * group too (Spark's local properties are inherited). */
object Meter {
  def apply[T](sc: SparkContext)(f: => T): (T, Cost) = {
    val group = s"meter-${System.nanoTime()}"
    val listener = new GroupListener(group)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val r = try f finally sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      (r, listener.cost)
    } finally sc.removeSparkListener(listener)
  }

  private final class GroupListener(group: String) extends SparkListener {
    private val stageIds = mutable.HashSet.empty[Int]
    private var jobs, stages, tasks = 0
    private var taskMs, shR, shW, maxShR, input, spill, peakMem = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(
          _.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)) {
        jobs += 1
        stageIds ++= e.stageIds
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized { if (stageIds(e.stageInfo.stageId)) stages += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stageIds(e.stageId)) {
        tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          val read = m.shuffleReadMetrics.totalBytesRead
          taskMs += m.executorRunTime
          shR += read
          shW += m.shuffleWriteMetrics.bytesWritten
          maxShR = math.max(maxShR, read)
          input += m.inputMetrics.bytesRead
          spill += m.memoryBytesSpilled + m.diskBytesSpilled
          peakMem = math.max(peakMem, m.peakExecutionMemory)
        }
      }
    }

    def cost: Cost = synchronized {
      Cost(jobs, stages, tasks, taskMs / 1e3, shR, shW, maxShR, input,
        spill, peakMem)
    }
  }
}
