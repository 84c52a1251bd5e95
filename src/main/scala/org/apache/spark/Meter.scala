package org.apache.spark

import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** What a block of code cost Spark: its jobs, the stages and tasks
  * those jobs ran, the tasks' summed metrics, and the generated classes
  * compiled meanwhile. Byte fields are bytes; `maxTaskShuffleReadBytes`
  * and `peakExecutionMemory` are maxima over tasks, every other field a
  * sum. `compiles` counts whole-stage and expression codegen compiles
  * (cache misses of the JVM's one generated-class cache), so it also
  * counts those of any other code running in the JVM at the time. */
final case class Cost(jobs: Int, stages: Int, tasks: Int,
    taskSeconds: Double, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    maxTaskShuffleReadBytes: Long, inputBytes: Long, spillBytes: Long,
    peakExecutionMemory: Long, compiles: Long) {
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
      val compiles0 = compiles
      sc.setJobGroup(group, group)
      val r = try f finally sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      (r, listener.cost(compiles - compiles0))
    } finally sc.removeSparkListener(listener)
  }

  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

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

    def cost(compiles: Long): Cost = synchronized {
      Cost(jobs, stages, tasks, taskMs / 1e3, shR, shW, maxShR, input,
        spill, peakMem, compiles)
    }
  }
}
