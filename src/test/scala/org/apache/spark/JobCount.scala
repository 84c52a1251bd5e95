package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block of driver code starts, counted under a job group
  * of its own. The listener bus delivers events asynchronously, so the
  * count is read after the bus drains; `waitUntilEmpty` is
  * `private[spark]`, hence this package. */
object JobCount {
  def apply[T](sc: SparkContext)(f: => T): (T, Int) = {
    val group = s"job-count-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val r = try f finally sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
