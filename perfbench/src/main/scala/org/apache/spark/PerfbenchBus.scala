package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads
  * its listener's counters only after every event of the op has been
  * delivered. `waitUntilEmpty` is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
