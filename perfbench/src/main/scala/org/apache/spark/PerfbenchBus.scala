package org.apache.spark

/** The listener bus is `private[spark]`; the harness needs to wait for it
  * to drain so that every event of one operation is attributed before the
  * next operation starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
