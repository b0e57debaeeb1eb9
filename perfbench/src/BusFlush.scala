package org.apache.spark

/** The listener bus is `private[spark]`; the trace needs to wait for it to
 * drain before it reads the events a traced pass produced. */
object BusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
