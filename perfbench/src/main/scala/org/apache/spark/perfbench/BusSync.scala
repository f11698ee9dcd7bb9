package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously. The benchmark drains the
  * bus before it resets and after it reads a listener's totals, so a pass's
  * totals hold exactly that pass's events. The bus is `private[spark]`,
  * hence this package.
  */
object BusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
