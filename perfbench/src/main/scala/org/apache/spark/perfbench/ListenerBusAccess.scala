package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; the benchmark needs it to
  * attribute every listener event of an op to that op before the next
  * op starts. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
