package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to Spark's private listener bus: specs that count jobs
  * through a SparkListener drain the bus before reading their count,
  * instead of sleeping until it looks stable. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
