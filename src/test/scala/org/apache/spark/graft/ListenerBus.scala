package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a spec that counts them reads
  * its counters only after the bus has delivered every event posted so far
  * (`waitUntilEmpty` is private to the spark namespace). */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
