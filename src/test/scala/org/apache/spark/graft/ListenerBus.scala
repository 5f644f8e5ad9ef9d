package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The live listener bus is `private[spark]`; a test that counts listener
  * events drains it first so every posted event has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
