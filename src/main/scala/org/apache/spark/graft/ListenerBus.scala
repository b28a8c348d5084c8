package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus. */
object ListenerBus {
  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
