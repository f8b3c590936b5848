package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: drains asynchronously
  * dispatched listener events before reading what a listener observed
  * (`graft.Dev time`'s task metrics; specs auditing plans that execute
  * eagerly inside an operator via `localCheckpoint`). */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
