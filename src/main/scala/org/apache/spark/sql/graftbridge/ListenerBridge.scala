package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Reaches the listener bus, which Spark keeps package-private, so a
  * probe can wait for every job and task event of a run before it reads
  * its listener's counts (events are delivered asynchronously). */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
