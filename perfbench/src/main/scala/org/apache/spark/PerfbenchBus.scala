package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
  * traced run can wait for every job and task event of an operation
  * before it reads the listener's counts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
