package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced operation's jobs are all recorded before they are attributed.
  * The bus is private to Spark's package, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
