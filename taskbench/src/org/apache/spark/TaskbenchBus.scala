package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait for
  * it to deliver every event before reading its records. */
object TaskbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
