package org.apache.spark

/** Lets the harness wait until the listener bus has delivered every queued
  * event (the bus is package-private to Spark). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
