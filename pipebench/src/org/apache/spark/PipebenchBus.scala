package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for it
  * to deliver every event of a traced pass before it reads the counts.
  */
object PipebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
