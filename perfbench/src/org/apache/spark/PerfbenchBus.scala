package org.apache.spark

/** The listener bus's drain is private to Spark; the benchmark waits on
  * it at every span boundary so listener counts are complete when read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
