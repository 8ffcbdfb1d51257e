package org.apache.spark

/** The listener bus drain is package-private to Spark; the traced
  * run needs it so that every task event is counted before spans are
  * summed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
