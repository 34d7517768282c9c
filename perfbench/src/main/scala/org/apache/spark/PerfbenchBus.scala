package org.apache.spark

/** The listener bus delivers events asynchronously; counts read from a
  * listener are complete only once the bus has drained. The drain call
  * is package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
