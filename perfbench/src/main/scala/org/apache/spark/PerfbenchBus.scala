package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private. The
  * bus delivers events asynchronously; draining it before reading listener
  * state makes the read complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
