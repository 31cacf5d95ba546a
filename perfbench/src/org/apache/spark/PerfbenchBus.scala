package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run must see every event of its loop before it reports. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
