package org.apache.spark

/** The listener bus's drain, which Spark keeps package-private: a test
  * that counts listener events must see every event posted before it. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
