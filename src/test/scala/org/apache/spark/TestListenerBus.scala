package org.apache.spark

/** Test bridge to the asynchronous listener bus: events posted so far
  * have reached every listener once [[drain]] returns. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
