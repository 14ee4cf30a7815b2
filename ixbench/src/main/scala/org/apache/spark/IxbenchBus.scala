package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * counts a traced span collects are complete before they are read. */
object IxbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
