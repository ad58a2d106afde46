package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * harness listener has seen the last job of a call before it is read.
  */
object PerfbenchBridge {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
