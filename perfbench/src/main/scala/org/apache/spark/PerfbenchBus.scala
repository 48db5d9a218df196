package org.apache.spark

/** The listener bus delivers events asynchronously; counters read right
  * after an action must first wait for its events. `listenerBus` is
  * package-private, hence this bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
