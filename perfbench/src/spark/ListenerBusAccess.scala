package org.apache.spark

/** The listener bus delivers events asynchronously; counters read right after
  * an action must wait for it to drain. `listenerBus` is `private[spark]`, so
  * this accessor lives in Spark's package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
