package org.apache.spark

/** The listener bus delivers events asynchronously. A span that reads
  * listener counters right after an action returns must first wait until
  * the bus has delivered that action's events; `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
