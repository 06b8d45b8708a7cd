package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run must
  * see every job and task event before it aggregates them, and the only
  * way to wait for delivery is the bus's package-private drain call. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
