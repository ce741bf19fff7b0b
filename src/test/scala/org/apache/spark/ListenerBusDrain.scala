package org.apache.spark

/** Listener events arrive asynchronously; tests read listener-built
  * counts only after the bus has delivered everything posted so far.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
