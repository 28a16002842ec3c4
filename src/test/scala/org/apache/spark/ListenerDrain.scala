package org.apache.spark

/** Test access to the listener bus: returns once every event posted so
  * far has reached its listeners. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
