package org.apache.spark

/** Test access to the listener bus (private[spark]). */
object ListenerCount {
  def apply(sc: SparkContext): Int = sc.listenerBus.listeners.size

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
