package org.apache.spark

/** Test access to the listener bus size (private[spark]). */
object ListenerCount {
  def apply(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
