package org.apache.spark

/** The listener bus's listener list is package-private to Spark; tests
  * that check a tool removes the listeners it added read its size here.
  */
object ListenerBusCount {
  def apply(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
