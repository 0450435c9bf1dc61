package org.apache.spark

/** The listener bus's drain is package-private to Spark; code that counts
  * listener events (`graft.Probe`, tests) reads its counters only after
  * every event of the measured action has been delivered.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
