package org.apache.spark

/** The listener bus's drain call is package-private; tests that count
  * stages read their listener only after every event has arrived. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
