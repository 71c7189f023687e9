package org.apache.spark

/** The listener bus's drain call is package-private; the benchmark needs it
  * to read a recorder only after every event of an iteration arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
