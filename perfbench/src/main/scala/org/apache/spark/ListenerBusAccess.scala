package org.apache.spark

/** Drains Spark's asynchronous listener bus so the benchmark's listeners
  * have seen every event of the timed window before it reads them. The
  * bus is package-private to Spark, hence this one-line bridge. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
