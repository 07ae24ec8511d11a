package org.apache.spark

/** Waits for the listener bus to deliver every event posted so far, so a
  * traced operation's counters are complete before they are read. The bus
  * is Spark-private, hence this one-method bridge.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
