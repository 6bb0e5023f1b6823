package org.apache.spark

/** The listener bus's drain is package-private to Spark; specs that count
  * scheduler events drain it so every event of the work they ran has
  * been delivered before they read their counts.
  */
object TestListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
