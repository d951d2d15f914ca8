package org.apache.spark

/** The one Spark-internal call the traced run needs: wait until every
  * listener has seen every event posted so far, so a pass's counters are
  * complete before they are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
