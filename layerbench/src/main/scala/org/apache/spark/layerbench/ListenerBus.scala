package org.apache.spark.layerbench

import org.apache.spark.SparkContext

/** Spark keeps its live listener bus package-private. A traced pass
  * needs it to wait until every event of the call it just made has been
  * delivered, so that the next call's counters start clean. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
