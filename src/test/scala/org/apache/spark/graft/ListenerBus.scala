package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Spark keeps its live listener bus package-private. A spec that counts
  * the jobs a call starts waits here until every event of that call has
  * reached its listener. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
