package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered, so
  * per-op execution counters are complete before they are read. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
