package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  *
  * The harness runs one query at a time and calls this after each one,
  * so a listener's "current query" is exact: nothing of query N+1 has
  * been posted while the events of query N are still queued. The bus
  * handle is package-private to Spark, hence this one-line bridge.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
