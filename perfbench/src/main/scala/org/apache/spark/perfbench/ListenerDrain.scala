package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  * Listener delivery is asynchronous, so the benchmark drains the bus after
  * each action before reading its counters (the same hook Spark's own
  * listener tests use; it is package-private to `org.apache.spark`).
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
