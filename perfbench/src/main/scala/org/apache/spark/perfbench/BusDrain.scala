package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously. A traced span reads its
  * counters only after every event its work posted has been handled, so
  * the span boundary waits for the bus to drain (the bus itself is not
  * public API, hence this package). */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
