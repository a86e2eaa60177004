package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives in `org.apache.spark` for `private[spark]` access: listener
  * events are delivered asynchronously, so the tracer waits for the bus to
  * drain before it reads its counters. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
