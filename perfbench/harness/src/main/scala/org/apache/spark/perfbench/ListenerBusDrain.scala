package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so the
  * counters read at a span boundary include the work inside it.
  *
  * This is the benchmark's one use of a Spark internal: listener events
  * are delivered asynchronously, and `waitUntilEmpty` is
  * `private[spark]`, hence this package. Spark has no public call that
  * waits for the listener bus; the listeners themselves are attached
  * through public APIs only.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
