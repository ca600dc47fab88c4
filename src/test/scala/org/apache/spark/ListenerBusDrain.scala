package org.apache.spark

/** Test access to Spark's asynchronous listener bus: a listener's
  * counters are complete only once every posted event has reached it.
  */
object ListenerBusDrain {
  /** Blocks until every event posted so far has been delivered. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
