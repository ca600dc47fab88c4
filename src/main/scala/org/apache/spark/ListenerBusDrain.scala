package org.apache.spark

/** Access to Spark's asynchronous listener bus: a listener's counters,
  * and the status tracker fed by Spark's own listener, are complete
  * only once every posted event has reached them.
  */
object ListenerBusDrain {
  /** Blocks until every event posted so far has been delivered. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
