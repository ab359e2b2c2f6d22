package org.apache.spark

/** Test access to the package-private listener bus: wait until every
  * posted event has been delivered, so job counts read from the status
  * tracker are complete. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
