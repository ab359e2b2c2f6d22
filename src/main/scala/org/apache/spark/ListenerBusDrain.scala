package org.apache.spark

/** Access to the package-private listener bus for [[graft.Metrics]]:
  * wait until every posted event has been delivered, and the local
  * property that tags a job with its job group. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID
}
