package org.apache.spark

/** Test-only access to Spark's listener bus: block until every posted event
  * has reached the listeners, so a job count read after an action includes
  * all of its jobs. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
