package org.apache.spark

/** The one Spark-internal call the traced run needs: wait until every
  * posted listener event has been delivered, so counters read after an op
  * include all of its jobs, queries and streaming progress. */
object GraftBenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
