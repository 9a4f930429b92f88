package org.apache.spark

/** The one piece of Spark's private API the benchmark needs: waiting
  * until every queued listener event has been delivered, so the
  * events of one timed operation are attributed to it and not to the
  * next one.
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
