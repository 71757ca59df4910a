package org.apache.spark

/** The one scheduler internal the benchmark needs: waiting until every
  * listener event posted so far has been delivered, so that traced
  * metrics are attributed to the operation that caused them.
  */
object GraftBenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
