package org.apache.spark

/** The one Spark-internal call the harness needs: block until every
  * listener queue has delivered its events, so per-op counters are
  * complete when an op's span closes. Lives in Spark's package because
  * `listenerBus` is `private[spark]`.
  */
object GraftBenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
