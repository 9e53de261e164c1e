package org.apache.spark

/** Block until every listener queue has delivered the events posted so far,
  * so a test can read listener-fed state (the status tracker, a
  * QueryExecutionListener's counts) without polling. Lives in Spark's
  * package because `listenerBus` is `private[spark]`.
  */
object GraftTestAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
