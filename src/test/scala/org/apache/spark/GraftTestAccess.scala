package org.apache.spark

/** The one Spark-internal call the specs need: block until every
  * listener event posted so far has been delivered, so a listener's
  * counts are complete when read. The listener bus is `private[spark]`,
  * hence the package.
  */
object GraftTestAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
