package org.apache.spark

/** The one Spark-internal call the harness needs: block until every
  * listener event posted so far has been delivered, so counters read
  * after an operation include that operation's jobs, tasks and query
  * executions. The listener bus is `private[spark]`, hence the package.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
