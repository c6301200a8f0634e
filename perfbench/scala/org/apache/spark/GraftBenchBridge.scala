package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * listener event posted so far has been delivered, so a traced run's
  * spans are complete before they are written out.
  */
object GraftBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
