package org.apache.spark

/** The one `private[spark]` hook the benchmark needs: wait until every
  * listener event posted so far has been delivered, so a pass's job and
  * task counts are complete before they are read. */
object BenchSparkBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
