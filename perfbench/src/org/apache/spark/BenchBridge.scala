package org.apache.spark

/** The one `private[spark]` call the benchmark needs: block until every
  * queued listener event has been delivered, so the traced run's ledger is
  * complete before it is summed.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
