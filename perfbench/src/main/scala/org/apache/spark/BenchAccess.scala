package org.apache.spark

/** Reaches the one package-private hook the benchmark needs: waiting
  * until every queued listener event has been delivered, so per-op
  * counters are complete before they are read.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
