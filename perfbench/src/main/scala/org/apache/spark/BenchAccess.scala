package org.apache.spark

/** The one engine-internal call the benchmark needs: wait until every
  * listener event posted so far has been delivered, so the trace is
  * complete before it is written out.
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
