package org.apache.spark

/** The one engine-private hook the benchmark needs: block until the
  * listener bus has delivered every queued event, so counters read after an
  * operation include all of that operation's task and SQL events.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
