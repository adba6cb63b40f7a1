package org.apache.spark

/** Access to the one `private[spark]` call the harness needs: listener
  * events are delivered asynchronously, so per-op Spark totals are read
  * only after the bus has delivered everything posted so far.
  */
object PerfbenchShims {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
