package org.apache.spark

/** Access to the one listener-bus call the benchmark needs: waiting until
  * every posted event has been delivered, so counters read after a command
  * are complete. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
