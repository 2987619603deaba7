package org.apache.spark

/** Access to the one `private[spark]` hook the benchmark needs: draining the
  * listener bus, so every job/stage/task event of a pass has been delivered
  * before the pass's per-layer numbers are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
