package org.apache.spark

/** The one non-public hook the benchmark needs: listener events are
  * delivered asynchronously, so per-op counters are read only after the
  * bus has delivered every event the op posted. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
