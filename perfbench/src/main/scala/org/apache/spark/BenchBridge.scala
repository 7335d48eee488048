package org.apache.spark

/** Reaches the one `private[spark]` call the tracer needs: draining the
  * listener bus, so every job, stage and task event of a finished pass has
  * been delivered before its per-op figures are read. */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
