package org.apache.spark

/** Access to the one scheduler hook the benchmark's tracer needs that is
  * not public: waiting until the listener bus has delivered every event, so
  * a span's job records are complete before they are summarized. */
object PipebenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
