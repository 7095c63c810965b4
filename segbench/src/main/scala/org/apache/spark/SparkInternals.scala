package org.apache.spark

/** The one Spark-internal call the tracer needs: listener events are
  * delivered asynchronously, and the trace is read only after every queued
  * event has been handled.
  */
object SparkInternals {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
