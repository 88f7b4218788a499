package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so the
  * tracer can attribute a gate's job, task, plan and streaming events to
  * that gate before the next one starts. The listener bus is asynchronous
  * and its drain call is package-private, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
