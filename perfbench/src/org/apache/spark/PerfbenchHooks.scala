package org.apache.spark

/** The benchmark's one reach into `private[spark]`: listener events
  * (task ends, query executions, streaming progress) arrive on the async
  * listener bus, so per-key counters are read only after the bus drains.
  * The benchmark keeps its own copy rather than the library's bench hook,
  * so that changes to the library's measurement tools cannot break it.
  */
object PerfbenchHooks {
  def drainListenerBus(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
