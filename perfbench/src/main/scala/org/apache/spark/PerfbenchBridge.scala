package org.apache.spark

/** Flushes Spark's listener bus so a reader of listener counters sees every
  * event posted before the call. The bus is `private[spark]`; this is the
  * same wait Spark's own test suites use. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
