package org.apache.spark

/** The listener bus drain is `private[spark]`; this one-line bridge lets
  * the traced run read listener totals only after every event posted so
  * far has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
