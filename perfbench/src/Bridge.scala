package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run waits until every task-end event of an action has reached
  * the benchmark's listener before it reads the listener's totals.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
