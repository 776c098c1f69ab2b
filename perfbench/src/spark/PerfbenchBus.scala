package org.apache.spark

/** Access to the scheduler's listener bus, which is package-private:
  * the tracer waits for every posted event before it aggregates. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
