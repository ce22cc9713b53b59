package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * counters read after an operation must include all of its events.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
