package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the benchmark reads its counters only after every posted event has been
  * delivered to its listener. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
