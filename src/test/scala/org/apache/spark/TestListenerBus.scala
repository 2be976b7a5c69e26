package org.apache.spark

/** Test access to the listener bus drain, which Spark keeps package-private:
  * a spec reads its listener's counters only after every posted event has
  * been delivered. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
