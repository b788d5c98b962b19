package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run must see every job and task event before it reads its
  * spans' tallies.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
