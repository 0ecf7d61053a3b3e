package org.apache.spark

/** The listener bus is private to Spark. The benchmark's collector reads
  * its counters only after every event of a span has been delivered, so it
  * needs the bus's drain call. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
