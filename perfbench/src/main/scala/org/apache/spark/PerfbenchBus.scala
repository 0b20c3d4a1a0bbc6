package org.apache.spark

/** Lets the benchmark harness wait for the listener bus to deliver every
  * event of a finished statement before it reads the per-statement
  * counters. Lives in org.apache.spark only to reach the
  * `private[spark]` bus.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
