package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits on it so that
  * every event of a finished operation has reached its listener before the
  * operation's counters are read. Called only outside timed intervals. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
