package org.apache.spark

/** The listener bus is private to Spark. [[graft.Bench]] waits on it so that
  * every event of a finished run has reached its listener before the run's
  * counters are read. Called only outside timed intervals. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
