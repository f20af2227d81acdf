package org.apache.spark

/** Spark keeps the listener bus's drain package-private. The traced run
  * drains the bus after every timed call so that each posted job, stage,
  * task, query and stream event is attributed to the call that caused it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
