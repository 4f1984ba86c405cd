package org.apache.spark

/** Listener events reach listeners asynchronously; the benchmark reads its
  * counters only after every event posted so far has been delivered.
  * `listenerBus` is private to Spark, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
