package org.apache.spark

/** Listener events reach listeners asynchronously; a spec that reads
  * what a listener saw first waits until every event posted so far has
  * been delivered. `listenerBus` is private to Spark, hence this bridge.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
