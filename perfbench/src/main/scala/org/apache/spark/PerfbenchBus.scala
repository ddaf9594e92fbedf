package org.apache.spark

/** Blocks until every listener event posted so far has been delivered.
  * Listener callbacks run on Spark's asynchronous bus; the traced run
  * drains it after each call so every event lands in the call that
  * caused it. `waitUntilEmpty` is Spark-internal, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
