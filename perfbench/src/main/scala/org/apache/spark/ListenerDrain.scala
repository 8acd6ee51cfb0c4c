package org.apache.spark

/** Blocks until every event posted so far has reached every listener, so a
  * traced run reads complete task and SQL metrics for the operation it just
  * finished. The listener bus's drain call is package-private to Spark.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
