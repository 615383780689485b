package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark's listener bus delivers events asynchronously; its drain call is
  * package-private, so the harness reaches it from inside `org.apache.spark`.
  * Called before reading listener-derived numbers, so that every event of
  * a finished pass has been counted. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
