package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far reached every listener — the
  * listener bus is package-private, so the traced run reaches it here
  * (same idiom as the engine's `org.apache.spark.sql.graftbridge`).
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
