package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached the listeners, so a
  * pass's job, task and block events are all counted before its totals
  * are read. The listener bus is private to Spark; this file lives in
  * Spark's package only to reach it.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
