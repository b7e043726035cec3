package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so the
  * traced run reads complete job, task and query counts.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
