package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * spec can count the jobs a block started. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
