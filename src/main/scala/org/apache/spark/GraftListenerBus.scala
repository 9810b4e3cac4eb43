package org.apache.spark

/** Bridge into the `private[spark]` listener bus: blocks until every event
  * posted so far has reached the listeners, so a count taken after a block
  * of Spark work includes all of that work's events. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
