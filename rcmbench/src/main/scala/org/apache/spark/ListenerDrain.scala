package org.apache.spark

/** Bridge into the `private[spark]` listener bus: blocks until every
  * event posted so far has reached every listener, so a trace read
  * right after a measured call sees all of that call's jobs and tasks. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
