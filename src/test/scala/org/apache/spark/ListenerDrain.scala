package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * posted event reached the listeners, so a spec can count jobs
  * without sleeping. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
