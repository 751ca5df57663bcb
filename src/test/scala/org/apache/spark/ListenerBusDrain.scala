package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * posted event has reached the listeners, so a spec can count the
  * jobs a call started.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
