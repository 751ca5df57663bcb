package org.apache.spark

/** The one scheduler internal the traced run needs: waiting until every
  * listener has seen every event posted so far, so an operation's
  * events are attributed to it before the next operation starts.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
