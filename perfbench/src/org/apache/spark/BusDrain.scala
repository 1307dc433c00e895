package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; this is the one
  * call the benchmark needs from that surface. It blocks until every
  * listener queue has delivered every event posted so far, so per-query
  * counts are read after they are complete rather than after a sleep. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
