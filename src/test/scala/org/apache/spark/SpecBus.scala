package org.apache.spark

/** The one `private[spark]` call the listener specs need: block until every
  * listener queue has delivered the events posted so far. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
