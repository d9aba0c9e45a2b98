package org.apache.spark

/** The one `private[spark]` call the traced run needs: block until every
  * listener queue has delivered the events posted so far, so the events of
  * one operation are all counted before the next operation starts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
