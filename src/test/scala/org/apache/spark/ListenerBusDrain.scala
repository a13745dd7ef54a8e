package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * spec's `SparkListener` counts are complete when read. Lives in the
  * org.apache.spark package purely to reach the package-private bus.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
