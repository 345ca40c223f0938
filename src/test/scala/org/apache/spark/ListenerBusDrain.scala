package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener read right after an action has seen all of its jobs
  * (`waitUntilEmpty` is visible only inside this package). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
