package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * trace read right after an action sees all of its jobs and tasks
  * (`waitUntilEmpty` is visible only inside this package). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
