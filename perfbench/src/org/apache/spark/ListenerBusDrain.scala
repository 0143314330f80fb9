package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * counts read right after an action include that action's jobs and
  * tasks (the listener bus delivers asynchronously).
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
