package org.apache.spark

/** Blocks until every event posted so far has reached every listener
  * (`SparkContext.listenerBus` is private[spark]), so a spec can read a
  * listener's counts right after an action returns. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
