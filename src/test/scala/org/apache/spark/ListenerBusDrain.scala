package org.apache.spark

/** Access to the scheduler's listener bus, which Spark keeps private to
  * its own packages.
  */
object ListenerBusDrain {

  /** Blocks until every event posted so far has reached every listener. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
