package org.apache.spark.linkbench

import org.apache.spark.SparkContext

/** Access to the scheduler's listener bus, which Spark keeps private to
  * its own packages.
  */
object ListenerBus {

  /** Blocks until every event posted so far has reached every listener,
    * so counters read afterwards are complete.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
