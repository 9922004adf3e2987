package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the scheduler's listener bus, which Spark keeps package
  * private: a traced run waits for queued events before reading its
  * listener's counts. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
