package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain barrier is `private[spark]`; the benchmark needs
  * it so task metrics of a finished call are counted before they are read. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
