package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is package-private; the tracer needs to know that every
  * event of the jobs it has just run has been delivered before it reads its
  * counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
