package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every posted scheduler event has reached the listeners,
  * so counters read at a span boundary include that span's jobs. The
  * listener bus is private to Spark, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
