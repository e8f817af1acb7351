package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener.
  * Lives under `org.apache.spark` because the listener bus is
  * package-private; the benchmark's traced run needs it so a span's
  * counters are complete when the span is read.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
