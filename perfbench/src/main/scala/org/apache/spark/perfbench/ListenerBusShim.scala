package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers task and job events asynchronously; the
  * tracer must see every event before it sums spans. `waitUntilEmpty` is
  * package-private to Spark, hence this shim.
  */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
