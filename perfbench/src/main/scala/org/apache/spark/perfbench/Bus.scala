package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; `waitUntilEmpty` is
  * package-private to Spark, so the benchmark reaches it through this
  * shim. Nothing else lives here. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
