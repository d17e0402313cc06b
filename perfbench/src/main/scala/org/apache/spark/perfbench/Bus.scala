package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the benchmark waits for
  * the bus to drain before it reads what its listeners recorded for an op.
  * The wait is Spark-internal API, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
