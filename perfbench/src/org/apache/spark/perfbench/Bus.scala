package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal hook the benchmark needs: listener events are
  * delivered asynchronously, so per-op counters are read only after every
  * event posted during the op has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
