package org.apache.spark.e2ebench

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously; a pass's counters are only
  * complete once the bus has caught up. `waitUntilEmpty` is package-private
  * to Spark, hence this one-line bridge. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
