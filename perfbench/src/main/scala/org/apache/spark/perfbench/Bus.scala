package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Blocks until every event posted so far reached the listeners, so the
    * per-layer counts read after a traced window are complete. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
