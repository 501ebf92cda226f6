package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one `private[spark]` hook the benchmark needs. It reads state that
  * every SparkContext keeps anyway and registers no listener.
  */
object SparkInternals {

  /** Blocks until every posted listener event has been delivered, so the
    * status store and any benchmark listener have seen every finished job.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
