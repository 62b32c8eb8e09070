package org.apache.spark.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** Test access to the listener bus: specs that count Spark jobs must let
  * every queued event reach their listener before asserting. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Streaming-query listener buses attached to the context (one per
    * session whose `StreamingQueryManager` was ever built; never removed). */
  def streamBuses(sc: SparkContext): Int =
    sc.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size
}
