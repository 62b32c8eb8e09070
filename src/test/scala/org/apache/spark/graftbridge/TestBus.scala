package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the listener bus: specs that count Spark jobs must let
  * every queued event reach their listener before asserting. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
