package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Reaches the session's listener bus, which Spark keeps package-private. */
object ListenerBus {
  /** Blocks until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
