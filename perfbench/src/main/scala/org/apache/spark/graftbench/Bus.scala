package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so the
  * tracer reads an operation's jobs and tasks only after they arrived.
  * The bus is private to Spark; this one call is the reason for the
  * package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
