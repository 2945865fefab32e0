package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so
  * counters read after an operation include that operation's jobs.
  * Lives under `org.apache.spark` because the bus is package-private.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
