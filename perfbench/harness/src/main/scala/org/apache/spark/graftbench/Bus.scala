package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not expose: a traced pass
  * must see every event of its jobs before it is summarised. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
