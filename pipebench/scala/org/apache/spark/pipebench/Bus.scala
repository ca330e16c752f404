package org.apache.spark.pipebench

import org.apache.spark.SparkContext

/** Listener-bus access the public API lacks: wait until every posted
  * event has reached the listeners, so a traced pass's job and stage
  * records are complete before they are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
