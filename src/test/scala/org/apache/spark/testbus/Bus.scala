package org.apache.spark.testbus

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not offer: blocks until every
  * event posted so far has been delivered to all listeners. Lives under
  * `org.apache.spark` only to reach the `private[spark]` bus.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
