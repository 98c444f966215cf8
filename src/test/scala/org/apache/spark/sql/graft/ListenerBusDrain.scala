// Lives under org.apache.spark to reach the private[spark] listener bus.
package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Test hook: block until every event posted so far has reached its
  * listeners — QueryExecutionListeners run on the asynchronous listener
  * bus, so a spec that inspects what they captured drains it first. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
