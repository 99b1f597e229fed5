package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access the harness needs but Spark keeps private[spark]. */
object Bus {

  /** Block until every posted event (task ends, SQL execution ends) has
    * reached its listeners, so counters read after an action are complete.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
