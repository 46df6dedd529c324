package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: counters read right after an action
  * can miss that action's last events. The benchmark drains it at each
  * boundary where it reads its listeners (`waitUntilEmpty` is
  * package-private to Spark, hence this package).
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
