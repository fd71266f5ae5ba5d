package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark keeps its listener bus package-private. A traced operation waits
  * here until every event it caused has been delivered, so its job and task
  * counts are complete when they are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
