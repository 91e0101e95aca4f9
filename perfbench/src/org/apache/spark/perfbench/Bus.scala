package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; the traced run needs to
  * wait until every event of an op has reached its listeners before it
  * attributes jobs, stages and query executions to that op. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
