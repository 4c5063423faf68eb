package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one internal Spark call the traced run needs: block until every
  * listener event posted so far has been delivered, so an operation's jobs,
  * tasks and query executions are all recorded before the next one starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
