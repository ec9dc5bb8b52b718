package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is private to Spark; this package-scoped
  * bridge lets the benchmark read its listener's counts only after
  * every event of a finished call has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
