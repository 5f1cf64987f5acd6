package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listeners have seen all jobs, tasks and query executions of
  * the calls that just returned. `listenerBus` is package-private to Spark,
  * hence this one-line bridge in Spark's package. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
