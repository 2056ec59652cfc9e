package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached the listeners, so a
 * traced op's job, stage and query events are attributed before the next
 * op starts. (`waitUntilEmpty` is Spark-internal; this is the only reason
 * the file lives in Spark's package.) */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
