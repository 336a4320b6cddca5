package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the benchmark needs: wait until every
  * listener event posted so far has been delivered, so counters read at a
  * span boundary belong to that span. Lives under `org.apache.spark`
  * because the listener bus is `private[spark]`. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
