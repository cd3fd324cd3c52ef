package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a
  * round's spans are complete before they are summed. The bus is
  * package-private to Spark, hence this bridge. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
