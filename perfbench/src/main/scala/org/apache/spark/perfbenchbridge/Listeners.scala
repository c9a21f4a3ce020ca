package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the bench drains the bus before
  * reading what its listeners saw. The bus is Spark-private, hence this
  * package. */
object Listeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
