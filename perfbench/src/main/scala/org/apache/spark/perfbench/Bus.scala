package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered. Spark
  * keeps this `private[spark]`; the benchmark needs it so that counts
  * read after a traced pass include that pass's last events. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
