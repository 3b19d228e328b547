package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the harness wait until every posted listener event has been
  * delivered, so counters read after an operation include all of its
  * tasks (`listenerBus` is `private[spark]`). */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
