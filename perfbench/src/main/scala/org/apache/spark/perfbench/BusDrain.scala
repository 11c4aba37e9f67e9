package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered.
  * The traced run calls it at each span boundary so that asynchronous
  * events (block updates, task ends) are charged to the span whose work
  * posted them. Lives in the `org.apache.spark` namespace because the
  * listener bus is package-private. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
