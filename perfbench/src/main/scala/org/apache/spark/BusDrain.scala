package org.apache.spark

/** Blocks until every event posted so far has reached every listener. The
  * listener bus is asynchronous and the last task of a span is usually its
  * straggler, so a span is read only after the bus is drained.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
