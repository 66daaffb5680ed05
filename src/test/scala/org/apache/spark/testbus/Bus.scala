package org.apache.spark.testbus

/** Test access to the SparkContext's listener bus, which is private to
  * the `org.apache.spark` package. */
object Bus {
  /** Blocks until every queued event has reached every listener. */
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
