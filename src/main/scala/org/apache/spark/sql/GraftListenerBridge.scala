package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps
  * `private[spark]`: a listener that counts events must wait for the
  * bus to drain before it reads its counters, since events are
  * delivered asynchronously after the action that posted them has
  * returned. */
object GraftListenerBridge {
  /** Block until every event posted so far has reached every listener. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
