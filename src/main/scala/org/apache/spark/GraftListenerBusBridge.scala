package org.apache.spark

/** Bridge to the `private[spark]` listener bus: lets a job counter wait
  * until every event posted so far has reached its listeners, instead of
  * sleeping. Same package-private pattern as
  * `org.apache.spark.sql.GraftColumnBridge`. */
object GraftListenerBusBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
