package org.apache.spark

/** Test access to Spark's listener bus, which is package-private: blocks
  * until every posted event, QueryExecutionListener callbacks included, has
  * been delivered.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
