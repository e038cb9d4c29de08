package org.apache.spark.sql.graft

/** Spark's private listener bus: `drain` blocks until every event posted
  * so far reached every listener. */
object ListenerBus {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
