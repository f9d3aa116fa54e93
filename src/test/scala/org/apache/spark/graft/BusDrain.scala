package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered,
  * so a test's SparkListener has seen every job a statement ran. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
