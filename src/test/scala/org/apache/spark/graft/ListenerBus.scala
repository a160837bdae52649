package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The one Spark internal the job-counting specs need: waiting until every
  * listener event posted so far has been delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
