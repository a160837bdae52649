package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The one Spark-internal the benchmark needs: waiting until every listener
  * event posted so far has been delivered, so a call's jobs and tasks are
  * all recorded before the harness reads them.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
