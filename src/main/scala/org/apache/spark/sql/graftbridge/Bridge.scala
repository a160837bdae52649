package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge. Spark 4 made the classic
  * converters `private[sql]`, so this one-file shim lives under
  * `org.apache.spark.sql` to lift custom Catalyst expressions into the public
  * Column API — the supported extension route for native, codegen'd functions.
  * It also reaches the one `private[spark]` SparkContext call graft needs.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drop an RDD's blocks as `RDD.unpersist` does, without the warning that
    * call logs for a locally checkpointed RDD ("its lineage has been
    * truncated"): graft releases its checkpoints on purpose, once nothing
    * reads them.
    */
  def unpersistRDD(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
