package graft

/** Local stand-in for the driver's t1 smoke: run SparkEntry.entry and print
  * the row count + a preview. Usage: sbt "runMain graft.Smoke"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("local[4]", 4)
    val df = SparkEntry.entry(spark)
    df.show(30, truncate = false)
    println(s"entry rows: ${df.count()}")
    spark.stop()
  }
}
