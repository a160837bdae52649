package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — one session per suite, built by
  * [[Sessions]] like every main, on 4 cores with 4 shuffle partitions.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Run `f` and return its value with the Spark jobs it started, each
    * named by its result stage (the job's call site, e.g.
    * `parquet at Targets.scala:230`).
    */
  def jobsOf[A](f: => A): (A, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBus.drain(sc)
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        names.add(e.stageInfos.maxBy(_.stageId).name)
    }
    sc.addSparkListener(listener)
    try {
      val a = f
      org.apache.spark.graft.ListenerBus.drain(sc)
      (a, scala.jdk.CollectionConverters.CollectionHasAsScala(names).asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.local("local[4]", 4)
}
