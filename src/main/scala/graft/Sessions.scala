package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession: every main and the spec suites
  * share the settings below, and each caller picks only its master and its
  * shuffle-partition count.
  *
  * Fixed settings: UTC session time zone, no UI, adaptive execution on, and
  * the two parquet timestamp settings the fixtures need — nanosecond
  * `TIMESTAMP(NANOS)` columns read as int64 (`nanosAsLong`; without it the
  * read fails with PARQUET_TYPE_ILLEGAL) and no TIMESTAMP_NTZ inference for
  * naive microsecond columns. [[graft.core.Readers.fixture]] turns either
  * encoding back into a session-zone timestamp.
  *
  * Spark's own `spark.master` (`-Dspark.master`, or spark-submit's
  * `--master`) overrides the caller's master.
  */
object Sessions {

  def local(master: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.props.getOrElse("spark.master", master))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
