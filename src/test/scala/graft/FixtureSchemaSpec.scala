package graft

import org.apache.spark.sql.types._

import graft.core.{Fixtures, OracleSql, Readers}

/** The static schemas baked into OracleSql (needed because oracleSql must be
  * computable without a SparkSession) must track the actual fixture parquet.
  * Spark reads parquet isAdjustedToUTC=false timestamps as TimestampNTZType;
  * canonicalization treats NTZ and LTZ identically under the pinned-UTC
  * session, so the comparison normalizes that.
  */
class FixtureSchemaSpec extends SparkSpec {

  private def normalize(dt: DataType): DataType = dt match {
    case TimestampNTZType => TimestampType
    case ArrayType(et, _) => ArrayType(normalize(et))
    case other => other
  }

  test("static oracle schemas match the fixture parquet") {
    for (t <- Fixtures.tableNames) {
      val actual = Readers.fixture(spark, sfDir, t).schema.fields
        .map(f => (f.name, normalize(f.dataType)))
      val declared = OracleSql.schemas(t).fields.map(f => (f.name, normalize(f.dataType)))
      assert(actual.toSeq == declared.toSeq, s"table $t")
    }
  }

  test("every fixture table has a declared primary key") {
    for (t <- Fixtures.tableNames) {
      val spec = Fixtures.specs(t)
      assert(spec.pks.nonEmpty, s"table $t")
      val cols = OracleSql.schemas(t).fieldNames.toSet
      assert(spec.pks.forall(cols.contains), s"table $t pks exist")
    }
  }

  test("every registered oracle query has matching column names in Spark") {
    // cheap static check: oracle SQL mentions each Spark output column name
    val entries = QueryRegistry.all
    for ((name, e) <- entries; sql <- e.oracle) {
      val out = e.fn(spark, sfDir)
      for (c <- out.columns)
        assert(sql.contains(c), s"$name: oracle sql missing output column $c")
    }
  }

  test("parquetRows counts the rows Spark reads back from a partitioned write") {
    import java.nio.file.{Files, StandardCopyOption}
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-parquet-rows").resolve("out")
    // a partition column whose directories start with `_` but hold `=`,
    // which Spark reads; then files Spark skips: a copy in flight and a
    // dot-file, both valid parquet
    (0 until 50).map(i => (i.toLong, i % 3)).toDF("id", "_p")
      .write.partitionBy("_p").parquet(dir.toString)
    val part = Files.list(dir.resolve("_p=0")).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    Files.copy(part, part.resolveSibling(part.getFileName.toString + "._COPYING_"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.copy(part, part.resolveSibling(".hidden.parquet"))
    val read = spark.read.parquet(dir.toString).count()
    assert(read == 50L)
    assert(Readers.parquetRows(spark, dir.toString) == read)
    assert(Readers.parquetRows(spark, part.toString) ==
      spark.read.parquet(part.toString).count())
  }
}
