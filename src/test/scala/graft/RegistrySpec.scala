package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Registration-time guards over the FULL query registry.
  *
  * The driver's correctness gate hashes result cells through pandas: an
  * array/map/struct output column is unhashable there ("unhashable type:
  * numpy.ndarray") and turns the row into a permanent `err` — the query
  * LOOKS registered but is never actually verified (the r8 sim_jl_project
  * failure shape). Guard the whole registry so the shape can't recur:
  * schemas are available from the lazy plan, so this touches every query's
  * ANALYSIS but executes none of them (fn bodies with eager driver-side
  * stages still run those stages, which is why this spec is the slowest
  * guard — it is still worth it).
  */
class RegistrySpec extends SparkSpec {

  test("every registered query emits only scalar (driver-hashable) columns") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val complex = fn(spark, sfDir).schema.fields.filter(f =>
          f.dataType match {
            case _: ArrayType | _: MapType | _: StructType => true
            case _ => false
          })
        spark.catalog.clearCache()
        if (complex.isEmpty) None
        else Some(s"$name -> ${complex.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}")
    }
    assert(offenders.isEmpty,
      s"array/map/struct output columns are unhashable in the driver's comparator:\n  ${offenders.mkString("\n  ")}")
  }

  test("every registered query has an oracle_sql entry (or is knowingly rows-only)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // queries without SQL-expressible semantics get a weaker rows-only check
    // from the driver; keep that set EXPLICIT so additions are deliberate
    val knownRowsOnly = Set.empty[String]
    assert((missing -- knownRowsOnly).isEmpty,
      s"queries missing an oracle: ${(missing -- knownRowsOnly).toSeq.sorted.mkString(", ")}")
  }

  test("query names are unique across modules; a duplicate fails, naming it") {
    val names = QueryRegistry.modules.flatMap(_.map(_._1))
    assert(names.distinct.size == names.size)
    assert(QueryRegistry.all.size == names.size)
    val e = intercept[IllegalArgumentException] {
      QueryRegistry.merge(Seq(QueryRegistry.modules.head, QueryRegistry.modules.head.take(1)))
    }
    assert(e.getMessage.contains(QueryRegistry.modules.head.head._1), e.getMessage)
  }

  test("a name repeated inside one module fails the merge, naming it") {
    val entry = QueryEntry((s, _) => s.emptyDataFrame)
    val e = intercept[IllegalArgumentException] {
      QueryRegistry.merge(Seq(Seq("dup_q" -> entry, "other_q" -> entry, "dup_q" -> entry)))
    }
    assert(e.getMessage.contains("dup_q"), e.getMessage)
    assert(!e.getMessage.contains("other_q"), e.getMessage)
  }
}
