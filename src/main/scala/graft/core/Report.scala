package graft.core

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One fingerprint cell, long/tidy form — the flattened analogue of the
  * reference's nested `SingleResult` maps (/root/reference/results.go:41-43).
  */
case class ResultRow(target: String, schema: String, table: String, mode: String, output: String)

/** The client-side dataflow of the reference re-hosted on Spark: per-target
  * parallel fan-out (X1), per-table/mode loop (X2), error containment (X3),
  * grouped merge (A3), consistency diff (A4), and the pivoted report (A5).
  */
object VerifyRun {

  /** Parquet targets have a single implicit schema. */
  val SchemaName = "main"

  /** `schema.table` catalog key → (schema, table); bare names (parquet) get
    * the implicit `main` schema — the reference keys results by the actual
    * (schema, table) pair (/root/reference/results.go:41-43).
    */
  def splitName(full: String): (String, String) = full.split("\\.", 2) match {
    case Array(s, t) => (s, t)
    case _ => (SchemaName, full)
  }

  /** One unit of per-target work: where the result rows are keyed (schema and
    * table in THIS target's physical catalog case), the name it was read by,
    * the PK/column spec bound against this target's own catalog — the
    * analogue of the reference discovering columns per connection
    * (verify.go:146-198) — and the table's frame, resolved
    * once at discovery. Fingerprinting, drill-down and profiling all reuse
    * `df`: one verify run reads (and, for a file target, infers the schema
    * of) each table exactly once.
    */
  case class TableWork(schema: String, table: String, readName: String, spec: TableSpec,
                       df: DataFrame)

  /** S6 fail-fast discovery: an unreachable or empty target aborts the whole
    * run before any fingerprint work (/root/reference/verify.go:33-61).
    */
  def discoverTables(spark: SparkSession, target: Target, schemas: SchemaFilter): Seq[String] =
    Try(target.tables(spark, schemas)) match {
      case Success(ts) if ts.nonEmpty => ts
      case Success(_) =>
        throw new IllegalStateException(s"target ${target.name} has no tables")
      case Failure(e) =>
        throw new IllegalStateException(s"target ${target.name} unreachable: ${e.getMessage}", e)
    }

  /** Generic fan-out with per-table error containment. The reference runs a
    * goroutine per TARGET (/root/reference/verify.go:66-77) and walks that
    * target's tables sequentially; here every (target, table) pair gets its
    * own `Future`, so Spark's scheduler interleaves ALL scans — with two
    * targets of two tables the wall time tends to the slowest single table,
    * not the slowest target's sum (measured ≈ 1 s off pv_inconsistency's
    * cold run at sf0.1 — the cold cost is dominated by per-plan codegen, so
    * the gain grows with tables per target). Concurrency is bounded by the
    * ExecutionContext (the default
    * global pool sizes to cores); a 1000-table catalog queues, it doesn't
    * oversubscribe. A failed table logs and degrades to `onError`'s row, the
    * run continues (X3) — shared by the fingerprint run and the
    * incremental-Merkle run so the fan-out and containment policy has one
    * authority.
    */
  def fanOutPerTarget[A](plans: Seq[(Target, Seq[TableWork])])(
      work: (Target, TableWork) => A)(onError: (Target, TableWork) => A)(
      implicit ec: ExecutionContext): Seq[A] = {
    val perPair = plans.flatMap { case (t, works) =>
      works.map { w =>
        Future {
          Try(work(t, w)) match {
            case Success(a) => a
            case Failure(e) =>
              System.err.println(s"[graft] ${t.name}/${w.readName} failed: ${e.getMessage}")
              onError(t, w)
          }
        }
      }
    }
    Await.result(Future.sequence(perPair), Duration.Inf)
  }

  /** Run every (target × table × mode) fingerprint over per-target plans;
    * failures leave the `(err)` sentinel
    * (/root/reference/verify.go:131,153-157).
    */
  def runPerTarget(spark: SparkSession, plans: Seq[(Target, Seq[TableWork])],
                   cfg: VerifyConfig)(
                   implicit ec: ExecutionContext = ExecutionContext.global): DataFrame = {
    val rows = fanOutPerTarget(plans) { (t, w) =>
      // all modes share one canonicalize+hash pass per table
      val outputs = Fingerprints.runModes(cfg.modes, w.df, w.spec, cfg)
      cfg.modes.map(mode => ResultRow(t.name, w.schema, w.table, mode, outputs(mode)))
    } { (t, w) =>
      cfg.modes.map(mode => ResultRow(t.name, w.schema, w.table, mode, Fingerprints.Err))
    }.flatten
    import spark.implicits._
    spark.createDataset(rows).toDF()
  }

  /** Shared-spec convenience run: every target verifies the same catalog of
    * table specs (the fixture-parquet shape). Tables without a PK spec are
    * skipped (/root/reference/verify.go:194-198); heterogeneous targets should
    * build per-target plans and call [[runPerTarget]] instead.
    */
  def run(spark: SparkSession, targets: Seq[Target], specs: Map[String, TableSpec],
          cfg: VerifyConfig, includeTables: Seq[String] = Nil)(
          implicit ec: ExecutionContext = ExecutionContext.global): DataFrame = {
    // match bare names case-insensitively, consistent with the A3 merge: an
    // uppercase catalog (Derby reports REGION) must hit a lowercase spec key
    val includeLc = includeTables.map(_.toLowerCase)
    val specsLc = specs.map { case (k, v) => k.toLowerCase -> v }
    val plans = targets.map { t =>
      t -> discoverTables(spark, t, SchemaFilter.All)
        .map(tb => (tb, splitName(tb)._2.toLowerCase)) // filters match the BARE
        .filter { case (_, bare) =>      // name, so a schema-qualified catalog works
          (includeLc.isEmpty || includeLc.contains(bare)) && specsLc.contains(bare)
        }
        .map { case (tb, bare) =>
          val (schema, table) = splitName(tb)
          TableWork(schema, table, tb, specsLc(bare), t.read(spark, tb))
        }
    }
    runPerTarget(spark, plans, cfg)
  }

  /** The report functions below (A3-A5) run on the driver: their input is
    * targets × tables × modes cells — the fan-out already collected them
    * into a local frame — so each is a few Scala collection operations, not
    * a Spark plan to optimize, compile and schedule. They still return
    * DataFrames, built on local data.
    */
  private def cells(results: DataFrame): Seq[ResultRow] =
    results.select("target", "schema", "table", "mode", "output").collect().toSeq
      .map(r => ResultRow(r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4)))

  /** Ascending, column by column. */
  private val rowOrder: Ordering[Seq[String]] = Ordering.Implicits.seqOrdering

  private def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private case class Merged(schema: String, table: String, mode: String, output: String,
                            targets: Seq[String])

  private def mergedCells(results: DataFrame): Seq[Merged] =
    cells(results)
      .groupBy(c => Seq(c.schema.toLowerCase, c.table.toLowerCase, c.mode, c.output))
      .toSeq.sortBy(_._1)(rowOrder)
      .map { case (k, cs) => Merged(k(0), k(1), k(2), k(3), cs.map(_.target).sorted) }

  /** A3: group cells by (schema, table, mode, output), collecting which
    * targets produced each output — the reference's mutex-guarded nested-map
    * insert (results.go:46-69). Schema/table keys are
    * lowercased: heterogeneous targets fold identifier case differently
    * (Derby `APP.VERIFYME` vs a quoted-lowercase `APP.verifyme`), and the
    * comparison must line those up as the same logical table rather than
    * report a spurious missing-table mismatch.
    */
  def merged(results: DataFrame): DataFrame =
    local(results.sparkSession,
      mergedCells(results).map(m => Row(m.schema, m.table, m.mode, m.output, m.targets)),
      StructType(Seq("schema", "table", "mode", "output").map(StructField(_, StringType)) :+
        StructField("targets", ArrayType(StringType, containsNull = false), nullable = false)))

  /** A4: the consistency diff (/root/reference/results.go:72-98). A cell fails
    * if targets disagree on the output, if some target is missing, or if any
    * output is the `(err)` sentinel.
    */
  def inconsistencies(results: DataFrame, nTargets: Int): DataFrame = {
    val rows = mergedCells(results)
      .groupBy(m => Seq(m.schema, m.table, m.mode)).toSeq.sortBy(_._1)(rowOrder)
      .flatMap { case (k, ms) =>
        val nOutputs = ms.size.toLong // one merged cell per distinct output
        val nReports = ms.map(_.targets.size).sum
        val hasErr = ms.exists(_.output == Fingerprints.Err)
        if (nOutputs > 1 || nReports != nTargets || hasErr)
          Some(Row(k(0), k(1), k(2), nOutputs, nReports, hasErr))
        else None
      }
    local(results.sparkSession, rows, StructType(
      Seq("schema", "table", "mode").map(StructField(_, StringType)) ++ Seq(
        StructField("n_outputs", LongType, nullable = false),
        StructField("n_reports", IntegerType),
        StructField("has_err", BooleanType))))
  }

  /** A5 + O4/O5: one row per (schema, table, target), one column per mode
    * (alphabetical), `(err)` filling gaps, lexicographic row order
    * (/root/reference/results.go:101-166).
    */
  def pivotReport(results: DataFrame, modes: Seq[String]): DataFrame = {
    val sortedModes = modes.sorted
    val rows = cells(results).groupBy(c => (c.schema, c.table, c.target)).toSeq
      .map { case ((schema, table, target), cs) =>
        Seq(schema, table, target) ++ sortedModes.map(m =>
          cs.find(_.mode == m).fold(Fingerprints.Err)(_.output))
      }
      .sorted(rowOrder)
    local(results.sparkSession, rows.map(Row.fromSeq),
      StructType((Seq("schema", "table", "target") ++ sortedModes).map(StructField(_, StringType))))
  }

  /** S5 report sink: render the pivot as an ASCII box table to `out` — the
    * analogue of the reference's tablewriter output
    * (/root/reference/results.go:101-166): header `schema, table, <modes
    * alphabetical>, target`, rows sorted lexicographically across ALL columns
    * in header order, uppercase header row. The report is one row per
    * (schema, table, target) — always tiny — so the driver-side collect is
    * the right shape.
    */
  def renderAsciiTable(pivot: DataFrame, modes: Seq[String], out: java.io.Writer): Unit =
    renderTable(pivot, Seq("schema", "table") ++ modes.sorted ++ Seq("target"), out)

  /** Generic box-table renderer over an explicit header — the report sink
    * shared by the mode pivot above and the incremental-Merkle drift report.
    */
  def renderTable(df: DataFrame, header: Seq[String], out: java.io.Writer): Unit =
    renderRows(header, df.select(header.map(col): _*).collect().toSeq, out)

  /** [[renderTable]] over rows already on the driver, fields in `header`
    * order.
    */
  def renderRows(header: Seq[String], collected: Seq[Row], out: java.io.Writer): Unit = {
    val rows = collected
      .map(r => header.indices.map(i => Option(r.get(i)).map(_.toString).getOrElse("")))
      .sortWith { (a, b) => // column-wise lexicographic, results.go:148-156
        a.indices.find(i => a(i) != b(i)).exists(i => a(i) < b(i))
      }
    val widths = header.indices.map { i =>
      (header(i).length +: rows.map(_(i).length)).max
    }
    def sep: String = widths.map("-" * (_: Int)).mkString("+-", "-+-", "-+\n")
    def line(cells: Seq[String]): String =
      cells.zip(widths).map { case (c, w) => c.padTo(w, ' ') }.mkString("| ", " | ", " |\n")
    out.write(sep)
    out.write(line(header.map(_.toUpperCase)))
    out.write(sep)
    rows.foreach(r => out.write(line(r)))
    out.write(sep)
    out.flush()
  }
}
