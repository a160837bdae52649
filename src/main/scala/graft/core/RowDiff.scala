package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.canon.Canon

/** Row-level drill-down for a table that fingerprint modes flagged as
  * inconsistent — the extension the survey sketches in §7.6 ("row-level diff
  * drill-down via except/full-outer-join on PK"). The reference stops at
  * per-table disagreement; this answers "which rows" ([[diff]]) and "which
  * columns within them" ([[diffColumns]]).
  *
  * Both reports are projections of ONE full-outer PK join ([[joined]]) that
  * carries each side's row hash and canonical column texts; [[firstDiffs]]
  * takes the first rows of both from one query over that join, which is
  * what `--drill-down` prints.
  *
  * Scale: one shuffle join keyed on the PK. At 100 TB this is the
  * unavoidable expensive path (both sides repartition on pk); with
  * pk-bucketed storage the exchange disappears entirely, and AQE's skew-join
  * splitting covers hot keys. Row hashes and canonical texts are computed
  * *before* the join, so only (pk, 32-char hash, canonical strings) cross
  * the wire — the column texts only when the column report asks for them.
  */
object RowDiff {

  /** Rows differing between two versions of a table: status per PK —
    * `only_a` (missing in b), `only_b` (missing in a), `differs` (same PK,
    * different row hash).
    */
  def diff(a: DataFrame, b: DataFrame, spec: TableSpec,
           cfg: VerifyConfig = VerifyConfig()): DataFrame =
    joined(a, b, spec, cfg, Nil).filter(rowDiffers)
      .select(spec.pks.map(col) :+ status.as("status"): _*)
      .orderBy(spec.pks.map(col): _*)

  /** Column-level attribution for the rows present on both sides: one row
    * per (pk, column) whose CANONICAL text disagrees between the two
    * versions — the drill-down after "which rows" is "which columns".
    * Canonical (not raw) comparison keeps attribution consistent with the
    * row hash: a change the hash cannot see (e.g. a timestamp moving within
    * the truncation window) is correctly not attributed. Rows present on
    * only one side carry no column story and stay with [[diff]]'s
    * `only_a`/`only_b`. Column names are side a's hashable non-PK columns,
    * each resolved against each side's own physical case.
    *
    * Scale: the same PK-keyed join as [[diff]], but carrying one canonical
    * string per column instead of one row hash — the wire cost is the
    * drill-down's price, which is why this runs on flagged tables (or
    * flagged Merkle buckets), not everywhere.
    */
  def diffColumns(a: DataFrame, b: DataFrame, spec: TableSpec,
                  cfg: VerifyConfig = VerifyConfig()): DataFrame = {
    val cols = comparedColumns(a, spec)
    joined(a, b, spec, cfg, cols).filter(bothSides)
      .select(spec.pks.map(col) :+
        explode(array(cols.map(c => when(differs(c), lit(c))): _*)).as("column_name"): _*)
      .filter(col("column_name").isNotNull)
      .orderBy(spec.pks.map(col) :+ col("column_name"): _*)
  }

  /** The first `limit` rows of [[diff]] and the first `limit` (pk, column)
    * pairs of [[diffColumns]], from ONE query over ONE join: every joined
    * row expands into its report records — a row record (its status) when
    * its hashes disagree, a column record per canonical disagreement when
    * both sides hold it — and each report keeps its first `limit` records
    * in its own order (a top-`limit` per report, no global sort). Both
    * reports read the same records, so the join's two shuffles run once.
    * Returns the two reports on the driver, in order, as `(pk…, status)`
    * and `(pk…, column_name)` rows.
    */
  def firstDiffs(a: DataFrame, b: DataFrame, spec: TableSpec, cfg: VerifyConfig,
                 limit: Int): (Seq[Row], Seq[Row]) = {
    val cols = comparedColumns(a, spec)
    val pks = spec.pks.map(col)
    def record(report: Int, detail: Column) =
      struct(lit(report).as("report"), detail.as("detail"))
    // explode the whole array and drop its null slots after: `array_compact`
    // is a lambda function, which has no generated code and would push the
    // Generate into interpreted evaluation
    val records = joined(a, b, spec, cfg, cols)
      .select(pks :+ explode(array(
        when(rowDiffers, record(0, status)) +:
          cols.map(c => when(bothSides && differs(c), record(1, lit(c)))): _*)).as("r"): _*)
      .filter(col("r").isNotNull)
      .select(pks :+ col("r.report").as("report") :+ col("r.detail").as("detail"): _*)
    def first(report: Int, order: Seq[Column]) =
      records.filter(col("report") === report).orderBy(order: _*).limit(limit)
    val got = first(0, pks).union(first(1, pks :+ col("detail"))).collect()
    val tag = spec.pks.length
    def report(r: Int) =
      got.iterator.filter(_.getInt(tag) == r).map(x => Row.fromSeq(x.toSeq.patch(tag, Nil, 1))).toSeq
    (report(0), report(1))
  }

  /** The full-outer PK join both reports project. Each side contributes its
    * PK columns (aliased to the spec's names), its row hash (`h_a` / `h_b`:
    * never null on a present row, so a null marks the absent side) and the
    * canonical text of each of `columns` (`<c>__a` / `<c>__b`). Names
    * resolve against each side's own physical case: heterogeneous targets
    * render the same column as N_NAME (Derby) and n_name (parquet/PG), and
    * an exact-case lookup would throw on one side.
    */
  private def joined(a: DataFrame, b: DataFrame, spec: TableSpec, cfg: VerifyConfig,
                     columns: Seq[String]): DataFrame = {
    def side(df: DataFrame, suffix: String) = {
      def phys(name: String) =
        df.schema.fields.find(_.name.equalsIgnoreCase(name))
          .getOrElse(throw new IllegalArgumentException(
            s"column $name missing from ${df.schema.fieldNames.mkString(",")}"))
      df.select(spec.pks.map(p => col(phys(p).name).as(p)) ++
        (Canon.rowHash(df.schema, Fingerprints.hashableColumns(df, spec), cfg.tsPrecision,
          spec.jsonColumns).as(s"h_$suffix") +:
        columns.map { c =>
          val f = phys(c)
          val canon =
            if (spec.jsonColumns.exists(_.equalsIgnoreCase(c))) coalesce(Canon.canonJson(col(f.name)), lit(""))
            else Canon.canonCol(col(f.name), f.dataType, cfg.tsPrecision)
          canon.as(s"${c}__$suffix")
        }): _*)
    }
    side(a, "a").join(side(b, "b"), spec.pks, "full_outer")
  }

  /** Side a's hashable non-PK columns, in hash order. */
  private def comparedColumns(a: DataFrame, spec: TableSpec): Seq[String] =
    Canon.hashColumnOrder(Fingerprints.hashableColumns(a, spec)
      .filterNot(c => spec.pks.exists(_.equalsIgnoreCase(c))))

  private def bothSides: Column = col("h_a").isNotNull && col("h_b").isNotNull
  private def rowDiffers: Column = col("h_a").isNull || col("h_b").isNull || col("h_a") =!= col("h_b")
  private def status: Column =
    when(col("h_b").isNull, "only_a").when(col("h_a").isNull, "only_b").otherwise("differs")
  private def differs(c: String): Column = col(s"${c}__a") =!= col(s"${c}__b")

  /** Bucket-scoped row diff — the drill-down behind incremental Merkle
    * re-verification: restrict both sides to the buckets
    * [[Fingerprints.merkleChangedBuckets]] flagged (same MD5-derived bucket
    * id as the snapshot vectors) before the PK join. Every differing row
    * lives in a flipped bucket BY CONSTRUCTION (its (k, h) feeds that
    * bucket's digest), so the scoped diff equals the full diff while the
    * join shuffles only |changed|/buckets of each side — the whole point of
    * persisting bucket vectors between nightly runs.
    */
  def diffInBuckets(a: DataFrame, b: DataFrame, spec: TableSpec,
                    changedBuckets: Seq[Long], buckets: Int,
                    cfg: VerifyConfig = VerifyConfig()): DataFrame = {
    def scoped(df: DataFrame) = {
      // resolve PK names against THIS side's physical case (same rule as
      // [[diffColumns]]): Canon's column map is exact-case
      val pks = spec.pks.map(p =>
        df.schema.fieldNames.find(_.equalsIgnoreCase(p)).getOrElse(p))
      val k = Canon.pkSortKey(df.schema, pks, cfg.hashPrimaryKeys, cfg.tsPrecision)
      df.filter(graft.functions.GraftFunctions.md5Bucket(k, buckets)
        .isin(changedBuckets: _*))
    }
    diff(scoped(a), scoped(b), spec, cfg)
  }

  /** DuckDB twin of [[diffInBuckets]]: the changed-bucket set computes ONCE
    * as a CTE and scopes both sides with the shared bucket-id formula.
    */
  def duckBucketsSql(table: String, spec: TableSpec, aSql: String, bSql: String,
                     changedBucketsSql: String, buckets: Int,
                     cfg: VerifyConfig = VerifyConfig()): String = {
    val schema = OracleSql.schemas(table)
    val k = Canon.duckPkSortKey(schema, spec.pks, cfg.hashPrimaryKeys, cfg.tsPrecision)
    def scoped(src: String) =
      s"""(SELECT * FROM $src AS s
          WHERE ${OracleSql.duckMd5Bucket(k, buckets)} IN (SELECT bucket FROM chg))"""
    s"WITH chg AS ($changedBucketsSql) ${duckSql(table, spec, scoped(aSql), scoped(bSql), cfg)}"
  }

  /** DuckDB twin of [[diffColumns]]: an unpivot-style per-column compare,
    * one UNION ALL branch per hashable non-PK column.
    */
  def duckColumnsSql(table: String, spec: TableSpec, aSql: String, bSql: String,
                     cfg: VerifyConfig = VerifyConfig()): String = {
    val schema = OracleSql.schemas(table)
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = Canon.hashColumnOrder(schema.fieldNames.filter(spec.validColumn).toSeq
      .filterNot(c => spec.pks.exists(_.equalsIgnoreCase(c))))
    val pkList = spec.pks.map(p => s""""$p"""").mkString(", ")
    val joinOn = spec.pks.map(p => s"""a."$p" = b."$p"""").mkString(" AND ")
    val pkOut = spec.pks.map(p => s"""a."$p" AS "$p"""").mkString(", ")
    val branches = cols.map { c =>
      val v =
        if (spec.jsonColumns.exists(_.equalsIgnoreCase(c))) Canon.duckJsonSql(c)
        else Canon.duckSql(c, byName(c), cfg.tsPrecision)
      s"""SELECT $pkOut, '$c' AS column_name
         FROM (SELECT $pkList, $v AS v FROM $aSql AS src) a
         JOIN (SELECT $pkList, $v AS v FROM $bSql AS src) b ON $joinOn
         WHERE a.v <> b.v"""
    }
    s"SELECT * FROM (${branches.mkString(" UNION ALL ")}) AS u " +
      s"ORDER BY ${spec.pks.map(p => s""""$p"""").mkString(", ")}, column_name"
  }

  /** DuckDB twin of [[diff]] over `table` with per-side WHERE/perturbation
    * subqueries (full table when empty).
    */
  def duckSql(table: String, spec: TableSpec, aSql: String, bSql: String,
              cfg: VerifyConfig = VerifyConfig()): String = {
    val schema = OracleSql.schemas(table)
    val cols = schema.fieldNames.filter(spec.validColumn).toSeq
    val h = Canon.duckRowHash(schema, cols, cfg.tsPrecision, spec.jsonColumns)
    val pkList = spec.pks.map(p => s""""$p"""").mkString(", ")
    val pkOut = spec.pks.map(p => s"""coalesce(a."$p", b."$p") AS "$p"""").mkString(", ")
    val joinOn = spec.pks.map(p => s"""a."$p" = b."$p"""").mkString(" AND ")
    s"""SELECT $pkOut,
       CASE WHEN b.h IS NULL THEN 'only_a' WHEN a.h IS NULL THEN 'only_b' ELSE 'differs' END AS status
       FROM (SELECT $pkList, $h AS h FROM $aSql) a
       FULL OUTER JOIN (SELECT $pkList, $h AS h FROM $bSql) b ON $joinOn
       WHERE a.h IS NULL OR b.h IS NULL OR a.h <> b.h
       ORDER BY ${spec.pks.map(p => s"coalesce(a.\"$p\", b.\"$p\")").mkString(", ")}"""
  }
}
