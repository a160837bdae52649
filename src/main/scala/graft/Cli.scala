package graft

import java.io.Writer

import org.apache.spark.sql.SparkSession

import graft.core._

/** Parsed CLI flags — field-for-field the reference's flag surface
  * (/root/reference/cmd/pgverify/cmd.go:24-47) with its defaults
  * (/root/reference/config.go:83-98).
  */
case class CliConfig(
    aliases: Seq[String] = Nil,
    bookendLimit: Int = 1000,
    drillDown: Boolean = false,
    excludeColumns: Seq[String] = Nil,
    excludeSchemas: Seq[String] = Nil,
    excludeTables: Seq[String] = Nil,
    hashPrimaryKeys: Boolean = false,
    includeColumns: Seq[String] = Nil,
    includeSchemas: Seq[String] = Nil,
    includeTables: Seq[String] = Nil,
    level: String = "info",
    merkleBuckets: Int = 1024,
    merkleSnapshots: String = "",
    parquetSchema: String = VerifyRun.SchemaName,
    profile: Boolean = false,
    sparseMod: Int = 10,
    tests: Seq[String] = Seq(TestModes.Full),
    tzPrecision: String = "milliseconds",
    targets: Seq[String] = Nil) {

  def verifyConfig: VerifyConfig = VerifyConfig(
    modes = tests, tsPrecision = tzPrecision, hashPrimaryKeys = hashPrimaryKeys,
    bookendLimit = bookendLimit, sparseMod = sparseMod, merkleBuckets = merkleBuckets)
}

/** Flag parser + help text, the analogue of the reference's cobra command
  * (/root/reference/cmd/pgverify/cmd.go) locked by the same kind of golden
  * help test (/root/reference/cmd/pgverify/cmd_test.go:13-46).
  */
object Cli {

  val helpText: String =
    """Verify data consistency between Spark-readable targets.
      |
      |Usage:
      |  graft [flags] target...
      |
      |A target is a directory of <table>.parquet files, a directory of
      |<table>.csv or <table>.json export dumps (with optional
      |<table>.schema.json sidecars), a jdbc: URL, or pg:<conninfo> for a
      |live PostgreSQL reached through the psql client.
      |
      |Flags:
      |      --aliases strings           alias names for the supplied targets (comma separated)
      |      --bookend-limit int         only check the first and last N rows (with --tests=bookend) (default 1000)
      |      --drill-down                on mismatch, also report which rows differ and which columns within them (first 20 rows per table); 3+ targets diff each dissenter against a majority-fingerprint reference
      |      --exclude-columns strings   column names to skip verification, ignored if '--include-columns' used (comma separated)
      |      --exclude-schemas strings   schemas to skip verification, ignored if '--include-schemas' used (comma separated)
      |      --exclude-tables strings    tables to skip verification, ignored if '--include-tables' used (comma separated)
      |      --hash-primary-keys         hash primary key values before comparing them (useful for TEXT primary keys)
      |  -h, --help                      help for graft
      |      --include-columns strings   columns to explicitly verify (comma separated, defaults to all)
      |      --include-schemas strings   schemas to verify (comma separated, defaults to all)
      |      --include-tables strings    tables to verify (comma separated, defaults to all)
      |      --level string              logging level (default "info")
      |      --merkle-buckets int        bucket count for --merkle-snapshots vectors; must stay constant across runs of one snapshot dir (default 1024)
      |      --merkle-snapshots string   incremental re-verification: diff each table's Merkle bucket vector against the previous run's snapshot under this directory, report drifted buckets, then refresh the snapshot
      |      --parquet-schema string     schema name parquet targets present as, for pairing with a live engine's schema (default "main")
      |      --profile                   on mismatch, also print a per-column profile (rows/nulls/exact distincts/modal value over the canonical projection) of each target's copy of every inconsistent table
      |      --sparse-mod int            only check every Nth row (with --tests=sparse) (default 10)
      |  -t, --tests strings             tests to use for verification (comma separated, options: full,bookend,sparse,rowcount,stats) (default [full])
      |      --tz-precision string       precision level to use when comparing timestamps (default "milliseconds")
      |""".stripMargin

  /** Right(config) on success; Left(message) for --help or a parse error.
    * `--flag=value` splits before matching (the reference's cobra parser
    * accepts both spellings); unknown `-`-prefixed tokens are rejected rather
    * than silently treated as targets; numeric flags fail with a usage error,
    * not a NumberFormatException stack trace.
    */
  def parse(args: Seq[String]): Either[String, CliConfig] = {
    def csv(v: String): Seq[String] = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val split = args.toList.flatMap { a =>
      if (a.startsWith("--") && a.contains("=")) { val Array(f, v) = a.split("=", 2); List(f, v) }
      else List(a)
    }
    def int(flag: String, value: String)(set: Int => CliConfig): Either[String, CliConfig] =
      value.toIntOption.toRight(s"""invalid argument "$value" for $flag: not an integer\n\n$helpText""")
        .map(set)
    def loop(rest: List[String], acc: CliConfig): Either[String, CliConfig] = rest match {
      case Nil => Right(acc)
      case ("-h" | "--help") :: _ => Left(helpText)
      case "--hash-primary-keys" :: tail => loop(tail, acc.copy(hashPrimaryKeys = true))
      case "--drill-down" :: tail => loop(tail, acc.copy(drillDown = true))
      case "--profile" :: tail => loop(tail, acc.copy(profile = true))
      case flag :: value :: tail if flag.startsWith("--") || flag == "-t" =>
        flag match {
          case "--aliases"         => loop(tail, acc.copy(aliases = csv(value)))
          case "--bookend-limit"   => int(flag, value)(n => acc.copy(bookendLimit = n)).flatMap(loop(tail, _))
          case "--exclude-columns" => loop(tail, acc.copy(excludeColumns = csv(value)))
          case "--exclude-schemas" => loop(tail, acc.copy(excludeSchemas = csv(value)))
          case "--exclude-tables"  => loop(tail, acc.copy(excludeTables = csv(value)))
          case "--include-columns" => loop(tail, acc.copy(includeColumns = csv(value)))
          case "--include-schemas" => loop(tail, acc.copy(includeSchemas = csv(value)))
          case "--include-tables"  => loop(tail, acc.copy(includeTables = csv(value)))
          case "--level"           => loop(tail, acc.copy(level = value))
          case "--merkle-buckets"  => int(flag, value)(n => acc.copy(merkleBuckets = n)).flatMap(loop(tail, _))
          case "--merkle-snapshots" => loop(tail, acc.copy(merkleSnapshots = value))
          case "--parquet-schema"  => loop(tail, acc.copy(parquetSchema = value))
          case "--sparse-mod"      => int(flag, value)(n => acc.copy(sparseMod = n)).flatMap(loop(tail, _))
          case "--tests" | "-t"    => loop(tail, acc.copy(tests = csv(value)))
          case "--tz-precision"    => loop(tail, acc.copy(tzPrecision = value))
          case other               => Left(s"unknown flag: $other\n\n$helpText")
        }
      case flag :: Nil if flag.startsWith("--") || flag == "-t" =>
        Left(s"flag needs an argument: $flag\n\n$helpText")
      case flag :: _ if flag.startsWith("-") && flag != "-" =>
        Left(s"unknown flag: $flag\n\n$helpText")
      case target :: tail => loop(tail, acc.copy(targets = acc.targets :+ target))
    }
    loop(split, CliConfig()).flatMap { c =>
      val badModes = c.tests.filterNot(TestModes.All.contains)
      if (c.targets.isEmpty)
        Left(s"requires at least 1 arg(s), received 0; see 'graft --help' for more information")
      else if (badModes.nonEmpty)
        Left(s"invalid test modes: ${badModes.mkString(",")} (options: ${TestModes.All.sorted.mkString(",")})")
      else if (!graft.canon.Canon.precisionMicros.contains(c.tzPrecision)
          && !graft.canon.Canon.calendarUnits.contains(c.tzPrecision))
        Left(s"invalid --tz-precision: ${c.tzPrecision} " +
          s"(options: ${graft.canon.Canon.supportedPrecisions.mkString(",")})")
      else if (c.merkleBuckets <= 0)
        Left(s"invalid --merkle-buckets: ${c.merkleBuckets} (must be positive)")
      else Right(c)
    }
  }

  /** Display names: aliases when the count matches the target count, else the
    * URI-derived name — /root/reference/config.go:188-194 (X5).
    */
  def targetNames(uris: Seq[String], aliases: Seq[String]): Seq[String] =
    if (aliases.length == uris.length) aliases
    else uris.map(u => u.stripSuffix("/").split("/").last)

  private def buildTargets(cfg: CliConfig): Seq[Target] =
    cfg.targets.zip(targetNames(cfg.targets, cfg.aliases)).map {
      case (uri, name) if uri.startsWith("jdbc:") => JdbcTarget(name, uri)
      // live PostgreSQL through the psql client (no JDBC driver needed):
      // pg:<libpq conninfo or URI>
      case (uri, name) if uri.startsWith("pg:") => PsqlTarget(name, uri.stripPrefix("pg:"))
      case (dir, name) => graft.core.FileTarget.detectFormat(dir) match {
        // a dir of csv/json dumps (no parquet present) verifies as an
        // export target; parquet stays the primary kind
        case Some(fmt) => graft.core.FileTarget(name, dir, fmt,
          schemaName = cfg.parquetSchema)
        case None => ParquetTarget(name, dir, schemaName = cfg.parquetSchema)
      }
    }

  /** Table include/exclude (P4) on the bare table name, schema-qualified or
    * not, include-wins, case-insensitive (users type `verifyme`; Derby's
    * catalog says `VERIFYME`).
    */
  private def tableWanted(cfg: CliConfig, fullName: String): Boolean = {
    val table = fullName.split("\\.", 2).last
    if (cfg.includeTables.nonEmpty) cfg.includeTables.exists(_.equalsIgnoreCase(table))
    else !cfg.excludeTables.exists(_.equalsIgnoreCase(table))
  }

  /** Per-target work for one discovered table: PKs discovered (JDBC, S2+J1)
    * or taken from the fixture catalog (parquet has no PK metadata), in either
    * case ALIGNED TO THIS TARGET's physical column case — the analogue of the
    * reference discovering columns per connection
    * (/root/reference/verify.go:146-198). Tables with no PK drop out (P8).
    * This is the run's one read of the table: the work carries the frame.
    */
  private def buildWork(spark: SparkSession, target: Target, fullName: String,
                        cfg: CliConfig): Option[VerifyRun.TableWork] = {
    val (schema, table) = VerifyRun.splitName(fullName)
    val df = target.read(spark, fullName)
    val fields = df.schema.fieldNames
    val catalogPks: Seq[String] = target match {
      case j: JdbcTarget =>
        j.discoverColumns(spark, schema, table).filter(_.isPrimaryKey).map(_.name).sorted
      case p: PsqlTarget =>
        p.discoverColumns(schema, table).collect { case (m, _) if m.isPrimaryKey => m.name }.sorted
      case _ => Fixtures.specs.get(table).map(_.pks).getOrElse(Nil)
    }
    // json/jsonb columns take the P1 length proxy: discovered live for PG
    // targets, from the fixture catalog otherwise
    val jsonCols = target match {
      case p: PsqlTarget => p.jsonColumns(schema, table)
      case _ => Fixtures.specs.get(table).map(_.jsonColumns).getOrElse(Set.empty)
    }
    // align catalog-case PK names to the physical result-set case
    // (Derby uppercases unquoted identifiers; PG lowercases them)
    val pks = catalogPks.flatMap(p => fields.find(_.equalsIgnoreCase(p)))
    if (pks.isEmpty) None
    else Some(VerifyRun.TableWork(schema, table, fullName,
      TableSpec(table, pks, cfg.includeColumns, cfg.excludeColumns,
        jsonColumns = jsonCols), df))
  }

  /** Discovery for every target (S6 fail-fast: all of it precedes any
    * fingerprint work), then the tables' reads and PK binding
    * ([[buildWork]]) concurrently — each read resolves a schema, and a
    * file target's resolution is a Spark job of its own.
    */
  private def planTargets(spark: SparkSession, cfg: CliConfig,
                          targets: Seq[Target]): Seq[(Target, Seq[VerifyRun.TableWork])] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val schemas = SchemaFilter(cfg.includeSchemas, cfg.excludeSchemas)
    val names = targets.map(t => t -> VerifyRun.discoverTables(spark, t, schemas).filter(tableWanted(cfg, _)))
    val works = Future.traverse(names) { case (t, ns) =>
      Future.traverse(ns)(n => Future(buildWork(spark, t, n, cfg))).map(ws => t -> ws.flatten)
    }
    Await.result(works, scala.concurrent.duration.Duration.Inf)
  }

  /** A `pg:` target stages each table it reads on local disk; the run that
    * read them deletes the staging once it has finished with the frames.
    */
  private def dropStaging(targets: Seq[Target]): Unit =
    targets.foreach { case p: PsqlTarget => p.dropStaging(); case _ => }

  /** Full CLI run: discover PER TARGET (tables, PKs, column casing — each
    * target binds its own catalog), fan out, render the ASCII report, and
    * return the process exit code (1 when any inconsistency exists — the
    * analogue of the reference's CheckForErrors,
    * /root/reference/verify.go:80-87). Schema filters apply at discovery
    * (/root/reference/query.go:25-50).
    */
  def run(spark: SparkSession, cfg: CliConfig, out: Writer): Int = {
    if (cfg.merkleSnapshots.nonEmpty) return runIncremental(spark, cfg, out)
    val targets = buildTargets(cfg)
    val vcfg = cfg.verifyConfig
    try {
      val plans = planTargets(spark, cfg, targets)
      val results = VerifyRun.runPerTarget(spark, plans, vcfg)
      VerifyRun.renderAsciiTable(VerifyRun.pivotReport(results, vcfg.modes), vcfg.modes, out)
      val bad = VerifyRun.inconsistencies(results, targets.size)
      if (cfg.drillDown) drillDown(spark, cfg, plans, results, bad, out)
      if (cfg.profile) profileTables(spark, cfg, plans, bad, out)
      if (bad.isEmpty) 0 else 1
    } finally dropStaging(targets)
  }

  /** Inconsistent (schema, table) keys, lowercased by A3. */
  private def badTables(bad: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    bad.select("schema", "table").collect().map(r => (r.getString(0), r.getString(1))).toSet

  /** `--drill-down`: for each inconsistent table, report which rows differ
    * ([[RowDiff.diff]]) and which columns within the rows present on both
    * sides ([[RowDiff.diffColumns]]), capped at 20 rendered rows per table;
    * both reports come from one query over one PK join
    * ([[RowDiff.firstDiffs]]).
    * Spark's default case-insensitive resolution lines the join up across
    * heterogeneous identifier casing (Derby `ID` vs parquet `id`).
    *
    * Two targets diff directly (a vs b). Three or more pick a REFERENCE per
    * table — a holder of the modal mode-output vector, ties broken to the
    * lexicographically smallest target name so the choice is deterministic —
    * and each dissenting target diffs against it: the way a fleet mismatch
    * is actually triaged (find the odd ones out relative to the quorum), and
    * N-1 diffs instead of the N² of all-pairs. Each diff reuses the frames
    * the fingerprint run read, and the tables' diffs run concurrently.
    */
  private def drillDown(spark: SparkSession, cfg: CliConfig,
                        plans: Seq[(Target, Seq[VerifyRun.TableWork])],
                        results: org.apache.spark.sql.DataFrame,
                        bad: org.apache.spark.sql.DataFrame, out: Writer): Unit = {
    val badTables = this.badTables(bad)
    if (badTables.isEmpty) return
    if (plans.length < 2) {
      out.write(s"drill-down: skipped (${plans.length} targets; needs at least 2)\n")
      out.flush(); return
    }
    def workOf(plan: (Target, Seq[VerifyRun.TableWork]), schema: String, table: String) =
      // match on (schema, table): a bare-name match could pair APP.EXTRA
      // with an unrelated OTHER.EXTRA when both schemas carry the name
      plan._2.find(w => w.table.equalsIgnoreCase(table) && w.schema.equalsIgnoreCase(schema))
    // contained per table like the fingerprint run (X3): a drill-down that
    // cannot be built (e.g. PK column absent on one side) notes the reason
    // instead of aborting the run after the report already printed
    def diffPair(ta: Target, wa: VerifyRun.TableWork, tb: Target,
                 wb: VerifyRun.TableWork, labels: String)(out: Writer): Unit =
      scala.util.Try {
        val (rows, cols) = RowDiff.firstDiffs(wa.df, wb.df, wa.spec, cfg.verifyConfig, 20)
        out.write(s"\ndrill-down rows: ${wa.schema}.${wa.table} ($labels, first 20)\n")
        VerifyRun.renderRows(wa.spec.pks :+ "status", rows, out)
        out.write(s"drill-down columns: ${wa.schema}.${wa.table} (first 20)\n")
        VerifyRun.renderRows(wa.spec.pks :+ "column_name", cols, out)
      }.recover { case e =>
        out.write(s"\ndrill-down: ${wa.schema}.${wa.table} failed: ${e.getMessage}\n")
      }

    // one section per inconsistent table, in table order
    val sections: Seq[Writer => Unit] = if (plans.length == 2) {
      val Seq((ta, worksA), planB @ (tb, _)) = plans
      for {
        wa <- worksA.sortBy(_.table)
        if badTables.contains((wa.schema.toLowerCase, wa.table.toLowerCase))
        wb <- workOf(planB, wa.schema, wa.table)
      } yield diffPair(ta, wa, tb, wb, s"a=${ta.name}, b=${tb.name}") _
    } else {
      // per (table, target) mode-output vector, driver-side: the report is
      // rows × modes × targets — always tiny (A5's own collect shape)
      val vectors = results.collect()
        .map(r => ((r.getString(1).toLowerCase, r.getString(2).toLowerCase),
          r.getString(0), r.getString(3), r.getString(4))) // (key, target, mode, output)
        .groupBy(_._1)
        .map { case (key, rows) =>
          key -> rows.groupBy(_._2).map { case (t, rs) =>
            t -> rs.sortBy(_._3).map(_._4).toSeq
          }
        }
      val byName = plans.map(p => p._1.name -> p).toMap
      for (key @ (schema, table) <- badTables.toSeq.sorted;
           perTarget <- vectors.get(key).toSeq) yield { (out: Writer) =>
        val quorum = perTarget.groupBy(_._2).values
          .maxBy(g => (g.size, g.keys.min))(
            Ordering.Tuple2(Ordering.Int, Ordering.String.reverse))
        val refName = quorum.keys.min
        val dissenters = perTarget.keys.filterNot(quorum.contains).toSeq.sorted
        out.write(s"\ndrill-down: $schema.$table reference=$refName " +
          s"(agreeing ${quorum.size}/${perTarget.size})\n")
        for {
          (refTarget, refPlan) <- byName.get(refName).map(p => (p._1, p)).toSeq
          refWork <- workOf(refPlan, schema, table).toSeq
          d <- dissenters
          (dt, dPlan) <- byName.get(d).map(p => (p._1, p)).toSeq
          dw <- workOf(dPlan, schema, table)
        } diffPair(refTarget, refWork, dt, dw, s"ref=${refTarget.name}, dissenter=${dt.name}")(out)
      }
    }
    // the sections' diffs run concurrently, each rendering into its own
    // buffer; the buffers print in order
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    sections.map { section =>
      Future { val buf = new java.io.StringWriter; section(buf); buf.toString }
    }.foreach(f => out.write(Await.result(f, scala.concurrent.duration.Duration.Inf)))
    out.flush()
  }

  /** `--profile`: for each inconsistent table, print every target's
    * per-column profile ([[graft.core.Profile]]) — the "what does the data
    * actually look like" triage step after the row/column diffs: a null
    * burst, a collapsed distinct count, or a shifted modal value names the
    * upstream fault (lost partition, default-filled column, double-load)
    * faster than row-level diffs can. Columns respect the run's
    * include/exclude filters; failures are contained per table like the
    * fingerprint run (X3).
    */
  private def profileTables(spark: SparkSession, cfg: CliConfig,
                            plans: Seq[(Target, Seq[VerifyRun.TableWork])],
                            bad: org.apache.spark.sql.DataFrame, out: Writer): Unit = {
    val badTables = this.badTables(bad)
    if (badTables.isEmpty) return
    for {
      (target, works) <- plans
      w <- works.sortBy(_.table)
      if badTables.contains((w.schema.toLowerCase, w.table.toLowerCase))
    } scala.util.Try {
      val df = w.df
      val cols = df.schema.fieldNames.filter(w.spec.validColumn).toSeq
      val prof = graft.core.Profile.profile(df, df.schema, cols,
        cfg.verifyConfig.tsPrecision).orderBy("col_name")
      out.write(s"\nprofile: ${w.schema}.${w.table} (target=${target.name})\n")
      VerifyRun.renderTable(prof, prof.columns.toSeq, out)
    }.recover { case e =>
      out.write(s"\nprofile: ${w.schema}.${w.table} (target=${target.name}) " +
        s"failed: ${e.getMessage}\n")
    }
    out.flush()
  }

  /** Incremental re-verification (`--merkle-snapshots`): per target × table,
    * diff the current Merkle bucket vector against the previous run's
    * persisted snapshot, report drifted buckets, refresh the snapshot. The
    * nightly-verify shape — unchanged tables cost one bucket-vector compare
    * (`--merkle-buckets` rows), and only drifted buckets need the RowDiff
    * drill-down. First sight of a table writes its baseline. Exit 1 when any
    * table drifted.
    */
  def runIncremental(spark: SparkSession, cfg: CliConfig, out: Writer): Int = {
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val targets = buildTargets(cfg)
    // snapshot paths are keyed by target name: two targets sharing a name
    // would race read-vs-overwrite on the same parquet directory
    require(targets.map(_.name).distinct.length == targets.length,
      s"targets must have distinct names for --merkle-snapshots " +
        s"(got ${targets.map(_.name).mkString(", ")}); disambiguate with --aliases")
    val vcfg = cfg.verifyConfig
    // snapshots may live on any Hadoop-visible filesystem (hdfs://, s3a://)
    // — java.io.File would report them absent and re-baseline forever
    def snapshotExists(path: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    // discovery precedes all fingerprint work (S6 fail-fast), then the
    // shared per-target fan-out with per-table (err) containment — a failed
    // table reports instead of aborting siblings mid-snapshot-refresh
    try {
      val plans = planTargets(spark, cfg, targets)
      val rows = VerifyRun.fanOutPerTarget(plans) { (t, w) =>
        val snapDir = s"${cfg.merkleSnapshots}/${t.name}/${w.schema}.${w.table}"
        val curr = Fingerprints.merkleBucketDigests(
          w.df, w.spec, vcfg, cfg.merkleBuckets).persist()
        val (status, changed) =
          if (!snapshotExists(snapDir)) ("baselined", 0L)
          else {
            val n = Fingerprints.merkleChangedBuckets(
              Fingerprints.readMerkleSnapshot(spark, snapDir,
                expectBuckets = Some(cfg.merkleBuckets)), curr).count()
            (if (n == 0L) "verified" else "drifted", n)
          }
        // the diff count above is eager, so refreshing the snapshot the
        // diff just read from is safe; a table that failed above never
        // reaches this write, so its baseline cannot advance past
        // unreported drift
        Fingerprints.writeMerkleSnapshotVector(curr, cfg.merkleBuckets, snapDir)
        curr.unpersist(blocking = false)
        (t.name, w.schema, w.table, changed, status)
      } { (t, w) => (t.name, w.schema, w.table, 0L, Fingerprints.Err) }
      import spark.implicits._
      val report = rows.toDF("target", "schema", "table", "buckets_changed", "status")
        .orderBy("schema", "table", "target")
      VerifyRun.renderTable(report,
        Seq("schema", "table", "buckets_changed", "status", "target"), out)
      if (rows.forall(r => r._5 == "baselined" || r._5 == "verified")) 0 else 1
    } finally dropStaging(targets)
  }
}

/** `graft` CLI entry point — EP1 of the reference (/root/reference/main.go,
  * cmd.go:49-106): parse flags, build targets, verify, print the report.
  */
object Main {
  def main(args: Array[String]): Unit = {
    Cli.parse(args.toSeq) match {
      case Left(msg) =>
        println(msg)
        if (msg != Cli.helpText) sys.exit(2)
      case Right(cfg) =>
        val spark = Sessions.local("local[*]", 32)
        spark.sparkContext.setLogLevel(cfg.level match {
          case "debug" | "trace" => "INFO"
          case "warn" | "error"  => "ERROR"
          case _                 => "WARN"
        })
        val out = new java.io.OutputStreamWriter(System.out)
        val code = try Cli.run(spark, cfg, out) finally spark.stop()
        sys.exit(code)
    }
  }
}
