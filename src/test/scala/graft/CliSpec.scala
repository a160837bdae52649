package graft

import java.io.StringWriter

import graft.core.{ResultRow, TestModes, VerifyRun}

/** Locks the CLI flag surface with a golden help test (the analogue of
  * /root/reference/cmd/pgverify/cmd_test.go:13-46) and the ASCII report
  * renderer with a golden output test (results.go:101-166 parity), plus an
  * end-to-end CLI run over parquet targets.
  */
class CliSpec extends SparkSpec {

  private val expectedHelp =
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

  test("golden help output") {
    assert(Cli.parse(Seq("--help")) == Left(expectedHelp))
    assert(Cli.parse(Seq("-h", "whatever")) == Left(expectedHelp))
  }

  test("flag parsing mirrors the reference surface and defaults") {
    val parsed = Cli.parse(Seq(
      "--aliases", "a,b", "--tests", "full,sparse", "--bookend-limit", "5",
      "--sparse-mod", "7", "--hash-primary-keys", "--include-tables", "region,orders",
      "--exclude-columns", "o_comment", "--tz-precision", "seconds",
      "/data/x", "/data/y"))
    assert(parsed == Right(CliConfig(
      aliases = Seq("a", "b"), bookendLimit = 5, excludeColumns = Seq("o_comment"),
      hashPrimaryKeys = true, includeTables = Seq("region", "orders"),
      sparseMod = 7, tests = Seq("full", "sparse"), tzPrecision = "seconds",
      targets = Seq("/data/x", "/data/y"))))
    // defaults match config.go:83-98
    val dflt = Cli.parse(Seq("/data/z")).toOption.get
    assert(dflt.tests == Seq(TestModes.Full) && dflt.bookendLimit == 1000 &&
      dflt.sparseMod == 10 && dflt.tzPrecision == "milliseconds" && !dflt.hashPrimaryKeys)
    assert(Cli.parse(Nil).isLeft) // no targets
    assert(Cli.parse(Seq("--tests", "bogus", "/d")).isLeft) // mode whitelist
  }

  test("--drill-down names the differing rows and columns on a two-target mismatch") {
    // second target: region missing key 2, nation with one perturbed name
    val tmp = java.nio.file.Files.createTempDirectory("graft-drill").toString
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    graft.core.Readers.fixture(spark, sfDir, "region")
      .filter(col("r_regionkey") =!= 2).write.parquet(s"$tmp/region.parquet")
    graft.core.Readers.fixture(spark, sfDir, "nation")
      .withColumn("n_name", when(col("n_nationkey") === 3,
        concat(col("n_name"), lit("X"))).otherwise(col("n_name")))
      .write.parquet(s"$tmp/nation.parquet")
    val cfg = Cli.parse(Seq("--tests", "full", "--drill-down", "--profile",
      "--include-tables", "region,nation", "--aliases", "a,b", sfDir, tmp)).toOption.get
    val sw = new StringWriter()
    assert(Cli.run(spark, cfg, sw) == 1)
    val o = sw.toString
    assert(o.contains("drill-down rows: main.region") && o.contains("only_a"), o)
    assert(o.contains("drill-down columns: main.nation") && o.contains("n_name"), o)
    // the value-changed nation row is `differs`, attributed to exactly n_name
    assert(!o.contains("n_regionkey X") && o.contains("differs"), o)
    // --profile: both targets' copies of both bad tables profiled; the
    // perturbed target's region dropped key 2, so its n_rows differs and
    // the distinct count of the unique key tracks it
    assert(o.contains("profile: main.region (target=a)")
      && o.contains("profile: main.region (target=b)")
      && o.contains("profile: main.nation (target=b)"), o)
    assert(o.contains("r_regionkey") && o.contains("N_DISTINCT"), o)
  }

  test("--drill-down with three targets diffs the dissenter against the majority reference") {
    // two agreeing copies (the fixture itself twice) + one dissenter with a
    // row missing and a value perturbed — the reference must be a majority
    // holder and only the dissenter diffs against it
    val tmp = java.nio.file.Files.createTempDirectory("graft-drill3").toString
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    graft.core.Readers.fixture(spark, sfDir, "region")
      .filter(col("r_regionkey") =!= 2)
      .withColumn("r_name", when(col("r_regionkey") === 3,
        concat(col("r_name"), lit("X"))).otherwise(col("r_name")))
      .write.parquet(s"$tmp/region.parquet")
    val cfg = Cli.parse(Seq("--tests", "full", "--drill-down",
      "--include-tables", "region", "--aliases", "prod,replica,drifted",
      sfDir, sfDir, tmp)).toOption.get
    val sw = new StringWriter()
    assert(Cli.run(spark, cfg, sw) == 1)
    val o = sw.toString
    // the quorum is the two agreeing fixture reads; prod is the smallest name
    assert(o.contains("drill-down: main.region reference=prod (agreeing 2/3)"), o)
    assert(o.contains("ref=prod, dissenter=drifted"), o)
    // exactly one dissenter diff: the replica never diffs against prod
    assert(!o.contains("dissenter=replica"), o)
    assert(o.contains("only_a") && o.contains("differs"), o)
  }

  test("a repeated two-target all-modes --drill-down run: one read per table, pinned jobs, no recompiles") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.functions.{col, when}
    // b: nation identical, orders missing a key band, lineitem (composite
    // PK) with a few values changed
    val tmp = java.nio.file.Files.createTempDirectory("graft-warm").toString
    val read = graft.core.Readers.fixture(spark, sfDir, _: String)
    read("nation").write.parquet(s"$tmp/nation.parquet")
    read("orders").filter(col("o_orderkey") % 50 =!= 7).write.parquet(s"$tmp/orders.parquet")
    read("lineitem").withColumn("l_quantity", when(col("l_orderkey") % 500 === 3 &&
      col("l_linenumber") === 1, col("l_quantity") + 1).otherwise(col("l_quantity")))
      .write.parquet(s"$tmp/lineitem.parquet")
    val cfg = Cli.parse(Seq("--tests", TestModes.All.mkString(","), "--drill-down",
      "--include-tables", "nation,orders,lineitem", "--aliases", "a,b", sfDir, tmp)).toOption.get
    def run(): String = {
      val sw = new StringWriter()
      assert(Cli.run(spark, cfg, sw) == 1, sw.toString)
      sw.toString
    }
    val first = run()
    assert(first.contains("drill-down rows: main.orders") &&
      first.contains("drill-down rows: main.lineitem") && !first.contains("main.nation ("), first)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (second, jobs) = jobsOf(run())
    val recompiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    assert(second == first)
    // one schema resolution (a `spark.read.parquet` job) per (target, table)
    assert(jobs.count(_.startsWith("parquet at")) == 6, jobs)
    // measured: 24 jobs — per (target, table) one schema read, one count
    // and one collected sorted pass; per drifted table the drill-down's two
    // join shuffles and one result job (52 when each table sorted globally
    // and drilled down through two joins; 143 when every mode, report step
    // and drill-down ran its own plan over its own read)
    assert(jobs.size == 24, s"${jobs.size} jobs: $jobs")
    // the second run finds most of its compiled classes in the code cache:
    // measured 17-18 recompiles (the count varies with the cache's segment
    // hashing), against 154 when each mode and report step planned alone
    assert(recompiled <= 45, recompiled)
  }

  test("incremental re-verification: baseline, verified, drifted across three runs") {
    val snaps = java.nio.file.Files.createTempDirectory("graft-snaps").toString
    def run(dir: String): (Int, String) = {
      val cfg = Cli.parse(Seq("--merkle-snapshots", snaps, "--merkle-buckets", "64",
        "--include-tables", "region", "--aliases", "prod", dir)).toOption.get
      val sw = new StringWriter()
      (Cli.run(spark, cfg, sw), sw.toString)
    }
    // first sight writes the baseline and exits clean
    val (c1, o1) = run(sfDir)
    assert(c1 == 0 && o1.contains("baselined"), o1)
    // unchanged data verifies with zero drifted buckets
    val (c2, o2) = run(sfDir)
    assert(c2 == 0 && o2.contains("verified"), o2)
    // a missing row drifts exactly its bucket and fails the run
    val tmp = java.nio.file.Files.createTempDirectory("graft-snapdrift").toString
    graft.core.Readers.fixture(spark, sfDir, "region")
      .filter(org.apache.spark.sql.functions.col("r_regionkey") =!= 2)
      .write.parquet(s"$tmp/region.parquet")
    val (c3, o3) = run(tmp)
    assert(c3 == 1 && o3.contains("drifted"), o3)
    // the drift refreshed the snapshot: re-running the same dir now verifies
    val (c4, o4) = run(tmp)
    assert(c4 == 0 && o4.contains("verified"), o4)
    // a different --merkle-buckets against the same snapshot dir is refused
    // per table ((err) + exit 1, reason on stderr) instead of reporting
    // meaningless mass drift — and the mismatch must NOT refresh the snapshot
    val cfg128 = Cli.parse(Seq("--merkle-snapshots", snaps, "--merkle-buckets", "128",
      "--include-tables", "region", "--aliases", "prod", tmp)).toOption.get
    val sw5 = new StringWriter()
    assert(Cli.run(spark, cfg128, sw5) == 1)
    assert(sw5.toString.contains("(err)"), sw5.toString)
    // the failed run left the 64-bucket snapshot intact: the original config
    // still verifies clean
    val (c6, o6) = run(tmp)
    assert(c6 == 0 && o6.contains("verified"), o6)
  }

  test("alias resolution: aliases used only when the count matches (X5)") {
    assert(Cli.targetNames(Seq("/a/b", "/c/d"), Seq("x", "y")) == Seq("x", "y"))
    assert(Cli.targetNames(Seq("/a/b", "/c/d"), Seq("onlyone")) == Seq("b", "d"))
  }

  test("golden ASCII report render") {
    import spark.implicits._
    val rows = Seq(
      ResultRow("beta", "main", "orders", "full", "(err)"),
      ResultRow("alpha", "main", "orders", "full", "abc123"),
      ResultRow("alpha", "main", "orders", "rowcount", "42"),
      ResultRow("beta", "main", "orders", "rowcount", "42"))
    val pivot = VerifyRun.pivotReport(spark.createDataset(rows).toDF(),
      Seq("rowcount", "full"))
    val sw = new StringWriter()
    VerifyRun.renderAsciiTable(pivot, Seq("rowcount", "full"), sw)
    val expected =
      """+--------+--------+--------+----------+--------+
        || SCHEMA | TABLE  | FULL   | ROWCOUNT | TARGET |
        |+--------+--------+--------+----------+--------+
        || main   | orders | (err)  | 42       | beta   |
        || main   | orders | abc123 | 42       | alpha  |
        |+--------+--------+--------+----------+--------+
        |""".stripMargin
    assert(sw.toString == expected)
  }

  test("end-to-end CLI run over live JDBC targets: discovery + fingerprints agree") {
    // reuse the Derby database JdbcSpec materializes (idempotent setup)
    new JdbcSpec {}.ensureDb()
    val url = "jdbc:derby:memory:graftdb;create=true"
    val cfg = Cli.parse(Seq("--tests", "full,rowcount", "--aliases", "a,b", url, url))
      .toOption.get
    val sw = new StringWriter()
    val code = Cli.run(spark, cfg, sw)
    assert(code == 0, sw.toString)
    val out = sw.toString
    // real schema names in the report, split from the catalog key (not "main")
    assert(out.contains("| APP") && out.contains("VERIFYME"), out)
    assert(out.contains("| OTHER") && out.contains("EXTRA"), out)
    assert(!out.contains("APP.VERIFYME") && !out.contains("(err)"), out)
  }

  test("heterogeneous identifier casing: Derby-uppercase vs quoted-lowercase targets agree") {
    val jdbc = new JdbcSpec {}
    jdbc.ensureDb(); jdbc.ensureLowercaseDb()
    val url = "jdbc:derby:memory:graftdb;create=true"
    // per-target discovery binds each side's own physical casing (PK `ID` on
    // one target, `id` on the other); the comparison keys line up
    // case-insensitively, so identical data verifies clean
    val cfg = Cli.parse(Seq("--tests", "full,rowcount", "--include-tables", "verifyme",
      "--aliases", "upper,lower", url, jdbc.lcUrl)).toOption.get
    val sw = new StringWriter()
    val code = Cli.run(spark, cfg, sw)
    assert(code == 0, sw.toString)
    val out = sw.toString
    assert(out.contains("VERIFYME") && out.contains("verifyme"), out)
    assert(!out.contains("(err)"), out)
  }

  test("--include-schemas/--exclude-schemas are applied at discovery") {
    // parquet targets carry the implicit schema `main`: including it is a
    // no-op, excluding it empties the catalog (fail-fast, S6)
    val okCfg = Cli.parse(Seq("--tests", "rowcount", "--include-schemas", "main",
      "--include-tables", "region", sfDir, sfDir)).toOption.get
    val sw = new StringWriter()
    assert(Cli.run(spark, okCfg, sw) == 0, sw.toString)
    val badCfg = Cli.parse(Seq("--tests", "rowcount", "--exclude-schemas", "main",
      sfDir, sfDir)).toOption.get
    val e = intercept[IllegalStateException](Cli.run(spark, badCfg, new StringWriter()))
    assert(e.getMessage.contains("no tables"))
  }

  test("flag parsing robustness: --flag=value, unknown flags, malformed ints, bad tz unit") {
    // --flag=value splits like the reference's cobra parser
    val eq = Cli.parse(Seq("--tests=rowcount", "--bookend-limit=7", "/d")).toOption.get
    assert(eq.tests == Seq(TestModes.RowCount) && eq.bookendLimit == 7)
    // unknown single-dash tokens are flags-gone-wrong, not targets
    assert(Cli.parse(Seq("-x", "/d")).swap.exists(_.contains("unknown flag: -x")))
    // malformed numerics are usage errors, not NumberFormatException traces
    assert(Cli.parse(Seq("--bookend-limit", "abc", "/d")).swap.exists(_.contains("invalid argument")))
    assert(Cli.parse(Seq("--sparse-mod", "ten", "/d")).swap.exists(_.contains("invalid argument")))
    // unknown tz-precision units rejected at parse time with the options list
    assert(Cli.parse(Seq("--tz-precision", "fortnight", "/d"))
      .swap.exists(m => m.contains("invalid --tz-precision") && m.contains("week")))
    // the new PG-singular units parse
    assert(Cli.parse(Seq("--tz-precision", "day", "/d")).isRight)
  }

  test("CLI exits 1 when targets disagree (different scale factors)") {
    val cfg = Cli.parse(Seq("--tests", "rowcount", "--include-tables", "region,orders",
      "--aliases", "a,b", sfDir, "/root/testdata/sf0.01")).toOption.get
    val sw = new StringWriter()
    assert(Cli.run(spark, cfg, sw) == 1, sw.toString)
  }

  test("end-to-end CLI run: identical parquet targets agree (exit 0), report rendered") {
    val cfg = Cli.parse(Seq(
      "--tests", "full,rowcount", "--include-tables", "region,nation",
      "--aliases", "alpha,beta", sfDir, sfDir)).toOption.get
    val sw = new StringWriter()
    val code = Cli.run(spark, cfg, sw)
    assert(code == 0, sw.toString)
    val out = sw.toString
    assert(out.contains("| SCHEMA |") && out.contains("alpha") && out.contains("beta"))
    assert(out.linesIterator.count(_.startsWith("| main")) == 4) // 2 tables x 2 targets
    assert(!out.contains("(err)"))
  }

  test("bench tripwire parser: real summary shapes, nulls skipped, garbage degrades to empty") {
    // the exact shape graft.Bench writes, including a failed (null) query
    // and trailing fields AFTER the queries object (the min-map note)
    val line = """{"metric":"total","value":3.5,"unit":"sec",""" +
      """"queries":{"q_a":1.25,"q_b":null,"q_c":2.25},""" +
      """"failures":["q_b"],"sf":"/x","note":"min map"}"""
    assert(Bench.parseQueriesMap(line) == Map("q_a" -> 1.25, "q_c" -> 2.25))
    // a format change that drops the queries object must DISARM, not throw —
    // the tripwire degrades to "no previous summary"
    assert(Bench.parseQueriesMap("""{"metric":"total","value":3.5}""").isEmpty)
    assert(Bench.parseQueriesMap("not json at all").isEmpty)
    assert(Bench.parseQueriesMap("""{"queries":{""").isEmpty)
  }

  test("bench min-map fold: only decreases, failures ignored, subset runs keep the rest") {
    val prev = Map("q_a" -> 1.0, "q_b" -> 2.0, "q_gone" -> 3.0)
    val run = Seq(
      ("q_a", 0.5, true),   // faster: min drops
      ("q_b", 9.0, true),   // slower (contended run): min must NOT rise
      ("q_fail", 0.01, false), // failed: near-zero time must not enter the map
      ("q_new", 4.0, true)) // first sighting: current time seeds the entry
    val folded = Bench.foldMin(prev, run)
    assert(folded == Map(
      "q_a" -> 0.5, "q_b" -> 2.0, "q_gone" -> 3.0, "q_new" -> 4.0))
    // round-trip through the writer's format and the tripwire's parser
    val line = s"""{"metric":"per_query_min","note":"x","queries":""" +
      folded.toSeq.sortBy(_._1).map { case (k, v) => s"\"$k\":$v" }
        .mkString("{", ",", "}") + ""","sf":"/x"}"""
    assert(Bench.parseQueriesMap(line) == folded)
  }

  test("bench min-map sf/cpus guard: mismatched maps are ignored, legacy accepted") {
    // r12 advisor (medium): a min map recorded at a different scale factor
    // or CPU count would seed unbeatable minimums — flag mismatch, accept
    // same-config and legacy (pre-cpus-field) files
    val r13 = """{"metric":"per_query_min","cpus":"32","queries":{"q_a":1.0},""" +
      """"sf":"/root/testdata/sf0.1"}"""
    assert(Bench.compatibleQueriesMap(r13, "/root/testdata/sf0.1", "32") ==
      Map("q_a" -> 1.0))
    assert(Bench.compatibleQueriesMap(r13, "/root/testdata/sf0.01", "32").isEmpty)
    assert(Bench.compatibleQueriesMap(r13, "/root/testdata/sf0.1", "8").isEmpty)
    assert(Bench.sfCpusMismatch(r13, "/root/testdata/sf0.01", "32"))
    // legacy r12 format: sf recorded, no cpus field — accepted as-is
    val legacy = """{"metric":"per_query_min","queries":{"q_a":2.0},""" +
      """"sf":"/root/testdata/sf0.1"}"""
    assert(Bench.compatibleQueriesMap(legacy, "/root/testdata/sf0.1", "32") ==
      Map("q_a" -> 2.0))
    assert(Bench.compatibleQueriesMap(legacy, "/root/testdata/sf0.01", "32").isEmpty)
  }
}
