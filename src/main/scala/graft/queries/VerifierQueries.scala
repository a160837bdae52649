package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryEntry
import graft.core._

/** The pgverify-core operators (SURVEY.md §2) registered against the driver's
  * fixture tables: catalog discovery, the four fingerprint modes over every
  * canonicalizable table, the hash-primary-keys variant, the scalable Merkle
  * fingerprint, and the multi-target report/diff pipeline.
  */
object VerifierQueries {

  private val cfg = VerifyConfig()
  private def spec(t: String) = Fixtures.specs(t)

  /** Digest a set of tables with one mode into a (table_name, fingerprint)
    * frame; driver-side scalars exactly like the reference's per-query
    * `QueryRow().Scan` (/root/reference/verify.go:239-255).
    */
  private def digestDf(spark: SparkSession, sfDir: String, tables: Seq[String],
                       mode: String, c: VerifyConfig): DataFrame = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val target = ParquetTarget("t", sfDir)
    // per-table fan-out — the reference's own concurrency model (one
    // goroutine per table; `core/Report.scala:73` is the per-target twin):
    // each digest is a short driver-blocking job chain, and running them
    // serially left the cluster idle between actions
    val futures = tables.sorted.map { t =>
      Future((t, Fingerprints.runMode(mode, target.read(spark, t), spec(t), c)))
    }
    val rows = futures.map(Await.result(_, Duration.Inf))
    import spark.implicits._
    rows.toDF("table_name", "fingerprint")
  }

  private def digestSql(tables: Seq[String], mode: String, c: VerifyConfig): String =
    tables.sorted.map { t =>
      s"SELECT '$t' AS table_name, ${OracleSql.forMode(mode, t, spec(t), c)} AS fingerprint"
    }.mkString("", " UNION ALL ", " ORDER BY table_name")

  private val smallTables = Seq("region", "nation", "supplier", "customer", "part")

  // ---------------------------------------------------------------------------
  // Multi-target report pipeline (A3-A5, X1-X3) with a deterministically
  // perturbed second target — the reference's negative integration test
  // (/root/reference/integration_test.go:294-398) as a registered query.
  // ---------------------------------------------------------------------------

  /** beta's orders: one key-band deleted, one key-band value-changed. */
  private val perturbOrders: DataFrame => DataFrame = df =>
    df.filter(col("o_orderkey") % 1000 =!= 7)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 1000 === 11, col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")))

  private val perturbOrdersSql: String =
    "(SELECT o_orderkey, o_custkey, o_orderstatus, " +
      "CASE WHEN o_orderkey % 1000 = 11 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice, " +
      "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 1000 <> 7)"

  /** The long-form results relation as a DuckDB CTE: one row per
    * target × table × mode with the digest computed in SQL — the oracle twin
    * of [[VerifyRun.run]]'s output.
    */
  private def resultsCte(targets: Seq[(String, Option[String])], tables: Seq[String],
                         modes: Seq[String], c: VerifyConfig): String = {
    val rows = for {
      (tname, source) <- targets
      t <- tables
      m <- modes
    } yield s"SELECT '$tname' AS target, '${VerifyRun.SchemaName}' AS schema_name, " +
      s"'$t' AS table_name, '$m' AS mode, " +
      s"${OracleSql.forMode(m, t, spec(t), c, if (t == "orders") source else None)} AS output"
    s"WITH results AS (${rows.mkString(" UNION ALL ")})"
  }

  /** Spark side of the merged report, long form with portable column names. */
  private def mergedDf(spark: SparkSession, sfDir: String, beta: ParquetTarget,
                       tables: Seq[String], modes: Seq[String], c: VerifyConfig): DataFrame = {
    val targets = Seq(ParquetTarget("alpha", sfDir), beta)
    val results = VerifyRun.run(spark, targets, Fixtures.specs, c, includeTables = tables)
    VerifyRun.merged(results)
      .select(col("schema").as("schema_name"), col("table").as("table_name"),
        col("mode"), col("output"), array_join(col("targets"), ",").as("targets"))
      .orderBy(col("table_name"), col("mode"), col("output"))
  }

  private def mergedSql(targets: Seq[(String, Option[String])], tables: Seq[String],
                        modes: Seq[String], c: VerifyConfig): String =
    s"""${resultsCte(targets, tables, modes, c)}
       SELECT schema_name, table_name, mode, output,
              string_agg(target, ',' ORDER BY target) AS targets
       FROM results GROUP BY schema_name, table_name, mode, output
       ORDER BY table_name, mode, output"""

  private val reportModes = TestModes.All
  // modes pinned to the SAME list the oracle CTE loops — VerifyRun.run takes
  // its mode set from cfg.modes, and the two must never drift
  private val reportCfg = cfg.copy(bookendLimit = 100, modes = reportModes)

  /** The PG-singular fixed-width `--tz-precision` units added in round 4
    * (micro/milli/seconds are already exercised by every other pv_* query),
    * sorted for a deterministic result frame.
    */
  private val TzUnits =
    Seq("day", "hour", "minute", "month", "quarter", "second", "week", "year")

  val entries: Seq[(String, QueryEntry)] = Seq(

    // A3 merged report: two identical targets agree on every cell
    "pv_report_agree" -> QueryEntry(
      fn = (spark, sfDir) => mergedDf(spark, sfDir, ParquetTarget("beta", sfDir),
        Seq("region", "orders"), reportModes, reportCfg),
      oracle = Some(mergedSql(Seq("alpha" -> None, "beta" -> None),
        Seq("region", "orders"), reportModes, reportCfg))),

    // A3 merged report with a perturbed target: disagreeing cells split
    "pv_report_mismatch" -> QueryEntry(
      fn = (spark, sfDir) => mergedDf(spark, sfDir,
        ParquetTarget("beta", sfDir, tweaks = Map("orders" -> perturbOrders)),
        Seq("region", "orders"), reportModes, reportCfg),
      oracle = Some(mergedSql(Seq("alpha" -> None, "beta" -> Some(perturbOrdersSql)),
        Seq("region", "orders"), reportModes, reportCfg))),

    // A4 consistency diff over the perturbed pair
    "pv_inconsistency" -> QueryEntry(
      fn = (spark, sfDir) => {
        val targets = Seq(ParquetTarget("alpha", sfDir),
          ParquetTarget("beta", sfDir, tweaks = Map("orders" -> perturbOrders)))
        val results = VerifyRun.run(spark, targets, Fixtures.specs, reportCfg,
          includeTables = Seq("region", "orders"))
        VerifyRun.inconsistencies(results, targets.size)
          .select(col("schema").as("schema_name"), col("table").as("table_name"),
            col("mode"), col("n_outputs").cast("long"), col("n_reports").cast("long"),
            col("has_err"))
      },
      oracle = Some(
        s"""${resultsCte(Seq("alpha" -> None, "beta" -> Some(perturbOrdersSql)),
            Seq("region", "orders"), reportModes, reportCfg)}
           SELECT schema_name, table_name, mode,
                  CAST(count(DISTINCT output) AS BIGINT) AS n_outputs,
                  CAST(count(*) AS BIGINT) AS n_reports,
                  bool_or(output = '${Fingerprints.Err}') AS has_err
           FROM results GROUP BY schema_name, table_name, mode
           HAVING count(DISTINCT output) > 1 OR count(*) <> 2
                  OR bool_or(output = '${Fingerprints.Err}')
           ORDER BY schema_name, table_name, mode""")),

    // row-level drill-down (SURVEY.md §7.6): which PKs differ and how
    "pv_diff_rows" -> QueryEntry(
      fn = (spark, sfDir) => {
        val orders = Readers.fixture(spark, sfDir, "orders")
        RowDiff.diff(orders, perturbOrders(orders), spec("orders"))
      },
      oracle = Some(RowDiff.duckSql("orders", spec("orders"), "orders", perturbOrdersSql))),

    // the incremental drill-down, end to end: flipped Merkle buckets scope
    // the row diff, shuffling only |changed|/buckets of each side; equals
    // the full diff because every differing row flips its own bucket
    "pv_diff_buckets" -> QueryEntry(
      fn = (spark, sfDir) => {
        val orders = Readers.fixture(spark, sfDir, "orders")
        val pert = perturbOrders(orders)
        val changed = Fingerprints.merkleChangedBuckets(
            Fingerprints.merkleBucketDigests(orders, spec("orders"), cfg, buckets = 64),
            Fingerprints.merkleBucketDigests(pert, spec("orders"), cfg, buckets = 64))
          .select("bucket").collect().map(_.getLong(0)).toSeq.sorted
        RowDiff.diffInBuckets(orders, pert, spec("orders"), changed, buckets = 64)
      },
      oracle = Some {
        val changedSub = "SELECT bucket FROM (" +
          OracleSql.merkleChanged("orders", spec("orders"), cfg, buckets = 64,
            prevSource = None, currSource = Some(perturbOrdersSql)) + ") AS mc"
        RowDiff.duckBucketsSql("orders", spec("orders"), "orders", perturbOrdersSql,
          changedSub, buckets = 64)
      }),

    // column-level attribution: for each PK pv_diff_rows flags as `differs`,
    // WHICH canonical column texts disagree — the drill-down a real operator
    // reaches for next (the reference stops at table level,
    // /root/reference/results.go:72-98). The perturbation touches only
    // o_totalprice, so that must be the only attributed column
    "pv_diff_columns" -> QueryEntry(
      fn = (spark, sfDir) => {
        val orders = Readers.fixture(spark, sfDir, "orders")
        RowDiff.diffColumns(orders, perturbOrders(orders), spec("orders"))
      },
      oracle = Some(RowDiff.duckColumnsSql("orders", spec("orders"), "orders", perturbOrdersSql))),

    // schema-drift diff: catalog-level drill-down BEFORE any data scan — a
    // migrated beta (column dropped, column retyped, column added) diffs as
    // exactly those three drift rows, from footers/information_schema only
    "pv_diff_schema" -> QueryEntry(
      fn = (spark, sfDir) => {
        val migrate: DataFrame => DataFrame = df => df
          .drop("o_orderpriority")
          .withColumn("o_orderdate", col("o_orderdate").cast("date"))
          .withColumn("o_note", lit("migrated"))
        val alpha = ParquetTarget("alpha", sfDir)
        val beta = ParquetTarget("beta", sfDir, tweaks = Map("orders" -> migrate))
        SchemaDiff.diff(
          SchemaDiff.catalog(spark, alpha, Seq("region", "orders")),
          SchemaDiff.catalog(spark, beta, Seq("region", "orders")))
      },
      oracle = Some {
        def catalogCte(rows: Seq[(String, String, String)]): String =
          rows.map { case (t, c, d) =>
            s"SELECT '$t' AS table_name, '$c' AS column_name, '$d' AS data_type"
          }.mkString(" UNION ALL ")
        val alphaRows = Seq("orders", "region").flatMap(t =>
          OracleSql.schemas(t).fields.map(f => (t, f.name, f.dataType.simpleString)))
        // the SAME migration, applied to the static catalog
        val betaRows = alphaRows.filter(_._2 != "o_orderpriority").map {
          case ("orders", "o_orderdate", _) => ("orders", "o_orderdate", "date")
          case r => r
        } :+ ("orders", "o_note", "string")
        s"""WITH a AS (${catalogCte(alphaRows)}), b AS (${catalogCte(betaRows)})
           SELECT table_name, column_name,
                  coalesce(a.data_type, '') AS a_type,
                  coalesce(b.data_type, '') AS b_type,
                  CASE WHEN a.data_type IS NULL THEN 'missing_in_a'
                       WHEN b.data_type IS NULL THEN 'missing_in_b'
                       WHEN a.data_type <> b.data_type THEN 'type_changed' END AS status
           FROM a FULL OUTER JOIN b USING (table_name, column_name)
           WHERE a.data_type IS NULL OR b.data_type IS NULL
              OR a.data_type <> b.data_type
           ORDER BY table_name, column_name"""
      }),

    // referential-integrity audit across the star schema's FK edges, with
    // orders.o_custkey perturbed to dangle for one key band — the intact
    // edges must audit 0 orphans, the broken one exactly its band
    "pv_orphans" -> QueryEntry(
      fn = (spark, sfDir) => {
        import Integrity.FkEdge
        val li = Readers.fixture(spark, sfDir, "lineitem")
        val orders = Readers.fixture(spark, sfDir, "orders")
        val dangling = orders.withColumn("o_custkey",
          when(col("o_orderkey") % 1000 === 13, col("o_custkey") + 10000000L)
            .otherwise(col("o_custkey")))
        Integrity.orphanAudit(Seq(
          FkEdge("customer.c_nationkey->nation.n_nationkey",
            Readers.fixture(spark, sfDir, "customer"), "c_nationkey",
            Readers.fixture(spark, sfDir, "nation"), "n_nationkey", broadcastDim = true),
          // fact-to-fact: orders is no broadcast candidate at scale
          FkEdge("lineitem.l_orderkey->orders.o_orderkey",
            li, "l_orderkey", orders, "o_orderkey", broadcastDim = false),
          FkEdge("lineitem.l_partkey->part.p_partkey",
            li, "l_partkey",
            Readers.fixture(spark, sfDir, "part"), "p_partkey", broadcastDim = true),
          FkEdge("orders.o_custkey->customer.c_custkey",
            dangling, "o_custkey",
            Readers.fixture(spark, sfDir, "customer"), "c_custkey", broadcastDim = true)))
      },
      oracle = Some("""
        WITH po AS (SELECT CASE WHEN o_orderkey % 1000 = 13 THEN o_custkey + 10000000
                                ELSE o_custkey END AS o_custkey FROM orders)
        SELECT * FROM (
          SELECT 'customer.c_nationkey->nation.n_nationkey' AS fk_name,
                 (SELECT count(*) FROM customer WHERE c_nationkey IS NOT NULL) AS fact_rows,
                 (SELECT count(*) FROM customer WHERE c_nationkey IS NOT NULL
                    AND c_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS orphans
          UNION ALL
          SELECT 'lineitem.l_orderkey->orders.o_orderkey',
                 (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL),
                 (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
                    AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
          UNION ALL
          SELECT 'lineitem.l_partkey->part.p_partkey',
                 (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL),
                 (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL
                    AND l_partkey NOT IN (SELECT p_partkey FROM part))
          UNION ALL
          SELECT 'orders.o_custkey->customer.c_custkey',
                 (SELECT count(*) FROM po WHERE o_custkey IS NOT NULL),
                 (SELECT count(*) FROM po WHERE o_custkey IS NOT NULL
                    AND o_custkey NOT IN (SELECT c_custkey FROM customer))
        ) AS t ORDER BY fk_name"""))
  ) ++ Map(

    // S1: catalog discovery — directory listing as the information_schema scan
    "pv_tables" -> QueryEntry(
      fn = (spark, sfDir) => {
        import spark.implicits._
        ParquetTarget("t", sfDir).tables(spark).toDF("table_name").orderBy("table_name")
      },
      oracle = Some(Fixtures.tableNames.sorted
        .map(t => s"SELECT '$t' AS table_name").mkString("", " UNION ALL ", " ORDER BY table_name"))
    ),

    // S2: column discovery — name/type/PK flags from the actual parquet footers
    "pv_columns" -> QueryEntry(
      fn = (spark, sfDir) => {
        import spark.implicits._
        val target = ParquetTarget("t", sfDir)
        val rows = Fixtures.tableNames.flatMap { t =>
          val pks = spec(t).pks.toSet
          // report the engine-neutral logical type: Spark infers parquet
          // isAdjustedToUTC=false timestamps as timestamp_ntz, an engine
          // detail the cross-engine report canonicalizes away
          target.read(spark, t).schema.fields.map(f =>
            (t, f.name, f.dataType.simpleString.replace("timestamp_ntz", "timestamp"),
              pks.contains(f.name)))
        }
        rows.toDF("table_name", "column_name", "data_type", "is_pk")
          .orderBy("table_name", "column_name")
      },
      oracle = Some(Fixtures.tableNames.flatMap { t =>
        val pks = spec(t).pks.toSet
        OracleSql.schemas(t).fields.map(f =>
          s"SELECT '$t' AS table_name, '${f.name}' AS column_name, " +
            s"'${f.dataType.simpleString}' AS data_type, ${pks.contains(f.name)} AS is_pk")
      }.mkString("", " UNION ALL ", " ORDER BY table_name, column_name"))
    ),

    // A2: rowcount mode over every fixture table
    "pv_rowcount" -> QueryEntry(
      fn = (spark, sfDir) => digestDf(spark, sfDir, Fixtures.tableNames, TestModes.RowCount, cfg),
      oracle = Some(digestSql(Fixtures.tableNames, TestModes.RowCount, cfg))
    ),

    // stats mode (our extension): per-column count/canonical-min/canonical-max
    // fingerprint — the one-scan, no-hash, no-sort screen that runs FIRST on a
    // 100 TB nightly verify (see Fingerprints.statsDigest for the scale
    // shape). Unlike the hash modes' driver-scalar loop (their MD5 chains
    // force a job per table), stats is a pure aggregate, so ALL tables union
    // into ONE plan — the scans run concurrently in a single job
    "pv_stats" -> QueryEntry(
      fn = (spark, sfDir) => {
        val target = ParquetTarget("t", sfDir)
        Fixtures.fingerprintTables.sorted.map { t =>
          target.read(spark, t)
            .agg(Fingerprints.statsDigestCol(OracleSql.schemas(t), spec(t), cfg).as("fingerprint"))
            .select(lit(t).as("table_name"), col("fingerprint"))
        }.reduce(_ unionAll _).orderBy("table_name")
      },
      oracle = Some(digestSql(Fixtures.fingerprintTables, TestModes.Stats, cfg))
    ),

    // per-column profile (our extension, one step up from stats mode): row /
    // null / exact-distinct counts plus the modal value — the human-readable
    // data-quality report over the SAME canonical projection the fingerprint
    // modes hash, so a drift flagged by pv_stats is drilled down here
    // without changing comparison rules (see core/Profile for the
    // one-stacked-aggregate scale shape)
    "pv_profile" -> QueryEntry(
      fn = (spark, sfDir) => {
        val target = ParquetTarget("t", sfDir)
        val schema = OracleSql.schemas("orders")
        Profile.profile(target.read(spark, "orders"), schema,
          schema.fieldNames.toSeq).orderBy("col_name")
      },
      oracle = Some(Profile.duckProfile("orders", OracleSql.schemas("orders"),
        OracleSql.schemas("orders").fieldNames.toSeq) + "\nORDER BY col_name")
    ),

    // A1+O1+P1/P2/P3: full-mode fingerprints
    "pv_full_small" -> QueryEntry(
      fn = (spark, sfDir) => digestDf(spark, sfDir, smallTables, TestModes.Full, cfg),
      oracle = Some(digestSql(smallTables, TestModes.Full, cfg))),
    "pv_full_orders" -> QueryEntry(
      fn = (spark, sfDir) => digestDf(spark, sfDir, Seq("orders"), TestModes.Full, cfg),
      oracle = Some(digestSql(Seq("orders"), TestModes.Full, cfg))),
    "pv_full_lineitem" -> QueryEntry( // composite PK
      fn = (spark, sfDir) => digestDf(spark, sfDir, Seq("lineitem"), TestModes.Full, cfg),
      oracle = Some(digestSql(Seq("lineitem"), TestModes.Full, cfg))),
    "pv_full_events" -> QueryEntry( // timestamp canonicalization path
      fn = (spark, sfDir) => digestDf(spark, sfDir, Seq("events"), TestModes.Full, cfg),
      oracle = Some(digestSql(Seq("events"), TestModes.Full, cfg))),
    "pv_full_documents" -> QueryEntry(
      fn = (spark, sfDir) => digestDf(spark, sfDir, Seq("documents"), TestModes.Full, cfg),
      oracle = Some(digestSql(Seq("documents"), TestModes.Full, cfg))),

    // O1 hash-primary-keys variant (/root/reference/config.go:53-57)
    "pv_full_hashpk" -> QueryEntry(
      fn = (spark, sfDir) =>
        digestDf(spark, sfDir, Seq("customer", "lineitem"), TestModes.Full, cfg.copy(hashPrimaryKeys = true)),
      oracle = Some(digestSql(Seq("customer", "lineitem"), TestModes.Full, cfg.copy(hashPrimaryKeys = true)))),

    // O2/O3+J3 bookend mode
    "pv_bookend" -> QueryEntry(
      fn = (spark, sfDir) =>
        digestDf(spark, sfDir, Seq("orders", "lineitem", "events"), TestModes.Bookend, cfg.copy(bookendLimit = 100)),
      oracle = Some(digestSql(Seq("orders", "lineitem", "events"), TestModes.Bookend, cfg.copy(bookendLimit = 100)))),

    // full --tz-precision surface (reference passes the unit straight into
    // date_trunc, /root/reference/column.go:28): every fixed-width PG unit
    // digested over the timestamp-bearing events table, one cheap bookend
    // fingerprint per unit — a per-unit cross-engine parity check, including
    // week's Monday (non-epoch) anchor
    "pv_tz_units" -> QueryEntry(
      fn = (spark, sfDir) => {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.global
        import spark.implicits._
        val target = ParquetTarget("t", sfDir)
        // the 8 precision variants are independent bookend digests over the
        // same table — fan them out like digestDf's per-table futures
        TzUnits.map { u =>
          Future((u, Fingerprints.runMode(TestModes.Bookend,
            target.read(spark, "events"), spec("events"),
            reportCfg.copy(tsPrecision = u))))
        }.map(Await.result(_, Duration.Inf)).toDF("unit", "fingerprint")
      },
      oracle = Some(TzUnits.map { u =>
        s"SELECT '$u' AS unit, " +
          s"${OracleSql.bookend("events", spec("events"), reportCfg.copy(tsPrecision = u))} AS fingerprint"
      }.mkString("", " UNION ALL ", " ORDER BY unit"))),

    // P7+J2 sparse mode (signed 64-bit MD5 sample)
    "pv_sparse" -> QueryEntry(
      fn = (spark, sfDir) =>
        digestDf(spark, sfDir, Seq("orders", "lineitem"), TestModes.Sparse, cfg),
      oracle = Some(digestSql(Seq("orders", "lineitem"), TestModes.Sparse, cfg))),

    // P1 over the full type matrix (boolean/date/decimal/binary/array/string
    // + NULLs, plus the uuid-shaped and bit-string columns from the
    // reference's 18-type matrix, /root/reference/integration_test.go:135-158
    // — PG renders uuid/bit/varbit ::TEXT as their literal spellings, so both
    // engines carry them as strings; PgLiveSpec proves that rendering against
    // real PG columns of those types) — fixture tables don't carry these, so
    // both engines build the same literal rows and must agree on the
    // fingerprint
    "pv_full_typed" -> QueryEntry(
      fn = (spark, sfDir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("id", IntegerType), StructField("b", BooleanType),
          StructField("d", DateType), StructField("dec", DecimalType(9, 2)),
          StructField("bin", BinaryType), StructField("arr", ArrayType(IntegerType)),
          StructField("s", StringType), StructField("uid", StringType),
          StructField("bit1", StringType), StructField("vbit", StringType)))
        val rows = java.util.Arrays.asList(
          Row(1, true, java.sql.Date.valueOf("2020-01-02"),
            new java.math.BigDecimal("1.25"), Array[Byte](0x0a, 0xff.toByte),
            Seq(1, 2, 3), "héllo",
            "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11", "1", "101"),
          Row(2, false, java.sql.Date.valueOf("1999-12-31"),
            new java.math.BigDecimal("-12.50"), Array[Byte](0x00),
            Seq.empty[Int], "x,y{z}",
            "00000000-0000-0000-0000-000000000000", "0", "010"),
          Row(3, null, null, null, null, null, null, null, null, null))
        val df = spark.createDataFrame(rows, schema)
        val digest = Fingerprints.fullDigest(df, TableSpec("typed", Seq("id")), cfg)
        import spark.implicits._
        Seq(("typed", digest)).toDF("table_name", "fingerprint")
      },
      oracle = Some {
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("id", IntegerType), StructField("b", BooleanType),
          StructField("d", DateType), StructField("dec", DecimalType(9, 2)),
          StructField("bin", BinaryType), StructField("arr", ArrayType(IntegerType)),
          StructField("s", StringType), StructField("uid", StringType),
          StructField("bit1", StringType), StructField("vbit", StringType)))
        val cols = schema.fieldNames.toSeq
        val k = graft.canon.Canon.duckPkSortKey(schema, Seq("id"), hashPrimaryKeys = false, cfg.tsPrecision)
        val h = graft.canon.Canon.duckRowHash(schema, cols, cfg.tsPrecision)
        s"""WITH typed(id, b, d, dec, bin, arr, s, uid, bit1, vbit) AS (VALUES
             (1, TRUE, DATE '2020-01-02', CAST(1.25 AS DECIMAL(9,2)), from_hex('0aff'), [1,2,3], 'héllo',
              'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11', '1', '101'),
             (2, FALSE, DATE '1999-12-31', CAST(-12.50 AS DECIMAL(9,2)), from_hex('00'), CAST([] AS INTEGER[]), 'x,y{z}',
              '00000000-0000-0000-0000-000000000000', '0', '010'),
             (3, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL))
           SELECT 'typed' AS table_name,
             (SELECT CASE WHEN count(*) = 0 THEN '${Fingerprints.NoRows}'
                     ELSE md5(string_agg(h, '' ORDER BY k, h)) END
              FROM (SELECT $k AS k, $h AS h FROM typed) AS kh) AS fingerprint"""
      }),

    // hostile identifiers — the reference's naming-hazard fixtures
    // (/root/reference/integration_test.go:181,189,227-252): reserved-word
    // column names ("default", "order"), a mixed-case table name, and the
    // collation-hostile text-PK prefix ladder A/AA/a/aa/A-A/a-a hashed under
    // hashPrimaryKeys with rows arriving in shuffled order — only PK-ordered,
    // collation-free hashing can agree across engines
    "pv_full_naming" -> QueryEntry(
      fn = (spark, sfDir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val namesSchema = StructType(Seq(StructField("id", IntegerType),
          StructField("default", IntegerType), StructField("order", IntegerType)))
        val names = spark.createDataFrame(java.util.Arrays.asList(
          Row(1, 10, 20), Row(2, null, 30), Row(3, 40, null)), namesSchema)
        val skSchema = StructType(Seq(StructField("sid", StringType),
          StructField("v", IntegerType)))
        val prefixes = NamingFixture.Prefixes
        // deterministic shuffle (i*7 mod 30 is a permutation): input order
        // must not be PK order or the test proves nothing
        val skRows = NamingFixture.shuffled.map(i => Row(s"${prefixes(i % 6)}-$i", i))
        val sk = spark.createDataFrame(java.util.Arrays.asList(skRows: _*), skSchema)
        val multiSchema = StructType(Seq(StructField("id", IntegerType),
          StructField("zid", IntegerType), StructField("t", StringType)))
        val multi = spark.createDataFrame(java.util.Arrays.asList(
          Row(2, 0, "x"), Row(1, 1, "y"), Row(1, 0, "z")), multiSchema)
        val rows = Seq(
          ("testTABLE_multi_col_2",
            Fingerprints.fullDigest(multi, TableSpec("testTABLE_multi_col_2", Seq("id", "zid")), cfg)),
          ("test_column_names",
            Fingerprints.fullDigest(names, TableSpec("test_column_names", Seq("id")), cfg)),
          ("test_stringkey_table4",
            Fingerprints.fullDigest(sk, TableSpec("test_stringkey_table4", Seq("sid")),
              cfg.copy(hashPrimaryKeys = true))))
        import spark.implicits._
        rows.sortBy(_._1).toDF("table_name", "fingerprint")
      },
      oracle = Some(NamingFixture.oracleSql(cfg))),

    // scalable Merkle fingerprint (SURVEY.md §4) — bucketed, one shuffle
    "pv_merkle" -> QueryEntry(
      fn = (spark, sfDir) => {
        import spark.implicits._
        val target = ParquetTarget("t", sfDir)
        Seq("lineitem", "orders").sorted.map { t =>
          (t, Fingerprints.merkleDigest(target.read(spark, t), spec(t), cfg, buckets = 64))
        }.toDF("table_name", "fingerprint")
      },
      oracle = Some(Seq("lineitem", "orders").sorted.map { t =>
        s"SELECT '$t' AS table_name, ${OracleSql.merkle(t, spec(t), cfg, 64)} AS fingerprint"
      }.mkString("", " UNION ALL ", " ORDER BY table_name"))
    ),

    // order-insensitive fingerprint: commutative row-hash sum — the
    // incremental/streaming-friendly fifth mode (map-side combine, no sort,
    // partitioning-independent); blind to reorderings of the same multiset
    "pv_unordered" -> QueryEntry(
      fn = (spark, sfDir) => {
        import spark.implicits._
        val target = ParquetTarget("t", sfDir)
        Seq("lineitem", "orders").sorted.map { t =>
          (t, Fingerprints.unorderedDigest(target.read(spark, t), spec(t), cfg))
        }.toDF("table_name", "fingerprint")
      },
      oracle = Some(Seq("lineitem", "orders").sorted.map { t =>
        s"SELECT '$t' AS table_name, ${OracleSql.unordered(t, spec(t), cfg)} AS fingerprint"
      }.mkString("", " UNION ALL ", " ORDER BY table_name"))),

    // incremental re-verification: diff the persisted bucket-digest vectors
    // of two runs and report only the flipped buckets — the nightly-verify
    // shape where unchanged data costs a buckets-sized compare, and RowDiff
    // drills into ~1/buckets of the table. The perturbed target localizes
    // its deleted/changed key-bands to a handful of buckets
    "pv_merkle_incremental" -> QueryEntry(
      fn = (spark, sfDir) => {
        val orders = Readers.fixture(spark, sfDir, "orders")
        val prev = Fingerprints.merkleBucketDigests(orders, spec("orders"), cfg, buckets = 64)
        val curr = Fingerprints.merkleBucketDigests(perturbOrders(orders), spec("orders"), cfg, buckets = 64)
        Fingerprints.merkleChangedBuckets(prev, curr).orderBy("bucket")
      },
      oracle = Some(OracleSql.merkleChanged("orders", spec("orders"), cfg, buckets = 64,
        prevSource = None, currSource = Some(perturbOrdersSql))))
  )
}

/** Shared fixture pieces for `pv_full_naming` (hostile identifiers — see the
  * query registration above). Literal rows exist on both engines, so every
  * identifier-quoting or collation divergence surfaces as a hash mismatch.
  */
private[queries] object NamingFixture {
  import org.apache.spark.sql.types._

  import graft.canon.Canon

  /** Reference's collation-hostile prefixes (/root/reference/integration_test.go:189). */
  val Prefixes = Seq("A", "AA", "a", "aa", "A-A", "a-a")

  /** Permutation of 0..29 (7 coprime to 30) — deterministic shuffled insert order. */
  val shuffled: Seq[Int] = (0 until 30).map(i => (i * 7) % 30)

  private val namesSchema = StructType(Seq(StructField("id", IntegerType),
    StructField("default", IntegerType), StructField("order", IntegerType)))
  private val skSchema = StructType(Seq(StructField("sid", StringType),
    StructField("v", IntegerType)))
  private val multiSchema = StructType(Seq(StructField("id", IntegerType),
    StructField("zid", IntegerType), StructField("t", StringType)))

  def oracleSql(cfg: VerifyConfig): String = {
    def agg(schema: StructType, pks: Seq[String], hashPks: Boolean, table: String): String = {
      val k = Canon.duckPkSortKey(schema, pks, hashPks, cfg.tsPrecision)
      val h = Canon.duckRowHash(schema, schema.fieldNames.toSeq, cfg.tsPrecision)
      s"""(SELECT CASE WHEN count(*) = 0 THEN '${graft.core.Fingerprints.NoRows}'
            ELSE md5(string_agg(h, '' ORDER BY k, h)) END
          FROM (SELECT $k AS k, $h AS h FROM "$table") AS kh)"""
    }
    val skValues = shuffled.map(i => s"('${Prefixes(i % 6)}-$i', $i)").mkString(", ")
    s"""WITH "test_column_names"(id, "default", "order") AS (VALUES (1,10,20), (2,NULL,30), (3,40,NULL)),
       "test_stringkey_table4"(sid, v) AS (VALUES $skValues),
       "testTABLE_multi_col_2"(id, zid, t) AS (VALUES (2,0,'x'), (1,1,'y'), (1,0,'z'))
       SELECT 'testTABLE_multi_col_2' AS table_name,
              ${agg(multiSchema, Seq("id", "zid"), hashPks = false, "testTABLE_multi_col_2")} AS fingerprint
       UNION ALL SELECT 'test_column_names',
              ${agg(namesSchema, Seq("id"), hashPks = false, "test_column_names")}
       UNION ALL SELECT 'test_stringkey_table4',
              ${agg(skSchema, Seq("sid"), hashPks = true, "test_stringkey_table4")}
       ORDER BY table_name"""
  }
}
