package graft

import java.nio.file.{Files, Path}

import scala.sys.process._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Fingerprints, JdbcTarget, PgSql, TableSpec, VerifyConfig}
import graft.core.PgSql.PgColumn

/** Live-wire fidelity: run the reference's byte-exact generated SQL
  * ([[PgSql]]) on a REAL PostgreSQL server and assert the fingerprints equal
  * the Spark engine's over the same rows — the sandbox analogue of the
  * reference's testcontainers matrix (/root/reference/integration_test.go:
  * 87-292), covering its 18-type column matrix (integration_test.go:135-158).
  *
  * No JDBC driver ships in this environment, so the server is driven through
  * `psql` over a unix socket — which is *more* faithful for this purpose: the
  * fingerprint comparison is between the reference's own SQL text executed by
  * PostgreSQL itself and our Spark plans, with no driver-layer type mapping in
  * between. Every test cancels (not fails) when the PostgreSQL binaries are
  * unavailable.
  *
  * Domain notes pinned by these tests:
  *  - float8: PG renders shortest-round-trip but drops ".0" on integral
  *    values ("2" where Java says "2.0") — the fixture uses non-integral
  *    doubles inside the documented agreeing window (Canon.scala header).
  *  - json/jsonb: the reference hashes a length PROXY of the jsonb-normalized
  *    text; the fixture stores values already in jsonb-canonical spelling
  *    (", " / ": " separators, no duplicate keys, plain decimal numbers) so
  *    the raw length Spark sees equals the normalized length PG sees.
  */
class PgLiveSpec extends SparkSpec {

  import PgHarness._

  // -- the reference's column matrix as one table ---------------------------
  private val pgColumns = Seq(
    PgColumn("id", "bigint", isPk = true),
    PgColumn("col_boolean", "boolean"),
    PgColumn("col_bytea", "bytea"),
    PgColumn("col_bit", "bit(1)"),
    PgColumn("col_varbit", "bit varying(3)"),
    PgColumn("col_bigint_array", "ARRAY"),
    PgColumn("col_integer", "integer"),
    PgColumn("col_double", "double precision"),
    PgColumn("col_numeric", "numeric(12,3)"),
    PgColumn("col_text", "text"),
    PgColumn("col_uuid", "uuid"),
    PgColumn("col_varchar", "character varying(64)"),
    PgColumn("col_text_array", "ARRAY"),
    PgColumn("col_jsonb", "jsonb"),
    PgColumn("col_json", "json"),
    PgColumn("col_date", "date"),
    PgColumn("col_tstz", "timestamp with time zone"),
    PgColumn("col_tsntz", "timestamp without time zone"))

  private val createTableSql =
    """CREATE TABLE public.typed (
      |  id bigint PRIMARY KEY,
      |  col_boolean boolean,
      |  col_bytea bytea,
      |  col_bit bit(1),
      |  col_varbit varbit(3),
      |  col_bigint_array bigint[],
      |  col_integer integer,
      |  col_double double precision,
      |  col_numeric numeric(12,3),
      |  col_text text,
      |  col_uuid uuid,
      |  col_varchar character varying(64),
      |  col_text_array text[],
      |  col_jsonb jsonb,
      |  col_json json,
      |  col_date date,
      |  col_tstz timestamp with time zone,
      |  col_tsntz timestamp without time zone
      |);""".stripMargin

  /** One row of both worlds: the PG INSERT literal list and the Spark Row,
    * kept adjacent so a value can't drift between engines.
    */
  private case class Fixture(pgLiterals: String, sparkRow: Row)

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.from(java.time.Instant.parse(s))
  private def ntz(s: String): java.time.LocalDateTime = java.time.LocalDateTime.parse(s)
  private def d(s: String): java.sql.Date = java.sql.Date.valueOf(s)
  private def dec(s: String): java.math.BigDecimal = new java.math.BigDecimal(s)

  private val fixtures: Seq[Fixture] = Seq(
    Fixture(
      """(1, true, '\x636f6e766572742074686973', b'1', b'101', '{602213950000000000,-1}',
        | 123979, 69.123987, 123.456, 'foo',
        | 'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11', 'more string stuff', '{foo,bar}',
        | '{"foo": "bar"}', '{"foo": "bar"}', '2020-12-31',
        | '2020-12-31 23:59:59+00', '2020-12-31 23:59:59')""".stripMargin,
      Row(1L, true, "convert this".getBytes("UTF-8"), "1", "101",
        Seq(602213950000000000L, -1L), 123979, 69.123987, dec("123.456"), "foo",
        "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11", "more string stuff", Seq("foo", "bar"),
        """{"foo": "bar"}""", """{"foo": "bar"}""", d("2020-12-31"),
        ts("2020-12-31T23:59:59Z"), ntz("2020-12-31T23:59:59"))),
    Fixture(
      """(2, false, '\x00', b'0', b'0', '{}',
        | -23974, -69.123987, -123.456, '',
        | '00000000-0000-0000-0000-000000000000', '', '{}',
        | '{}', '{}', '1999-01-01',
        | '2022-06-08 20:03:06.957223+00', '2022-06-08 20:03:06.957223')""".stripMargin,
      Row(2L, false, Array[Byte](0), "0", "0",
        Seq.empty[Long], -23974, -69.123987, dec("-123.456"), "",
        "00000000-0000-0000-0000-000000000000", "", Seq.empty[String],
        "{}", "{}", d("1999-01-01"),
        ts("2022-06-08T20:03:06.957223Z"), ntz("2022-06-08T20:03:06.957223"))),
    // all-NULL payload: CONCAT must treat every NULL as '' on both engines
    Fixture(
      """(3, NULL, NULL, NULL, NULL, NULL,
        | NULL, NULL, NULL, NULL,
        | NULL, NULL, NULL,
        | NULL, NULL, NULL,
        | NULL, NULL)""".stripMargin,
      Row(3L, null, null, null, null, null, null, null, null, null,
        null, null, null, null, null, null, null, null)),
    // unicode text + a timestamptz needing ms-truncation (micros dropped)
    Fixture(
      """(10, true, '\x0aff00', b'1', b'010', '{-9223372036854775808,9223372036854775807}',
        | 0, 0.001, 0.000, 'héllo wörld',
        | 'ffffffff-ffff-4fff-8fff-ffffffffffff', 'x,y{z}', '{a,b,c,d}',
        | '{"k": [1, 2, 3]}', '{"k": [1, 2, 3]}', '1970-01-01',
        | '2021-03-04 05:06:07.123456+00', '2021-03-04 05:06:07.1')""".stripMargin,
      Row(10L, true, Array[Byte](0x0a, -1, 0x00), "1", "010",
        Seq(Long.MinValue, Long.MaxValue), 0, 0.001, dec("0.000"), "héllo wörld",
        "ffffffff-ffff-4fff-8fff-ffffffffffff", "x,y{z}", Seq("a", "b", "c", "d"),
        """{"k": [1, 2, 3]}""", """{"k": [1, 2, 3]}""", d("1970-01-01"),
        ts("2021-03-04T05:06:07.123456Z"), ntz("2021-03-04T05:06:07.100")),
    ),
    // id ordering wart: "11" sorts between "1" and "2" in the PK-concat
    // STRING order the reference uses — both engines must agree on it
    Fixture(
      """(11, false, '\xdeadbeef', b'0', b'110', '{7}',
        | 42, 1234.5678, 999999999.999, 'tail row',
        | '123e4567-e89b-42d3-a456-426614174000', 'varchar here', '{z}',
        | '{"nested": {"deep": true}}', '{"nested": {"deep": true}}', '2038-01-19',
        | '1969-12-31 23:59:59.9995+00', '1969-12-31 23:59:59.9995')""".stripMargin,
      Row(11L, false, Array[Byte](0xde.toByte, 0xad.toByte, 0xbe.toByte, 0xef.toByte),
        "0", "110", Seq(7L), 42, 1234.5678, dec("999999999.999"), "tail row",
        "123e4567-e89b-42d3-a456-426614174000", "varchar here", Seq("z"),
        """{"nested": {"deep": true}}""", """{"nested": {"deep": true}}""", d("2038-01-19"),
        ts("1969-12-31T23:59:59.999500Z"), ntz("1969-12-31T23:59:59.999500"))))

  private val sparkSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("col_boolean", BooleanType),
    StructField("col_bytea", BinaryType),
    StructField("col_bit", StringType),
    StructField("col_varbit", StringType),
    StructField("col_bigint_array", ArrayType(LongType)),
    StructField("col_integer", IntegerType),
    StructField("col_double", DoubleType),
    StructField("col_numeric", DecimalType(12, 3)),
    StructField("col_text", StringType),
    StructField("col_uuid", StringType),
    StructField("col_varchar", StringType),
    StructField("col_text_array", ArrayType(StringType)),
    StructField("col_jsonb", StringType),
    StructField("col_json", StringType),
    StructField("col_date", DateType),
    StructField("col_tstz", TimestampType),
    StructField("col_tsntz", TimestampNTZType)))

  private val spec = TableSpec("typed", Seq("id"),
    jsonColumns = Set("col_jsonb", "col_json"))
  private val cfg = VerifyConfig()

  private lazy val typedDf = {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(fixtures.map(_.sparkRow): _*), sparkSchema)
    df.cache()
    df
  }

  private lazy val seeded: Boolean = PgHarness.available && {
    psql("DROP TABLE IF EXISTS public.typed;")
    psql(createTableSql)
    psql(s"INSERT INTO public.typed VALUES ${fixtures.map(_.pgLiterals).mkString(",\n")};")
    true
  }

  private def liveOrCancel(): Unit =
    assume(seeded, "PostgreSQL binaries unavailable or server failed to start")

  test("full-mode fingerprint equals the reference SQL on a live PostgreSQL") {
    liveOrCancel()
    val pgHash = psqlScalar(PgSql.fullHashQuery("public", "typed", pgColumns))
    val sparkHash = Fingerprints.fullDigest(typedDf, spec, cfg)
    assert(sparkHash == pgHash, s"spark=$sparkHash pg=$pgHash")
  }

  test("full-mode with --hash-primary-keys equals the live reference") {
    liveOrCancel()
    val pgHash = psqlScalar(
      PgSql.fullHashQuery("public", "typed", pgColumns, hashPrimaryKeys = true))
    val sparkHash = Fingerprints.fullDigest(typedDf, spec, cfg.copy(hashPrimaryKeys = true))
    assert(sparkHash == pgHash, s"spark=$sparkHash pg=$pgHash")
  }

  test("bookend fingerprint equals the live reference (limit below row count)") {
    liveOrCancel()
    val pgHash = psqlScalar(PgSql.bookendHashQuery("public", "typed", pgColumns, limit = 2))
    val sparkHash = Fingerprints.bookendDigest(typedDf, spec, cfg.copy(bookendLimit = 2))
    assert(sparkHash == pgHash, s"spark=$sparkHash pg=$pgHash")
  }

  test("sparse fingerprint equals the live reference") {
    liveOrCancel()
    // mod 2 keeps the sparse subset non-empty at 5 rows with high probability;
    // if the md5 draw empties it, both engines must agree on that too
    val pgOut = psqlScalar(PgSql.sparseHashQuery("public", "typed", pgColumns, sparseMod = 2))
    val sparkHash = Fingerprints.sparseDigest(typedDf, spec, cfg.copy(sparseMod = 2))
    val pgHash = if (pgOut.isEmpty) Fingerprints.NoRows else pgOut
    assert(sparkHash == pgHash, s"spark=$sparkHash pg=$pgHash")
  }

  test("row count equals the live reference") {
    liveOrCancel()
    assert(psqlScalar(PgSql.rowCountQuery("public", "typed")) == fixtures.size.toString)
  }

  test("pgMd5ModPredicates partition a live table: disjoint, exhaustive, bucket-exact") {
    liveOrCancel()
    val n = 4
    val preds = JdbcTarget.pgMd5ModPredicates("id", n)
    val counts = preds.map(p =>
      psqlScalar(s"SELECT count(*) FROM public.typed WHERE $p").toLong)
    assert(counts.sum == fixtures.size.toLong,
      s"buckets ${counts.mkString(",")} must sum to ${fixtures.size}")
    // per-row bucket agreement: PG's ::bit(64)::bigint reinterpret vs our
    // HexToSignedLong expression, signed % semantics and all
    val pgBuckets = psqlLines(
      s"""SELECT id, MOD(('x' || substr(md5(CAST("id" AS text)), 1, 16))::bit(64)::bigint, $n)
         | FROM public.typed ORDER BY id""".stripMargin)
      .map { l => val Array(a, b) = l.split('|'); (a.toLong, b.toLong) }
    val sparkBuckets = typedDf
      .select(col("id"),
        graft.functions.GraftFunctions.hexToSignedLong(substring(md5(col("id").cast("string")), 1, 16)) % n)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(sparkBuckets == pgBuckets)
  }

  test("migration story: parquet == live PostgreSQL == PG's own CSV dump") {
    liveOrCancel()
    // seed PG with the region fixture rows — the actual cross-engine case:
    // the same logical table living in parquet, in PostgreSQL, and in a CSV
    // export the warehouse emitted
    val region = graft.core.Readers.fixture(spark, sfDir, "region")
    val rows = region.orderBy("r_regionkey").collect()
    psql("DROP TABLE IF EXISTS public.region; " +
      "CREATE TABLE public.region (r_regionkey integer PRIMARY KEY, r_name text); " +
      s"INSERT INTO public.region VALUES ${
        rows.map(r => s"(${r.getInt(0)}, '${r.getString(1).replace("'", "''")}')").mkString(", ")};")
    // live PG fingerprint (reference SQL) equals the Spark parquet fingerprint
    val cols = Seq(PgColumn("r_regionkey", "integer", isPk = true),
      PgColumn("r_name", "text"))
    val pgHash = psqlScalar(PgSql.fullHashQuery("public", "region", cols))
    val sparkHash = Fingerprints.fullDigest(region,
      TableSpec("region", Seq("r_regionkey")), cfg)
    assert(sparkHash == pgHash, s"spark=$sparkHash pg=$pgHash")
    // PG dumps itself to CSV (client-side \copy); the export-dump target
    // reads it back and the CLI verifies parquet vs dump clean end-to-end
    val dumpDir = Files.createTempDirectory("graft-pgdump")
    psql(s"\\copy public.region to '${dumpDir.resolve("region.csv")}' with (format csv, header)")
    java.nio.file.Files.write(dumpDir.resolve("region.schema.json"),
      region.schema.json.getBytes("UTF-8"))
    val cliCfg = Cli.parse(Seq("--tests", "full,rowcount", "--include-tables", "region",
      "--aliases", "parquet,pgdump", sfDir, dumpDir.toString)).toOption.get
    val sw = new java.io.StringWriter()
    assert(Cli.run(spark, cliCfg, sw) == 0, sw.toString)
    assert(sw.toString.contains(pgHash), sw.toString) // all three agree on the hash
  }

  test("every timestamp precision folds like live PG date_trunc — incl. week's Monday anchor and pre-1970 floor") {
    liveOrCancel()
    // the fixture's col_tstz spans: whole-second, sub-ms micros, and a
    // pre-1970 sub-second value (floor, not truncate-toward-zero, at every
    // unit); 'week' additionally pins the Monday (not epoch-Thursday) anchor
    for (precision <- Seq("microseconds", "milliseconds", "second", "minute",
      "hour", "day", "week", "month", "quarter", "year")) {
      val pgHash = psqlScalar(PgSql.fullHashQuery("public", "typed", pgColumns,
        precision = precision))
      val sparkHash = Fingerprints.fullDigest(typedDf, spec,
        cfg.copy(tsPrecision = precision))
      assert(sparkHash == pgHash, s"precision=$precision spark=$sparkHash pg=$pgHash")
    }
  }

  test("composite-PK sparse replicates the per-column IN wart against the live wire") {
    liveOrCancel()
    // the reference semi-joins EACH PK column independently against the
    // composite-concat bucket (query.go:186-205) — not equivalent to the
    // joint filter; (a, a2) collide across rows so the wart is observable
    psql("""DROP TABLE IF EXISTS public.comp;
      CREATE TABLE public.comp (a bigint, a2 bigint, v text, PRIMARY KEY (a, a2));
      INSERT INTO public.comp
        SELECT i / 10, i % 10, 'v' || i::text FROM generate_series(0, 199) AS s(i);""")
    val compCols = Seq(PgColumn("a", "bigint", isPk = true),
      PgColumn("a2", "bigint", isPk = true), PgColumn("v", "text"))
    val compDf = spark.range(0, 200).selectExpr("id div 10 as a", "id % 10 as a2",
      "concat('v', cast(id as string)) as v")
    val compSpec = TableSpec("comp", Seq("a", "a2"))
    for (mod <- Seq(2, 3)) {
      val pgOut = psqlScalar(PgSql.sparseHashQuery("public", "comp", compCols, sparseMod = mod))
      val pgHash = if (pgOut.isEmpty) Fingerprints.NoRows else pgOut
      val sparkHash = Fingerprints.sparseDigest(compDf, compSpec, cfg.copy(sparseMod = mod))
      assert(sparkHash == pgHash, s"mod=$mod spark=$sparkHash pg=$pgHash")
    }
    // full-mode on the composite table too: the PK-concat ORDER BY over two
    // casts, live-checked
    val pgFull = psqlScalar(PgSql.fullHashQuery("public", "comp", compCols))
    assert(Fingerprints.fullDigest(compDf, compSpec, cfg) == pgFull)
  }

  test("bookend with --hash-primary-keys equals the live reference") {
    liveOrCancel()
    val pgHash = psqlScalar(PgSql.bookendHashQuery("public", "typed", pgColumns,
      limit = 2, hashPrimaryKeys = true))
    val sparkHash = Fingerprints.bookendDigest(typedDf, spec,
      cfg.copy(bookendLimit = 2, hashPrimaryKeys = true))
    assert(sparkHash == pgHash, s"spark=$sparkHash pg=$pgHash")
  }

  test("float8 divergence is real and stays OUT of the matrix: PG drops '.0' on integral doubles") {
    liveOrCancel()
    // evidence for the Canon scaladoc claim that restricts canonical doubles
    // to non-integral values: PG shortest-reprs 2.0 to '2' where Java and
    // DuckDB say '2.0' — a live pin so the documented divergence can't rot
    assert(psqlScalar("SELECT 2.0::float8::text") == "2")
    assert(psqlScalar("SELECT 69.123987::float8::text") == "69.123987")
    import spark.implicits._
    val sparkRender = Seq(2.0).toDF("d")
      .select(graft.canon.Canon.canonCol(col("d"),
        org.apache.spark.sql.types.DoubleType)).as[String].head()
    assert(sparkRender == "2.0") // the divergence the fixture dodges
  }

  test("catalog discovery runs live: PK detection, generated-column filter, view exclusion") {
    liveOrCancel()
    psql("""DROP TABLE IF EXISTS public.disco CASCADE;
      CREATE TABLE public.disco (
        a bigint, b text, a2 bigint,
        gen bigint GENERATED ALWAYS AS (a * 2) STORED,
        uniq text UNIQUE,
        PRIMARY KEY (a, a2));
      CREATE OR REPLACE VIEW public.disco_view AS SELECT a FROM public.disco;""")
    // S1: the tables query sees the table, never the view; include wins
    val tables = psqlLines(PgSql.getTablesQuery(
      includeSchemas = Seq("public"), includeTables = Seq("disco", "disco_view")))
    assert(tables == Seq("public|disco"), tables)
    // exclude path drops it
    assert(!psqlLines(PgSql.getTablesQuery(includeSchemas = Seq("public"),
      excludeTables = Seq("disco"))).contains("public|disco"))
    // S2/J1/P5: the columns query returns the generated column NEVER, both
    // PK members tagged PRIMARY KEY, and the unique column's constraint
    // distinct from a PK — exactly the rows the reference builds specs from
    val cols = psqlLines(PgSql.getColumnsQuery("public", "disco"))
      .map(_.split('|')).map(a => (a(0), a.lift(3).getOrElse("")))
    assert(!cols.exists(_._1 == "gen"), cols)
    val pks = cols.collect { case (n, "PRIMARY KEY") => n }.sorted
    assert(pks == Seq("a", "a2"), cols)
    assert(cols.exists { case (n, c) => n == "uniq" && c == "UNIQUE" }, cols)
    // a column may appear once per constraint membership; the spec-building
    // rule (PK = any row tagged PRIMARY KEY) dedups naturally
    assert(cols.map(_._1).distinct.sorted == Seq("a", "a2", "b", "uniq"), cols)
  }

  test("CLI verifies a live PostgreSQL target (pg:conninfo) against parquet, end to end") {
    liveOrCancel()
    // seed PG with nation + region so discovery finds MULTIPLE tables and
    // PKs live; parquet presents as schema 'public' to pair with PG's
    val region = graft.core.Readers.fixture(spark, sfDir, "region")
    val nation = graft.core.Readers.fixture(spark, sfDir, "nation")
    psql("DROP TABLE IF EXISTS public.region; DROP TABLE IF EXISTS public.nation; " +
      "CREATE TABLE public.region (r_regionkey integer PRIMARY KEY, r_name text); " +
      s"INSERT INTO public.region VALUES ${region.collect().map(r =>
        s"(${r.getInt(0)}, '${r.getString(1).replace("'", "''")}')").mkString(", ")}; " +
      "CREATE TABLE public.nation (n_nationkey integer PRIMARY KEY, n_name text, n_regionkey integer); " +
      s"INSERT INTO public.nation VALUES ${nation.collect().map(r =>
        s"(${r.getInt(0)}, '${r.getString(1).replace("'", "''")}', ${r.getInt(2)})").mkString(", ")};")
    val conninfo = PgHarness.conninfo
    // stats included deliberately: its min/max only agree because PsqlTarget
    // re-casts numerics to the discovered Spark types (string min/max would
    // order '10' before '2')
    val cliCfg = Cli.parse(Seq("--tests", "full,bookend,sparse,rowcount,stats",
      "--include-tables", "region,nation", "--parquet-schema", "public",
      "--aliases", "pg,parquet", s"pg:$conninfo", sfDir)).toOption.get
    // the run deletes the \copy staging it created once it has ended
    def staging: Set[String] = Option(new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft-psql-")).map(_.getName).toSet
    val stagedBefore = staging
    val sw = new java.io.StringWriter()
    assert(Cli.run(spark, cliCfg, sw) == 0, sw.toString)
    assert((staging -- stagedBefore).isEmpty, staging -- stagedBefore)
    assert(sw.toString.contains("region") && sw.toString.contains("nation"), sw.toString)
    // and a perturbed PG row makes the live pair FAIL — the check can fire
    psql("UPDATE public.nation SET n_name = n_name || 'X' WHERE n_nationkey = 3;")
    val sw2 = new java.io.StringWriter()
    assert(Cli.run(spark, cliCfg, sw2) == 1, sw2.toString)
    assert((staging -- stagedBefore).isEmpty, staging -- stagedBefore)
    psql("UPDATE public.nation SET n_name = rtrim(n_name, 'X') WHERE n_nationkey = 3;")
  }

  test("partitioned psql pull: 4 concurrent range scans digest identically to one pipe") {
    liveOrCancel()
    psql("""DROP TABLE IF EXISTS public.bigt;
      CREATE TABLE public.bigt (id bigint PRIMARY KEY, v text);
      INSERT INTO public.bigt
        SELECT i, 'row' || i::text FROM generate_series(0, 9999) AS s(i);""")
    val single = graft.core.PsqlTarget("pg1", PgHarness.conninfo)
    val split = graft.core.PsqlTarget("pg4", PgHarness.conninfo, readPartitions = 4)
    val bigtSpec = TableSpec("bigt", Seq("id"))
    val a = Fingerprints.fullDigest(single.read(spark, "public.bigt"), bigtSpec, cfg)
    val b = Fingerprints.fullDigest(split.read(spark, "public.bigt"), bigtSpec, cfg)
    assert(a == b && a != Fingerprints.NoRows, s"single=$a split=$b")
    // row counts agree too (ranges are disjoint and exhaustive)
    assert(split.read(spark, "public.bigt").count() == 10000L)
  }

  test("empty table: live reference returns NULL aggregate, engine says no rows") {
    liveOrCancel()
    psql("DROP TABLE IF EXISTS public.typed_empty; " +
      "CREATE TABLE public.typed_empty (id bigint PRIMARY KEY, v text);")
    val cols = Seq(PgColumn("id", "bigint", isPk = true), PgColumn("v", "text"))
    val pgOut = psqlScalar(PgSql.fullHashQuery("public", "typed_empty", cols))
    assert(pgOut.isEmpty) // psql renders the NULL string_agg as empty
    val emptyDf = spark.createDataFrame(
      java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))))
    assert(Fingerprints.fullDigest(emptyDf, TableSpec("typed_empty", Seq("id")), cfg)
      == Fingerprints.NoRows)
  }
}

/** One throwaway PostgreSQL cluster per JVM, unix-socket only, started lazily
  * and torn down on JVM exit. PostgreSQL refuses to run as root, so when the
  * test JVM is root every server-side command is wrapped in
  * `runuser -u pguser` (creating the unprivileged user if absent);
  * client-side `psql` runs as the current user either way.
  */
object PgHarness {

  private def which(bin: String): Boolean =
    Process(Seq("sh", "-c", s"command -v $bin")).!(ProcessLogger(_ => ())) == 0

  private lazy val isRoot: Boolean =
    Process(Seq("id", "-u")).!!.trim == "0"

  /** Wrap a server-side command for the unprivileged user when root. */
  private def asPgUser(cmd: Seq[String]): Seq[String] =
    if (isRoot) Seq("runuser", "-u", "pguser", "--") ++ cmd else cmd

  private def run(cmd: Seq[String]): Int = {
    val sb = new StringBuilder
    val code = Process(cmd).!(ProcessLogger(l => sb.append(l).append('\n'), l => sb.append(l).append('\n')))
    if (code != 0) System.err.println(s"[PgHarness] ${cmd.mkString(" ")} -> $code\n$sb")
    code
  }

  @volatile private var sockDir: Path = _

  /** Start (once) and report availability; false cancels the suite's tests. */
  lazy val available: Boolean = synchronized {
    try {
      if (!which("initdb") || !which("pg_ctl") || !which("psql")) false
      else {
        if (isRoot && run(Seq("id", "-u", "pguser")) != 0 &&
          run(Seq("useradd", "-m", "pguser")) != 0) false
        else {
          val base = Files.createTempDirectory("graft-pg")
          val data = base.resolve("data")
          sockDir = base.resolve("sock")
          Files.createDirectories(sockDir)
          if (isRoot) {
            run(Seq("chown", "-R", "pguser", base.toString))
          }
          val init = run(asPgUser(Seq("initdb", "-D", data.toString, "-U", "graft",
            "--no-sync", "-E", "UTF8", "--locale=C")))
          val started = init == 0 && run(asPgUser(Seq("pg_ctl", "-D", data.toString,
            "-o", s"-c listen_addresses='' -k $sockDir -c fsync=off",
            "-l", base.resolve("pg.log").toString, "start"))) == 0
          if (started) {
            sys.addShutdownHook {
              run(asPgUser(Seq("pg_ctl", "-D", data.toString, "stop", "-m", "immediate")))
            }
            // wait for the socket (pg_ctl start already waits, belt+braces)
            (1 to 50).exists { _ =>
              if (Files.list(sockDir).findFirst().isPresent) true
              else { Thread.sleep(100); false }
            }
          } else false
        }
      }
    } catch { case _: Exception => false }
  }

  /** libpq conninfo for this cluster — what `pg:<conninfo>` CLI targets take. */
  def conninfo: String = s"host=$sockDir user=graft dbname=postgres"

  /** Run a SQL script; throws on failure (tests treat that as a real red). */
  def psql(sql: String): Unit = {
    val f = Files.createTempFile("graft-psql", ".sql")
    Files.write(f, sql.getBytes("UTF-8"))
    val code = run(Seq("psql", "-h", sockDir.toString, "-U", "graft", "-d", "postgres",
      "-v", "ON_ERROR_STOP=1", "-q", "-f", f.toString))
    Files.deleteIfExists(f)
    require(code == 0, s"psql failed for script:\n$sql")
  }

  /** Run one query, return the single scalar as text ('' for NULL). */
  def psqlScalar(sql: String): String = psqlLines(sql) match {
    case Seq() => ""
    case Seq(one) => one
    case more => sys.error(s"expected one row, got ${more.size}: $more")
  }

  /** Run one query, return tuples-only unaligned lines. */
  def psqlLines(sql: String): Seq[String] = {
    val f = Files.createTempFile("graft-psql", ".sql")
    Files.write(f, sql.getBytes("UTF-8"))
    val out = new StringBuilder
    val code = Process(Seq("psql", "-h", sockDir.toString, "-U", "graft", "-d", "postgres",
      "-v", "ON_ERROR_STOP=1", "-tA", "-f", f.toString))
      .!(ProcessLogger(l => out.append(l).append('\n'), l => System.err.println(s"[psql] $l")))
    Files.deleteIfExists(f)
    require(code == 0, s"psql failed for query:\n$sql")
    out.toString.split('\n').toSeq.filter(_.nonEmpty)
  }
}
