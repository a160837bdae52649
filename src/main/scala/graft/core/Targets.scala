package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Column metadata as discovered per table — the analogue of the reference's
  * `column` struct (/root/reference/column.go:10-14) with constraint strings
  * collapsed to the one bit the engine uses (/root/reference/column.go:18-20).
  */
case class ColumnMeta(name: String, dataType: String, isPrimaryKey: Boolean)

/** Per-table verification spec: primary-key columns plus optional column
  * include/exclude filters (/root/reference/verify.go:138-144). Tables with no
  * PK are skipped by the run loop (/root/reference/verify.go:194-198).
  */
case class TableSpec(table: String, pks: Seq[String],
                     includeColumns: Seq[String] = Nil, excludeColumns: Seq[String] = Nil,
                     jsonColumns: Set[String] = Set.empty) {
  /** include list wins over exclude — /root/reference/verify.go:138-144 (P6).
    * Matched case-insensitively: with per-target discovery the same logical
    * column arrives as `O_COMMENT` from Derby and `o_comment` from PG, and an
    * exact-case filter would silently exclude it on only one side — a
    * guaranteed spurious mismatch.
    */
  def validColumn(name: String): Boolean =
    if (includeColumns.nonEmpty) includeColumns.exists(_.equalsIgnoreCase(name))
    else !excludeColumns.exists(_.equalsIgnoreCase(name))
}

/** Schema include/exclude filter applied at catalog discovery — the analogue
  * of the reference baking `--include-schemas`/`--exclude-schemas` into its
  * `information_schema.tables` WHERE clause (/root/reference/query.go:25-50).
  * Include wins over exclude, same as tables/columns; names match
  * case-insensitively (Derby reports `APP`, PG would report `app`).
  */
case class SchemaFilter(include: Seq[String] = Nil, exclude: Seq[String] = Nil) {
  def accepts(schema: String): Boolean =
    if (include.nonEmpty) include.exists(_.equalsIgnoreCase(schema))
    else !exclude.exists(_.equalsIgnoreCase(schema))
}

object SchemaFilter {
  val All: SchemaFilter = SchemaFilter()
}

/** One verification target — the analogue of one `*pgx.ConnConfig` database
  * (/root/reference/verify.go:16-23). Reading is lazy; `tables` is the S1
  * catalog scan.
  */
sealed trait Target {
  def name: String
  def tables(spark: SparkSession, schemas: SchemaFilter): Seq[String]
  final def tables(spark: SparkSession): Seq[String] = tables(spark, SchemaFilter.All)
  def read(spark: SparkSession, table: String): DataFrame
}

/** Directory of `<table>.parquet` files; the primary target kind for the
  * driver harness (TESTDATA.md). Table discovery = directory listing, the
  * parquet analogue of scanning `information_schema.tables`
  * (/root/reference/query.go:21-100).
  *
  * `tweaks` lets a test build a deliberately-perturbed target (extra/missing/
  * changed rows) from the same files — the analogue of the reference's
  * negative integration test (/root/reference/integration_test.go:370-375).
  *
  * `schemaName` is the implicit schema the directory presents as (default
  * `main`). The comparison keys results on (schema, table), so a parquet dir
  * verified AGAINST a live engine must present as that engine's schema —
  * parquet-vs-Derby pairs `APP`, parquet-vs-PG pairs `public` (matched
  * case-insensitively by the A3 merge). With the default name tables list
  * bare, exactly as before; a custom name lists them schema-qualified.
  */
case class ParquetTarget(name: String, dir: String,
                         tweaks: Map[String, DataFrame => DataFrame] = Map.empty,
                         schemaName: String = VerifyRun.SchemaName) extends Target {
  /** Parquet directories carry a single implicit schema; the schema filter
    * either keeps or drops the whole target's catalog.
    */
  override def tables(spark: SparkSession, schemas: SchemaFilter): Seq[String] = {
    if (!schemas.accepts(schemaName)) return Nil
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    val bare = files.iterator.map(_.getName).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).toSeq.sorted
    if (schemaName == VerifyRun.SchemaName) bare else bare.map(t => s"$schemaName.$t")
  }

  override def read(spark: SparkSession, table: String): DataFrame = {
    val bare = table.stripPrefix(s"$schemaName.")
    val df = Readers.fixture(spark, dir, bare)
    tweaks.get(bare).map(_(df)).getOrElse(df)
  }
}

/** Directory of `<table>.csv` or `<table>.json`/`.jsonl` files — the
  * export-dump target kind: verify a warehouse (parquet/JDBC) table against
  * the flat-file dump a pipeline emitted, the "did the export lose rows"
  * check. Same implicit-schema contract as [[ParquetTarget]].
  *
  * Schema: a `<table>.schema.json` sidecar (Spark `StructType.json`) is
  * honored when present — an engine-produced export should carry its
  * schema — otherwise header+inference, with the canonicalizing projection
  * absorbing representational drift (int-vs-long, double rendering) the
  * same way it absorbs cross-engine drift; ScaleSpec pins the
  * format-independence of the fingerprint.
  */
case class FileTarget(name: String, dir: String, format: String,
                      schemaName: String = VerifyRun.SchemaName) extends Target {
  require(FileTarget.Extensions.contains(format), s"unsupported format: $format")
  private def exts = FileTarget.Extensions(format)

  override def tables(spark: SparkSession, schemas: SchemaFilter): Seq[String] = {
    if (!schemas.accepts(schemaName)) return Nil
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    val bare = files.iterator.map(_.getName)
      .filterNot(_.endsWith(".schema.json"))
      .flatMap(n => exts.collectFirst { case e if n.endsWith(e) => n.stripSuffix(e) })
      .toSeq.distinct.sorted
    if (schemaName == VerifyRun.SchemaName) bare else bare.map(t => s"$schemaName.$t")
  }

  override def read(spark: SparkSession, table: String): DataFrame = {
    val bare = table.stripPrefix(s"$schemaName.")
    val ext = exts.find(e => new java.io.File(s"$dir/$bare$e").exists())
      .getOrElse(sys.error(s"no ${exts.mkString("/")} file for table $bare in $dir"))
    val sidecar = new java.io.File(s"$dir/$bare.schema.json")
    val reader = spark.read
    val withSchema =
      if (sidecar.exists())
        reader.schema(org.apache.spark.sql.types.DataType
          .fromJson(new String(java.nio.file.Files.readAllBytes(sidecar.toPath), "UTF-8"))
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      else reader.option("inferSchema", "true")
    format match {
      case "csv"  => withSchema.option("header", "true").csv(s"$dir/$bare$ext")
      case "json" => withSchema.json(s"$dir/$bare$ext")
    }
  }
}

object FileTarget {
  val Extensions: Map[String, Seq[String]] =
    Map("csv" -> Seq(".csv"), "json" -> Seq(".json", ".jsonl"))

  /** Which file-target format a directory holds, if any — how the CLI
    * decides a positional arg is an export dump rather than a parquet dir.
    */
  def detectFormat(dir: String): Option[String] = {
    val names = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filterNot(_.endsWith(".schema.json"))
    if (names.exists(_.endsWith(".parquet"))) None
    else Extensions.collectFirst {
      case (fmt, exts) if names.exists(n => exts.exists(n.endsWith)) => fmt
    }
  }
}

/** Parquet reading with one normalization: nanosecond-precision timestamp
  * columns. Spark has no TIMESTAMP(NANOS) type — sessions set
  * `spark.sql.legacy.parquet.nanosAsLong=true` and this reader converts the
  * raw nanos to a microsecond TimestampType via integer division (truncation
  * toward zero), which matches how DuckDB coerces ns parquet to its µs
  * TIMESTAMP, keeping oracle parity.
  */
object Readers {
  import scala.util.control.NonFatal
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
  import org.apache.spark.sql.execution.{FileSourceScanExec, InputRDDCodegen, SparkPlan, UnionExec}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec,
    BroadcastQueryStageExec, ShuffleQueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  import org.apache.spark.sql.execution.datasources.FilePartition
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
  import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, REPARTITION_BY_NUM,
    ShuffleExchangeLike}
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** One task's worth of input: a frame that reads fewer bytes runs unspread. */
  val SpreadFloorBytes: Long = 256L * 1024

  /** Spread rows across all cores before a CPU-heavy per-row stage
    * (canonicalize+md5, MinHash signatures, gram hashing): repartition by
    * `key` to `defaultParallelism` partitions unless
    *  - the bytes the input reads ([[inputBytes]]) are under
    *    [[SpreadFloorBytes]] (a 5-row dimension table pays no exchange), or
    *  - the input already arrives in at least half that many partitions
    *    that hold rows ([[plannedPartitions]]): a splittable table scans in
    *    parallel natively, and an exchange in front of the projection would
    *    move every row only to spread work the scan already spreads.
    *
    * A streaming frame always spreads: a micro-batch's layout is unknown
    * when the query is planned. An explicit count, not `repartition(col)`:
    * adaptive execution sizes shuffles by bytes and would coalesce a few-MB
    * frame back to one partition even though the downstream cost is CPU per
    * row. Deciding reads the plan and parquet footers only, so it starts no
    * job. Callers' results must not depend on the partitioning (for every
    * caller here they do not).
    */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    def parallel =
      try 2 * plannedPartitions(df.queryExecution.executedPlan) >= n
      catch { case NonFatal(_) => false }
    if (!df.isStreaming && (inputBytes(df) < SpreadFloorBytes || parallel)) df
    else df.repartition(n, key)
  }

  /** The estimated bytes `df` reads: the sum of its plan's leaves (for a
    * parquet scan, its files' size). Not the estimate of `df` itself: that
    * scales a projection by default type widths (20 bytes a string), which
    * says nothing of the rows a per-row kernel will process.
    */
  private[graft] def inputBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes).sum

  /** The partitions that hold rows when a physical plan's input arrives,
    * read off the plan without executing it:
    *  - a parquet scan counts the splits that contain a row group's
    *    midpoint, the rule parquet's reader assigns row groups by; footers
    *    are read only for files the scan cuts into more than one split;
    *  - other scans (JDBC, local, a checkpoint's RDD) count their splits;
    *  - an exchange counts its partitions when they are fixed (an explicit
    *    `repartition(n)`, or no adaptive coalescing), and as one when
    *    adaptive execution may coalesce them; a broadcast counts none.
    * Building these RDDs lists splits only: no job starts and no code is
    * compiled, where `df.rdd` would run adaptive shuffle stages to learn
    * the same number.
    */
  private[graft] def plannedPartitions(plan: SparkPlan): Int = {
    def go(p: SparkPlan, coalescing: Boolean): Int = p match {
      case s: FileSourceScanExec if !s.partitionFilters.exists(_.isInstanceOf[DynamicPruningExpression]) =>
        fileSplitsWithRows(s)
      case s: InputRDDCodegen if s.children.isEmpty => s.inputRDD.getNumPartitions
      case _: BroadcastExchangeLike | _: BroadcastQueryStageExec => 0
      case r: AQEShuffleReadExec => r.partitionSpecs.size
      case s: ShuffleQueryStageExec => s.shuffle.numPartitions
      case e: ShuffleExchangeLike =>
        if (!coalescing || e.shuffleOrigin == REPARTITION_BY_NUM) e.numPartitions else 1
      case a: AdaptiveSparkPlanExec =>
        go(a.executedPlan, a.context.session.sessionState.conf.coalesceShufflePartitionsEnabled)
      case m: InMemoryTableScanExec => go(m.relation.cachedPlan, coalescing)
      case u: UnionExec => u.children.map(go(_, coalescing)).sum
      case leaf if leaf.children.isEmpty => leaf.outputPartitioning.numPartitions max 1
      case other => other.children.map(go(_, coalescing)).max
    }
    go(plan, coalescing = false) max 1
  }

  /** A file scan's splits that hold rows (see [[plannedPartitions]]). */
  private def fileSplitsWithRows(scan: FileSourceScanExec): Int = {
    val splits = scan.inputRDD.partitions.toSeq.collect { case p: FilePartition => p.files.toSeq }
    if (!scan.relation.fileFormat.isInstanceOf[ParquetFileFormat]) splits.size
    else {
      val spark = scan.relation.sparkSession
      val midpoints = splits.flatten.groupBy(_.toPath).collect {
        case (path, pieces) if pieces.size > 1 =>
          path -> scala.jdk.CollectionConverters.ListHasAsScala(footer(spark, path).getBlocks)
            .asScala.map(b => b.getStartingPos + b.getCompressedSize / 2).toSeq
      }
      splits.count(_.exists { f =>
        midpoints.get(f.toPath).forall(_.exists(m => m >= f.start && m < f.start + f.length))
      })
    }
  }

  /** A fixture table: [[parquet]] plus [[normalizeNtz]]. */
  def fixture(spark: SparkSession, dir: String, table: String): DataFrame =
    normalizeNtz(parquet(spark, s"$dir/$table.parquet"))

  /** `spark.read.parquet(path)` with every TIMESTAMP(NANOS) column — which
    * graft sessions read as raw int64 nanos (`nanosAsLong`) — converted to
    * a microsecond TimestampType. The columns come from the parquet
    * footer's logical-type annotations ([[nanosColumns]]), so a column
    * that merely holds int64 values stays a number.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    nanosColumns(spark, path).foldLeft(df) { (d, c) =>
      if (d.schema.fields.exists(f => f.name == c && f.dataType == LongType))
        // integer `div`, not `/`: the nanos exceed a double's exact range
        d.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
      else d
    }
  }

  /** Top-level columns stored as TIMESTAMP(NANOS), read off the footer of
    * the first data file under `path` (a file or a directory): one footer
    * read through parquet-hadoop, no Spark job.
    */
  private def nanosColumns(spark: SparkSession, path: String): Seq[String] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    dataFiles(spark, path).take(1).toSeq.flatMap { file =>
      val schema = footer(spark, file).getFileMetaData.getSchema
      scala.jdk.CollectionConverters.ListHasAsScala(schema.getFields).asScala.collect {
        case f if f.isPrimitive && (f.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        }) => f.getName
      }.toSeq
    }
  }

  /** The rows of the parquet data under `path` (a file, or a directory
    * such as a partitioned write), summed from the file footers: no Spark
    * job and no schema inference.
    */
  def parquetRows(spark: SparkSession, path: String): Long =
    dataFiles(spark, path).map { f =>
      scala.jdk.CollectionConverters.ListHasAsScala(footer(spark, f).getBlocks).asScala
        .map(_.getRowCount).sum
    }.sum

  /** Data files under `path`, recursively, skipping what Spark's file
    * index skips: a file or directory whose name starts with `.`, or with
    * `_` and has no `=` (`_SUCCESS`, `.crc` checksums, `_temporary`; a
    * partition directory such as `_k=1` is kept), or ends with `._COPYING_`
    * (a copy in flight). Every other file is read as parquet.
    */
  private def dataFiles(spark: SparkSession, path: String): Iterator[org.apache.hadoop.fs.Path] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(path))
    val files = fs.listFiles(root, true)
    def hidden(p: Path): Boolean = p.depth() > root.depth() &&
      ((p.getName.startsWith("_") && !p.getName.contains("=")) ||
        p.getName.startsWith(".") || p.getName.endsWith("._COPYING_") || hidden(p.getParent))
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath).filterNot(hidden)
  }

  private def footer(spark: SparkSession, file: org.apache.hadoop.fs.Path) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try reader.getFooter finally reader.close()
  }

  /** Session-timestamp normalize: parquet written with naive (isAdjustedToUTC
    * = false) timestamps reads as TIMESTAMP_NTZ when the session infers NTZ
    * (`spark.sql.parquet.inferTimestampNTZ.enabled`, default true in Spark 4).
    * Every downstream operator expects session-TZ TimestampType (`unix_micros`
    * rejects NTZ outright), and all graft sessions pin UTC, where the cast is
    * the identity on the stored micros — the same reading DuckDB's `epoch_us`
    * gives the naive value. Schema-driven, so it covers any fixture column the
    * generator switches to naive encoding, not a hard-coded list.
    */
  def normalizeNtz(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.dataType == TimestampNTZType).foldLeft(df) {
      (d, f) => d.withColumn(f.name, col(f.name).cast(TimestampType))
    }
}

/** JDBC target — the faithful analogue of the reference's PostgreSQL targets.
  * Exercised live against embedded Derby in JdbcSpec/CliSpec: discovery reads
  * the same three information_schema tables the reference queries and
  * reproduces its two LEFT OUTER catalog joins (J1,
  * /root/reference/query.go:102-118) as Spark joins — tiny dimension tables,
  * so Catalyst plans them as broadcast joins.
  *
  * Data reads are PARTITIONED: the reference never pulls a table through the
  * wire (all compute pushes down, one scalar row returns per query,
  * /root/reference/verify.go:239-255), but this engine reads whole tables
  * into Spark — and a single-connection JDBC scan is the one-task bottleneck
  * at scale. [[read]] therefore probes the discovered PK and splits the scan:
  *
  *  - numeric PK → `partitionColumn` + MIN/MAX bounds (one tiny pushdown
  *    probe); each of the N tasks is a server-side index RANGE scan, so the
  *    source does ONE total pass. Truncating fractional bounds to long is
  *    safe: Spark leaves the first/last ranges open-ended, so coverage is
  *    exhaustive regardless of bound tightness.
  *  - non-numeric PK → N mutually exclusive hash-mod predicates over the
  *    first PK column — the reference's own P7 bucket trick
  *    (/root/reference/query.go:193) turned into a partitioner. The
  *    expression is dialect SQL, so the generator is pluggable
  *    (`stringPkPredicates`); PostgreSQL URLs get the md5 formulation by
  *    default, any other engine stays single-partition unless a generator
  *    is supplied (never ship one dialect's SQL to another's parser).
  *  - no PK / empty table / readPartitions == 1 → the plain single-partition
  *    read this replaces.
  *
  * `readPartitions` == 0 means "one per local core" (defaultParallelism); a
  * cluster deployment sets it from table stats. Catalog reads are never
  * partitioned — information_schema tables are tiny.
  */
case class JdbcTarget(name: String, url: String,
                      props: java.util.Properties = new java.util.Properties,
                      readPartitions: Int = 0,
                      stringPkPredicates: Option[(String, Int) => Seq[String]] = None)
    extends Target {

  private def readTable(spark: SparkSession, dbtable: String): DataFrame =
    spark.read.format("jdbc").option("url", url).option("dbtable", dbtable)
      .options(scala.jdk.CollectionConverters.PropertiesHasAsScala(props).asScala.toMap)
      .load()

  /** S1: user tables, views excluded (/root/reference/query.go:23), with the
    * schema include/exclude filter applied in the catalog scan itself
    * (/root/reference/query.go:25-50) so excluded schemas are never even
    * listed, let alone read.
    */
  override def tables(spark: SparkSession, schemas: SchemaFilter): Seq[String] = {
    import spark.implicits._
    val base = readTable(spark, "information_schema.tables")
      .filter(col("table_type") =!= "VIEW")
      .filter(!col("table_schema").isin("pg_catalog", "information_schema"))
    val filtered =
      if (schemas.include.nonEmpty)
        base.filter(lower(col("table_schema")).isin(schemas.include.map(_.toLowerCase): _*))
      else if (schemas.exclude.nonEmpty)
        base.filter(!lower(col("table_schema")).isin(schemas.exclude.map(_.toLowerCase): _*))
      else base
    filtered
      .select(concat_ws(".", col("table_schema"), col("table_name")).as[String])
      .collect().toSeq.sorted
  }

  /** S2+J1: columns ⟕ key_column_usage ⟕ table_constraints, excluding
    * always-generated columns (/root/reference/query.go:102-118, P5).
    * Returned in catalog `ordinal_position` order (SQL-standard column), not
    * alphabetically: DDL order is load-bearing downstream — the leading PK
    * column of a composite key is conventionally the high-cardinality one,
    * which [[resolveSplit]] prefers when it has no span statistics.
    */
  def discoverColumns(spark: SparkSession, schema: String, table: String): Seq[ColumnMeta] = {
    val cols = readTable(spark, "information_schema.columns")
      .filter(col("table_schema") === schema && col("table_name") === table)
      .filter(coalesce(col("is_generated"), lit("")) =!= "ALWAYS")
      .select("column_name", "data_type", "ordinal_position", "table_schema", "table_name")
    val kcu = readTable(spark, "information_schema.key_column_usage")
      .select("column_name", "table_schema", "table_name", "constraint_name")
    val tc = readTable(spark, "information_schema.table_constraints")
      .select("constraint_name", "constraint_type")
    cols
      .join(kcu, Seq("column_name", "table_name", "table_schema"), "left_outer")
      .join(tc, Seq("constraint_name"), "left_outer")
      .groupBy("column_name", "data_type")
      // coalesce: a column with no constraints has all-NULL constraint_type,
      // and max() over it is NULL — getBoolean would NPE
      .agg(coalesce(max(col("constraint_type") === "PRIMARY KEY"), lit(false)).as("is_pk"),
           min(col("ordinal_position").cast("long")).as("ord"))
      .collect()
      .sortBy(_.getLong(3))
      .map(r => ColumnMeta(r.getString(0), r.getString(1), r.getBoolean(2)))
      .toSeq
  }

  private def quote(table: String): String =
    table.split("\\.").map(p => "\"" + p + "\"").mkString(".")

  private val splitCache = scala.collection.concurrent.TrieMap.empty[String, JdbcTarget.ScanSplit]

  /** Integer-family catalog types a `partitionColumn` range split handles.
    * Floating/decimal PKs also work (bounds are truncated, end ranges are
    * open) but are vanishingly rare as keys; anything else hash-splits.
    */
  private val RangeTypes = Set(
    "smallint", "integer", "bigint", "int", "int2", "int4", "int8",
    "serial", "bigserial", "numeric", "decimal", "double precision", "real")

  /** The hash-split generator in effect: an explicit one wins; PostgreSQL
    * URLs default to the reference's P7 md5 expression; other engines get
    * none (their string-PK tables read single-partition).
    */
  private def hashGenerator: Option[(String, Int) => Seq[String]] =
    stringPkPredicates.orElse(
      if (url.startsWith("jdbc:postgresql")) Some(JdbcTarget.pgMd5ModPredicates _)
      else None)

  /** Pick the split for an `n`-partition read. A composite PK can mix a wide
    * surrogate key with a narrow discriminator (lineitem's `(l_orderkey,
    * l_linenumber)`): Spark clamps `numPartitions` to `upperBound −
    * lowerBound`, so splitting on the narrow column silently collapses the
    * read to a handful of skewed connections. So: probe MIN/MAX of EVERY
    * range-typed PK candidate in ONE pushdown query, split on the widest
    * span, and when even that span cannot feed `n` partitions prefer the
    * hash-split (uniform buckets regardless of value distribution).
    */
  private[graft] def resolveSplit(spark: SparkSession, table: String, n: Int): JdbcTarget.ScanSplit = {
    import JdbcTarget.{ScanSplit, RangeSplit, HashSplit, NoSplit}
    val (schema, bare) = VerifyRun.splitName(table)
    val pks = discoverColumns(spark, schema, bare).filter(_.isPrimaryKey)
    if (pks.isEmpty) return NoSplit
    // catalog case may differ from the result-set's physical case (the
    // JdbcSpec Derby mirror reports PG-style lowercase for an uppercase
    // physical column); align via one WHERE-1=0 metadata fetch
    val physical = readTable(spark, quote(table)).schema.fieldNames
    def phys(name: String): String =
      physical.find(_.equalsIgnoreCase(name)).getOrElse(name)
    val candidates = pks.filter(c => RangeTypes.contains(c.dataType.toLowerCase))
    val widest: Option[RangeSplit] =
      if (candidates.isEmpty) None
      else {
        // one round-trip regardless of PK arity; `query` (not dbtable) so
        // Spark wraps and aliases the subquery itself
        val sel = candidates.zipWithIndex.map { case (c, i) =>
          s"""MIN("${phys(c.name)}") AS lo$i, MAX("${phys(c.name)}") AS hi$i"""
        }.mkString(", ")
        val row = spark.read.format("jdbc").option("url", url)
          .option("query", s"SELECT $sel FROM ${quote(table)}")
          .options(scala.jdk.CollectionConverters.PropertiesHasAsScala(props).asScala.toMap)
          .load()
          .select(candidates.indices.flatMap(i =>
            Seq(col(s"lo$i").cast("long"), col(s"hi$i").cast("long"))): _*)
          .head()
        if (row.isNullAt(0)) return NoSplit // empty table: every MIN is NULL
        val spans = candidates.zipWithIndex.map { case (c, i) =>
          RangeSplit(phys(c.name), row.getLong(2 * i), row.getLong(2 * i + 1))
        }
        Some(spans.maxBy(s => s.hi - s.lo))
      }
    widest match {
      case Some(best) if best.hi - best.lo + 1 >= n.toLong => best
      // even the widest span clamps below n → hash-split beats a skewed
      // handful of range connections (and PK order puts the conventional
      // high-cardinality leading column first for the bucket key)
      case _ if hashGenerator.isDefined => HashSplit(phys(pks.head.name))
      case Some(best) => best // narrow but parallel still beats 1 connection
      case None => NoSplit
    }
  }

  /** Data reads quote each identifier part: discovery returns PHYSICAL
    * catalog case (`APP.VERIFYME` from Derby, `public.verifyme` from PG), and
    * only a quoted reference reads back a table whose physical name is not
    * the engine's unquoted-identifier fold (e.g. a lowercase quoted table in
    * Derby). Catalog reads stay unquoted — `information_schema` is itself an
    * unquoted name.
    */
  override def read(spark: SparkSession, table: String): DataFrame = {
    import JdbcTarget.{RangeSplit, HashSplit, NoSplit}
    val n = if (readPartitions > 0) readPartitions
            else spark.sparkContext.defaultParallelism
    val split = if (n <= 1) NoSplit
                else splitCache.getOrElseUpdate(table, resolveSplit(spark, table, n))
    split match {
      case RangeSplit(column, lo, hi) =>
        spark.read.format("jdbc").option("url", url).option("dbtable", quote(table))
          .option("partitionColumn", column)
          .option("lowerBound", lo.toString).option("upperBound", hi.toString)
          .option("numPartitions", n.toString)
          .options(scala.jdk.CollectionConverters.PropertiesHasAsScala(props).asScala.toMap)
          .load()
      case HashSplit(column) =>
        // the generator receives the BARE physical column name and owns its
        // quoting (identifier rules are dialect property like the hash SQL)
        val preds = hashGenerator.get(column, n)
        require(preds.length == n, s"predicate generator returned ${preds.length} for $n")
        spark.read.jdbc(url, quote(table), preds.toArray, props)
      case NoSplit => readTable(spark, quote(table))
    }
  }
}

object JdbcTarget {
  /** How to split one table's scan, resolved once per table per target.
    * Package-visible so specs can assert the chosen split column directly.
    */
  private[graft] sealed trait ScanSplit
  private[graft] case class RangeSplit(column: String, lo: Long, hi: Long) extends ScanSplit
  private[graft] case class HashSplit(column: String) extends ScanSplit
  private[graft] case object NoSplit extends ScanSplit

  /** Default hash-split predicates (PostgreSQL dialect): the reference's P7
    * signed-64 md5 bucket expression (/root/reference/query.go:193) as N
    * mutually exclusive, exhaustive WHERE clauses. SQL `MOD` over a signed
    * value ranges in (-(n-1), n-1), so each bucket i pairs with its negative
    * twin i-n; bucket 0 is its own twin. PKs are non-null by definition, so
    * no NULL catch-all partition is needed.
    */
  def pgMd5ModPredicates(column: String, n: Int): Seq[String] = {
    val h = s"""('x' || substr(md5(CAST("$column" AS text)), 1, 16))::bit(64)::bigint"""
    (0 until n).map { i =>
      if (i == 0) s"MOD($h, $n) = 0"
      else s"MOD($h, $n) = $i OR MOD($h, $n) = ${i - n}"
    }
  }
}

/** Static catalog for the driver's fixture tables (TESTDATA.md): primary keys
  * declared here because parquet has no constraint metadata — the analogue of
  * the reference discovering PKs from `key_column_usage`.
  */
object Fixtures {
  val specs: Map[String, TableSpec] = Map(
    "region"     -> TableSpec("region", Seq("r_regionkey")),
    "nation"     -> TableSpec("nation", Seq("n_nationkey")),
    "customer"   -> TableSpec("customer", Seq("c_custkey")),
    "supplier"   -> TableSpec("supplier", Seq("s_suppkey")),
    "part"       -> TableSpec("part", Seq("p_partkey")),
    "orders"     -> TableSpec("orders", Seq("o_orderkey")),
    // composite PK, the reference's multi-column case (/root/reference/query_test.go:64-100)
    "lineitem"   -> TableSpec("lineitem", Seq("l_orderkey", "l_linenumber")),
    // props carries JSON: canonicalized via the length proxy (P1 json rule)
    "events"     -> TableSpec("events", Seq("event_id"), jsonColumns = Set("props")),
    "documents"  -> TableSpec("documents", Seq("doc_id")),
    "embeddings" -> TableSpec("embeddings", Seq("vec_id"))
  )

  val tableNames: Seq[String] = specs.keys.toSeq.sorted

  /** Fixture tables whose columns are all canonicalizable to engine-portable
    * text (embeddings' float vectors are excluded from fingerprinting — float
    * shortest-repr rendering differs across engines; they are covered by the
    * similarity operators instead).
    */
  val fingerprintTables: Seq[String] = tableNames.filterNot(_ == "embeddings")
}

/** Live PostgreSQL target driven through the `psql` client — the
  * no-JDBC-driver path: discovery and data both ride the reference's own
  * catalog SQL ([[PgSql.getTablesQuery]]/[[PgSql.getColumnsQuery]]) executed
  * by a real server, so this target IS the reference's connection model
  * (PostgreSQL ≥10 wire) re-hosted on Spark. `conn` is a libpq conninfo
  * string (`host=/sock/dir dbname=postgres user=graft`) or URI; the CLI
  * spells it `pg:<conninfo>`.
  *
  * Data reads stage one server-side `\copy (SELECT ... ::TEXT) TO csv` per
  * table and cast in Spark. Server-side renderings are chosen so the
  * canonicalizing projection (P1) sees exactly what it would see reading the
  * same logical values from parquet:
  *   - timestamptz → epoch micros BIGINT (cast back via `timestamp_micros`;
  *     the canonical fold then applies identically)
  *   - json → `::JSONB::TEXT` (normalized — the reference's length proxy is
  *     over the normalized text, column.go:30)
  *   - bytea/uuid/bit/varbit/arrays → `::TEXT`, which IS the canonical form
  *   - numerics/bool/date → `::TEXT` re-cast to the discovered Spark type so
  *     stats-mode min/max stay typed, not lexicographic
  * NULLs travel as the CSV null-string `\N`; a literal text value `\N` would
  * be read back as NULL (accepted, documented — the reference's CSV dumps
  * have the same ambiguity).
  *
  * Scale shape: `readPartitions` > 1 with an integer-family leading PK
  * splits [min, max] into contiguous ranges and runs one concurrent
  * server-side `\copy` per range — each an index-range scan, the psql
  * analogue of [[JdbcTarget]]'s `partitionColumn` split (PgLiveSpec proves
  * the partitioned digest equals the single-pipe one). Staging still lands
  * on driver-local disk before Spark reads it, so warehouse-scale pulls
  * belong to the partitioned-JDBC path where executors read directly; this
  * target exists because fingerprint fidelity needs a REAL PostgreSQL more
  * than it needs a driver jar.
  */
case class PsqlTarget(name: String, conn: String,
                      readPartitions: Int = 1,
                      dialect: PgSql.WireDialect = PgSql.PostgresDialect) extends Target {
  import java.nio.file.Files
  import scala.sys.process._
  import org.apache.spark.sql.types._

  /** `\copy` staging directories created by [[read]], awaiting [[dropStaging]]. */
  private val staged = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** Delete every staging directory this target's reads have created. Frames
    * read before the call cannot be evaluated after it, so the run that read
    * them calls this once it has finished with them.
    */
  def dropStaging(): Unit =
    Iterator.continually(staged.poll()).takeWhile(_ != null).foreach { dir =>
      val files = Files.walk(dir)
      try files.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
      finally files.close()
    }

  private def psqlLines(sql: String): Seq[String] = {
    val f = Files.createTempFile("graft-psql-t", ".sql")
    Files.write(f, sql.getBytes("UTF-8"))
    val out = new StringBuilder
    val code = Process(Seq("psql", conn, "-v", "ON_ERROR_STOP=1", "-tA", "-f", f.toString))
      .!(ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    Files.deleteIfExists(f)
    require(code == 0, s"psql exited $code for:\n$sql")
    out.toString.split('\n').toSeq.filter(_.nonEmpty)
  }

  /** Config-time parity gate: call with the server's major version before
    * fingerprinting (for CRDB that is the CockroachDB release major from
    * `version()`, NOT the PG-compat `server_version` it also reports) — the
    * documented numeric-trailing-zero delta then fails loudly here instead
    * of as a silent hash mismatch on identical data.
    */
  def requireParity(serverMajor: Int): Unit = dialect.requireSupported(serverMajor)

  /** System schemas never verify — the analogue of JdbcTarget's exclusion. */
  private val systemSchemas = Set("pg_catalog", "information_schema", "pg_toast")

  override def tables(spark: SparkSession, schemas: SchemaFilter): Seq[String] =
    psqlLines(PgSql.getTablesQuery())
      .map(_.split('|')).collect {
        case Array(s, t) if !systemSchemas.contains(s) && schemas.accepts(s) => s"$s.$t"
      }.sorted

  /** Column discovery with numeric precision/scale (the two extra
    * information_schema columns beyond the reference's four — consumed only
    * for Spark type mapping, never hashed).
    */
  def discoverColumns(schema: String, table: String): Seq[(ColumnMeta, Option[(Int, Int)])] =
    psqlLines(s"""
      SELECT c.column_name, c.data_type,
             coalesce(bool_or(tc.constraint_type = 'PRIMARY KEY'), false),
             min(c.ordinal_position), min(c.numeric_precision), min(c.numeric_scale)
      FROM information_schema.columns AS c
        LEFT OUTER JOIN information_schema.key_column_usage AS k ON (
          c.column_name = k.column_name AND c.table_name = k.table_name AND
          c.table_schema = k.table_schema)
        LEFT OUTER JOIN information_schema.table_constraints AS tc ON (
          k.constraint_name = tc.constraint_name)
      WHERE c.table_name = '$table' AND c.table_schema = '$schema'
        AND c.is_generated != 'ALWAYS'
      GROUP BY 1, 2 ORDER BY min(c.ordinal_position)""")
      .map(_.split('|'))
      .map { a =>
        val ps = (a.lift(4).filter(_.nonEmpty), a.lift(5).filter(_.nonEmpty)) match {
          case (Some(p), Some(s)) => Some((p.toInt, s.toInt))
          case _ => None
        }
        (ColumnMeta(a(0), a(1), a(2) == "t"), ps)
      }

  /** JSON-rule columns for spec building (data_type json/jsonb — P1). */
  def jsonColumns(schema: String, table: String): Set[String] =
    discoverColumns(schema, table)
      .collect { case (m, _) if m.dataType == "json" || m.dataType == "jsonb" => m.name }
      .toSet

  override def read(spark: SparkSession, table: String): DataFrame = {
    val (schema, bare) = VerifyRun.splitName(table)
    val cols = discoverColumns(schema, bare)
    require(cols.nonEmpty, s"no columns discovered for $schema.$bare")
    val selects = cols.map { case (m, _) =>
      val q = "\"" + m.name + "\""
      m.dataType match {
        case "timestamp with time zone" =>
          s"(extract(epoch from $q)::DECIMAL * 1000000)::BIGINT::TEXT AS $q"
        case "json" => s"$q::JSONB::TEXT AS $q"
        case _ => s"$q::TEXT AS $q"
      }
    }
    // parallel pull (readPartitions > 1, integer-family leading PK): split
    // [min, max] into contiguous ranges — one server-side index-range scan
    // per concurrent \copy, the psql analogue of JdbcTarget's
    // partitionColumn split; first/last ranges open-ended so coverage is
    // exhaustive regardless of bound tightness. Anything else (no PK,
    // non-integer PK, empty table) stays one pipe.
    val intTypes = Set("smallint", "integer", "bigint")
    val splitPk = cols.collectFirst {
      case (m, _) if m.isPrimaryKey && intTypes.contains(m.dataType) => m.name
    }
    val stageDir = Files.createTempDirectory(s"graft-psql-$bare")
    staged.add(stageDir)
    def copyTo(file: String, where: String): Unit =
      psqlLines(s"""\\copy (SELECT ${selects.mkString(", ")} FROM "$schema"."$bare"$where) """ +
        s"to '$stageDir/$file' with (format csv, header, null '\\N')")
    val bounds = splitPk.filter(_ => readPartitions > 1).flatMap { pk =>
      psqlLines(s"""SELECT min("$pk") || '|' || max("$pk") FROM "$schema"."$bare"""")
        .headOption.map(_.split('|')).collect { case Array(lo, hi) => (pk, lo.toLong, hi.toLong) }
    }
    bounds match {
      case Some((pk, lo, hi)) if hi > lo =>
        val n = readPartitions min (hi - lo + 1).toInt
        val step = (hi - lo) / n + 1
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        Await.result(Future.sequence((0 until n).map { i =>
          Future {
            val wheres = Seq(
              if (i == 0) "" else s""""$pk" >= ${lo + i * step}""",
              if (i == n - 1) "" else s""""$pk" < ${lo + (i + 1) * step}""").filter(_.nonEmpty)
            copyTo(f"part-$i%05d.csv",
              if (wheres.isEmpty) "" else wheres.mkString(" WHERE ", " AND ", ""))
          }
        }), Duration.Inf)
      case _ => copyTo("part-00000.csv", "")
    }
    val raw = spark.read
      .schema(StructType(cols.map { case (m, _) => StructField(m.name, StringType) }))
      .option("header", "true").option("nullValue", "\\N")
      .csv(stageDir.toString)
    cols.foldLeft(raw) { case (df, (m, ps)) =>
      val c = org.apache.spark.sql.functions.col(m.name)
      val cast = m.dataType match {
        case "smallint" => Some(c.cast(ShortType))
        case "integer" => Some(c.cast(IntegerType))
        case "bigint" => Some(c.cast(LongType))
        case "boolean" => Some(c.cast(BooleanType))
        case "date" => Some(c.cast(DateType))
        case "real" => Some(c.cast(FloatType))
        case "double precision" => Some(c.cast(DoubleType))
        case "numeric" => ps.map { case (p, s) => c.cast(DecimalType(p min 38, s)) }
        case "timestamp with time zone" =>
          Some(org.apache.spark.sql.functions.timestamp_micros(c.cast(LongType)))
        case "timestamp without time zone" => Some(c.cast(TimestampNTZType))
        case _ => None // text/uuid/bit/bytea/arrays/json: ::TEXT IS canonical
      }
      cast.fold(df)(e => df.withColumn(m.name, e))
    }
  }
}
