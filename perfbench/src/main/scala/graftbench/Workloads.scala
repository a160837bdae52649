package graftbench

import java.io.{File, StringWriter, Writer}

import scala.concurrent.ExecutionContext
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Cli, CliConfig, Curate}
import graft.core._

import Harness.{boxTable, generate, oracle, strings}

/** `Cli.run` with spans: targets wrapped in [[TimedTarget]], each
  * `Fingerprints.runModes` call timed, the report merge and render timed,
  * and the drill-down timed. Target construction, the table filter, the
  * per-table planning, the drill-down and the profile are the CLI's own
  * private steps, reached by reflection; the only copied code is the body of
  * `VerifyRun.runPerTarget`, so that each `runModes` call can be timed.
  * Resolution is eager: if the CLI's internals move, the traced run fails
  * instead of measuring something else.
  */
object TracedCli {
  private val cli = Cli
  private def method(name: String, params: Class[_]*) = {
    val m = cli.getClass.getDeclaredMethod(name, params: _*)
    m.setAccessible(true)
    m
  }
  private val buildTargets = method("buildTargets", classOf[CliConfig])
  private val tableWanted = method("tableWanted", classOf[CliConfig], classOf[String])
  private val buildWork = method("buildWork", classOf[SparkSession], classOf[Target],
    classOf[String], classOf[CliConfig])
  private val drillDown = method("drillDown", classOf[SparkSession], classOf[CliConfig],
    classOf[Seq[_]], classOf[DataFrame], classOf[DataFrame], classOf[Writer])
  private val profileTables = method("profileTables", classOf[SparkSession], classOf[CliConfig],
    classOf[Seq[_]], classOf[DataFrame], classOf[Writer])

  private val timedCtor = Class.forName("graftbench.TimedTarget").getConstructors.head

  /** Resolves every reflective step; throws when one is missing. */
  def resolve(): Unit = ()

  def timed(t: Target, tr: Tracer): Target =
    timedCtor.newInstance(t, tr.sink).asInstanceOf[Target]

  def run(spark: SparkSession, cfg: CliConfig, out: Writer, tr: Tracer): Int = {
    if (cfg.merkleSnapshots.nonEmpty) return Cli.runIncremental(spark, cfg, out)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val targets = buildTargets.invoke(cli, cfg).asInstanceOf[Seq[Target]]
    val schemas = SchemaFilter(cfg.includeSchemas, cfg.excludeSchemas)
    val vcfg = cfg.verifyConfig
    val plans = targets.map { raw =>
      val t = timed(raw, tr)
      // planning reads each table's schema; it gets the raw target because
      // it dispatches on the target's class. Timed as a Targets read.
      t -> VerifyRun.discoverTables(spark, t, schemas)
        .filter(name => tableWanted.invoke(cli, cfg, name).asInstanceOf[Boolean])
        .flatMap { name =>
          tr.span("core.Targets.read_s") {
            buildWork.invoke(cli, spark, raw, name, cfg).asInstanceOf[Option[VerifyRun.TableWork]]
          }
        }
    }
    val rows = VerifyRun.fanOutPerTarget(plans) { (t, w) =>
      val df = t.read(spark, w.readName)
      val outputs = tr.tableSpan(Fingerprints.runModes(vcfg.modes, df, w.spec, vcfg))
      vcfg.modes.map(mode => ResultRow(t.name, w.schema, w.table, mode, outputs(mode)))
    } { (t, w) =>
      vcfg.modes.map(mode => ResultRow(t.name, w.schema, w.table, mode, Fingerprints.Err))
    }.flatten
    import spark.implicits._
    val results = spark.createDataset(rows).toDF()
    val bad = tr.span("core.Report.merge_render_s") {
      VerifyRun.renderAsciiTable(VerifyRun.pivotReport(results, vcfg.modes), vcfg.modes, out)
      VerifyRun.inconsistencies(results, targets.size)
    }
    if (cfg.drillDown) tr.span("core.RowDiff.drill_down_s") {
      drillDown.invoke(cli, spark, cfg, plans, results, bad, out)
    }
    if (cfg.profile) profileTables.invoke(cli, spark, cfg, plans, bad, out)
    if (bad.isEmpty) 0 else 1
  }
}

/** `graft.Main` verify over two single-file parquet catalogs, the second
  * drifted in two tables.
  */
final class VerifyLake(o: Opts) extends Workload {
  val dir: String = s"${o.work}/inputs"
  val modes = Seq(TestModes.Bookend, TestModes.Full, TestModes.RowCount, TestModes.Sparse,
    TestModes.Stats)
  val config: CliConfig = Cli.parse(Seq("--tests", modes.mkString(","), "--drill-down",
    "--aliases", "a,b", s"$dir/a", s"$dir/b")).fold(e => throw new IllegalArgumentException(e), identity)
  private var expected = Map.empty[String, String]
  private var drifted = Map.empty[String, Int]
  private var rowsPerCall = 0L
  private var tables = Seq.empty[String]

  def prepare(spark: SparkSession): Unit = {
    if (o.trace) TracedCli.resolve()
    val m = generate(o, "lake", dir)
    tables = strings(m.get("tables"))
    rowsPerCall = m.get("rows").elements().asScala.flatMap(_.elements().asScala).map(_.asLong).sum
    drifted = m.get("drift").fields().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asInt).sum
    }.toMap
    val vcfg = config.verifyConfig
    expected = oracle(o, for {
      t <- Seq("a", "b"); table <- tables; mode <- modes
    } yield (s"$t/$table/$mode", OracleSql.forMode(mode, table, Fixtures.specs(table),
      vcfg, Some(s"read_parquet('$dir/$t/$table.parquet')"))))
  }

  def rows: Long = rowsPerCall
  def probeLineitem: String = s"$dir/a/lineitem.parquet"

  def call(spark: SparkSession, tr: Option[Tracer]): () => Option[String] = {
    val out = new StringWriter
    val code = tr match {
      case Some(t) => TracedCli.run(spark, config, out, t)
      case None => Cli.run(spark, config, out)
    }
    () => check(out.toString, code)
  }

  private def check(report: String, code: Int): Option[String] = {
    val rows = boxTable(report, "SCHEMA")
    val wrong = for {
      r <- rows; mode <- modes
      want = expected.getOrElse(s"${r("target")}/${r("table")}/$mode", "?")
      if r(mode) != want
    } yield s"${r("target")}/${r("table")}/$mode=${r(mode)} want $want"
    // drifted tables per the oracle must be the generator's drifted tables
    val oracleDrift = tables.filter { t =>
      modes.exists(m => expected(s"a/$t/$m") != expected(s"b/$t/$m"))
    }.toSet
    val drill = "(?m)^drill-down rows: main\\.(\\w+) ".r.findAllMatchIn(report).map(_.group(1)).toSet
    val drillRows = drifted.keys.toSeq.sorted.flatMap { t =>
      val n = Harness.boxRowsAfter(report, s"drill-down rows: main.$t ")
      if (n == (drifted(t) min 20)) None else Some(s"$t drill-down rows $n want ${drifted(t)}")
    }
    if (rows.size != 2 * tables.size)
      Some(s"report has ${rows.size} rows:\n$report")
    else if (wrong.nonEmpty) Some(wrong.take(5).mkString("; "))
    else if (oracleDrift != drifted.keySet) Some(s"oracle drift $oracleDrift != generated ${drifted.keySet}")
    else if (drill != drifted.keySet) Some(s"drill-down tables $drill want ${drifted.keySet}")
    else if (drillRows.nonEmpty) Some(drillRows.mkString("; "))
    else if (code != 1) Some(s"exit code $code want 1")
    else None
  }
}

/** `graft.Curate` over a seeded multilingual corpus. */
final class CurateCorpus(o: Opts) extends Workload {
  val dir: String = s"${o.work}/inputs"
  def outDir: String = s"${o.work}/curated"
  // the gates that build Curate's longest eager job chains: the near-dup
  // components fixpoint and its cluster-size cap, the PII gate, the LR
  // filter's per-step collects, chunking and the seeded shuffle. The
  // substring, paragraph, perplexity and DSIR gates are left off to fit
  // the benchmark's time budget: DSIR alone lengthens a run (set-up plus
  // one timed call) from about 57 s to 75 s on a 4-CPU host
  val flags: Seq[String] = Seq(
    "--max-cluster-size", "3", "--max-pii-per-million", "20000",
    "--lr-target-lang", "en", "--min-lr-sigma-micro", "1000",
    "--chunk-tokens", "64", "--shuffle-seed", "7")
  private var docs = 0L
  private var copies = 0L
  private var funnel: Option[Seq[(String, Long)]] = None

  def prepare(spark: SparkSession): Unit = {
    val m = generate(o, "corpus", dir)
    docs = m.get("docs").asLong
    copies = m.get("exact_copies").asLong
    funnel = None
  }

  def rows: Long = docs

  def probeLineitem: String = {
    generate(o, "probe", s"${o.work}/probe")
    s"${o.work}/probe/lineitem.parquet"
  }

  def call(spark: SparkSession, tr: Option[Tracer]): () => Option[String] = {
    val cfg = Curate.parse(flags ++ Seq(s"$dir/corpus", outDir))
      .fold(e => throw new IllegalArgumentException(e), identity)
    val got = Curate.run(spark, cfg)
    () => check(spark, got)
  }

  private def check(spark: SparkSession, got: Seq[(String, Long)]): Option[String] = {
    val f = got.toMap
    if (funnel.isEmpty) {
      funnel = Some(got)
      System.err.println(s"[bench] curate funnel: ${got.map(p => s"${p._1}=${p._2}").mkString(" ")}")
    }
    val out = spark.read.parquet(outDir)
    val units = out.count()
    val distinctText = out.select("text").distinct().count()
    val straddling = out.groupBy((col("doc_id") / 100000L).cast("long").as("parent"))
      .agg(countDistinct(col("split")).as("n")).filter(col("n") > 1).count()
    if (funnel.get != got) Some(s"funnel changed: $got vs ${funnel.get}")
    else if (f("input") != docs) Some(s"input ${f("input")} want $docs")
    else if (f("input") - f("exact_deduped") != copies)
      Some(s"exact dedup removed ${f("input") - f("exact_deduped")} want $copies")
    else if (f("written") != f("written_units")) Some(s"written ${f("written")} != ${f("written_units")}")
    else if (units != f("written")) Some(s"output has $units units, funnel says ${f("written")}")
    else if (distinctText != units) Some(s"${units - distinctText} repeated output texts")
    else if (straddling != 0) Some(s"$straddling parent documents span two splits")
    else if (units == 0) Some("nothing written")
    else None
  }

  override def after(spark: SparkSession): Unit = Harness.rmrf(new File(outDir).toPath)
}

/** Kernel probes, run once after the traced loop. */
object Probes {
  private def now = System.nanoTime() / 1e9

  def run(spark: SparkSession, lineitem: String): Seq[(String, (Double, String))] = {
    val df = Readers.normalizeNtz(spark.read.parquet(lineitem))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val n = df.count().toDouble
    val cols = df.schema.fieldNames.toSeq
    val canon = df.select(graft.canon.Canon.rowHash(df.schema, cols).as("h"))
    val builtin = df.select(md5(concat_ws("|", cols.map(c => col(c).cast("string")): _*)).as("h"))
    def time(d: DataFrame): Double = {
      val t0 = now
      d.write.format("noop").mode("overwrite").save()
      now - t0
    }
    time(canon); time(builtin)
    val (c, b) = (1 to 5).map(_ => (time(canon), time(builtin))).unzip
    df.unpersist(blocking = true)
    val hashes = Array.tabulate(200000)(i => f"$i%032x")
    val mb = hashes.length * 32 / 1e6
    graft.functions.Digests.md5OfConcat(hashes.iterator)
    val chain = (1 to 5).map { _ =>
      val t0 = now
      graft.functions.Digests.md5OfConcat(hashes.iterator)
      now - t0
    }
    Seq(
      "canon.row_hash_ns_per_row" -> (Stats.median(c) * 1e9 / n, "ns"),
      "canon.builtin_md5_ns_per_row" -> (Stats.median(b) * 1e9 / n, "ns"),
      "functions.md5_chain_mb_per_s" -> (mb / Stats.median(chain), "MB/s"))
  }
}
