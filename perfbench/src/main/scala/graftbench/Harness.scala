package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.sys.process._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Command-line options, as passed on by run.py. */
case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                work: String, bench: String, startMs: Long)

/** One benchmarked product command over seeded inputs. */
trait Workload {
  /** Generate the inputs and compute the ground truth; part of set-up. */
  def prepare(spark: SparkSession): Unit
  /** Input rows one call reads. */
  def rows: Long
  /** Run one product call; only this is timed. The returned thunk checks
    * the output against ground truth and yields an error message, or None
    * when the output is correct.
    */
  def call(spark: SparkSession, tracer: Option[Tracer]): () => Option[String]
  /** Clean up after a call, outside the timed region. */
  def after(spark: SparkSession): Unit = ()
  /** Parquet lineitem the kernel probes read. */
  def probeLineitem: String
}

/** The closed-loop benchmark: one caller, the next call starts only after
  * the previous verdict returned, in one warm `local[N]` session.
  *
  * Prints a human-readable summary, then one JSON object as the last line.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), kv("bench"), kv("start-ms").toLong)
    val cores = Runtime.getRuntime.availableProcessors() min 4
    val code = try run(o, cores) catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    }
    sys.exit(code)
  }

  def session(cores: Int, o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-${o.workload}")
      // the products' own session settings (graft.Main / graft.Curate)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(o: Opts): Workload = o.workload match {
    case "verify_lake" => new VerifyLake(o)
    case "curate_corpus" => new CurateCorpus(o)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def now: Double = System.nanoTime() / 1e9

  def run(o: Opts, cores: Int): Int = {
    val w = workload(o)
    var attempted = 0
    var failed = 0
    def note(err: Option[String], what: String): Unit = {
      attempted += 1
      err.foreach { e => failed += 1; System.err.println(s"[bench] $what failed: $e") }
    }
    // set-up: process start to the first timed call. It runs once, because
    // the cold call it ends with is cold only once per process
    val jvmStart = (System.currentTimeMillis() - o.startMs) / 1e3
    val t0 = now
    val spark = session(cores, o)
    w.prepare(spark)
    val prepared = now - t0
    note(attemptCall(w, spark), "cold call")
    w.after(spark)
    val cold = now - t0 - prepared
    val setup = (System.currentTimeMillis() - o.startMs) / 1e3
    System.err.println(f"[bench] set-up: jvm $jvmStart%.2f s, session + inputs + ground truth " +
      f"$prepared%.2f s, cold call $cold%.2f s")
    val tracer = if (o.trace) Some(new Tracer(cores)) else None
    tracer.foreach(t => spark.sparkContext.addSparkListener(t.listener))
    val untraced = new Samples
    val traced = new Samples
    var callNo = 0
    def loop(seconds: Double, tr: Option[Tracer], s: Samples): Unit = {
      val deadline = now + seconds
      while (now < deadline || s.n == 0) {
        callNo += 1
        val err = timedCall(w, spark, tr, s)
        note(err, s"call $callNo")
        System.err.println(f"[bench] call $callNo ${s.wall.last}%.2f s, cpu ${s.cpu.last}%.2f s, " +
          f"peak live heap ${s.heap.last}%.1f MB over ${s.gcs.last} GCs, " +
          f"calib ${s.calib.last}%.3f s, gc ${gcSeconds()}%.2f s total")
      }
    }
    if (o.trace) {
      loop(o.seconds / 2, None, untraced)
      loop(o.seconds / 2, tracer, traced)
    } else loop(o.seconds, None, untraced)

    val summary = mutable.LinkedHashMap[String, (Double, String, Int)]()
    val witnessed = if (o.trace) traced else untraced
    summary("setup_s") = (setup, "s", 1)
    summary("iter_s") = (Stats.median(untraced.wall.toSeq), "s", untraced.n)
    summary("rows_per_s") = (untraced.rows / untraced.wall.sum, "rows/s", untraced.n)
    summary("cpu_s") = (Stats.median(untraced.cpu.toSeq), "s", untraced.n)
    summary("peak_heap_mb") = (Stats.median(untraced.heap.toSeq), "MB", untraced.n)
    summary("fail_ratio") = (failed.toDouble / attempted, "ratio", attempted)
    val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
    for (tr <- tracer) {
      Probes.run(spark, w.probeLineitem).foreach { case (k, (v, u)) => perLayer(k) = (v, u) }
      tr.metrics().toSeq.sortBy(_._1).foreach { case (k, v) => perLayer(k) = (v, unitOf(k)) }
      perLayer("trace.overhead_ratio") =
        (Stats.median(traced.wall.toSeq) / Stats.median(untraced.wall.toSeq), "ratio")
      perLayer("trace.iter_s") = (Stats.median(traced.wall.toSeq), "s")
    }
    // residue and contention witnesses, every call
    perLayer("spark.leaked_rdds") = (Stats.median(witnessed.leakedRdds.toSeq), "count")
    perLayer("spark.leaked_blocks_mb") = (Stats.median(witnessed.leakedMb.toSeq), "MB")
    perLayer("env.calib_s") = (Stats.median(witnessed.calib.toSeq), "s")
    perLayer("env.loadavg") = (Stats.median(witnessed.load.toSeq), "load")
    spark.stop()
    for (tr <- tracer) {
      val file = new File(s"${o.bench}/../.bench_trace/${o.workload}-seed${o.seed}.json")
      tr.write(file, perLayer.map { case (k, (v, _)) => k -> v }.toMap)
      System.err.println(s"[bench] trace written to ${file.getCanonicalPath}")
    }

    println(s"workload ${o.workload}  seed ${o.seed}  local[$cores]  " +
      s"calls ${untraced.n} untraced / ${traced.n} traced")
    summary.foreach { case (k, (v, u, n)) => println(f"  $k%-14s $v%14.6f $u%-7s n=$n") }
    if (o.trace) perLayer.foreach { case (k, (v, u)) => println(f"  $k%-44s $v%14.6f $u") }
    val metrics =
      if (o.trace) perLayer.toSeq.map { case (k, (v, u)) => (k, v, u) }
      else summary.toSeq.filter(_._1 != "fail_ratio").map { case (k, (v, u, _)) => (k, v, u) }
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}""")
    0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.stripTrailingZeros.toPlainString

  private def unitOf(k: String): String =
    if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_s") || k.endsWith(".p50") || k.endsWith(".p90")) "s"
    else if (k == "spark.core_util") "ratio"
    else "count"

  /** Per-call measurements of one loop phase. */
  final class Samples {
    val wall, cpu, heap, calib, load, leakedRdds, leakedMb = mutable.ArrayBuffer[Double]()
    val gcs = mutable.ArrayBuffer[Long]()
    var rows = 0.0
    def n: Int = wall.size
  }

  private def attemptCall(w: Workload, spark: SparkSession): Option[String] =
    try w.call(spark, None)() catch { case e: Throwable => Some(e.toString) }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU of the whole JVM: driver, executor threads, JIT and GC. */
  private def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Fixed driver-side CPU probe: MD5 over 16 MiB. Grows when the box is
    * contended, while the program's own counters stay flat.
    */
  private val calibBuf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
  private def calibrate(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val t0 = now
    for (_ <- 0 until 16) md.update(calibBuf)
    md.digest()
    now - t0
  }

  /** Peak live heap of a call: the largest heap occupancy left right after
    * any collection during the call, read from the collectors' notifications.
    * A full collection before the call (outside the timed region) starts
    * each call from its own live set, which is the floor. Unlike the pools'
    * peak usage, this does not include the young generation filling up to
    * its size before each collection, so what the driver holds shows.
    */
  object LiveHeap {
    import com.sun.management.GarbageCollectionNotificationInfo.{GARBAGE_COLLECTION_NOTIFICATION, from}
    private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private var max = 0L
    private var seen = 0L
    private var base = 0L
    private var last = 0L
    private val listener: NotificationListener = (n: Notification, _: Any) =>
      if (n.getType == GARBAGE_COLLECTION_NOTIFICATION) {
        val after = from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          .getMemoryUsageAfterGc.asScala.collect { case (p, u) if heapPools(p) => u.getUsed }.sum
        LiveHeap.synchronized { last = after; max = max max after; seen += 1 }
      }
    private def collections: Long = collectors.map(_.getCollectionCount max 0L).sum

    collectors.foreach(_.asInstanceOf[NotificationEmitter]
      .addNotificationListener(listener, null, null))
    // collections before the listener was added are never reported
    synchronized { seen = collections }

    /** Wait until every collection so far has been reported (notifications
      * arrive on their own thread); gives up after two seconds.
      */
    private def drain(): Unit = {
      val want = collections
      val until = System.nanoTime() + 2000000000L
      while (synchronized(seen) < want && System.nanoTime() < until) Thread.sleep(5)
    }

    /** Collect fully, then start a new call's peak from the live set. */
    def reset(): Unit = {
      System.gc()
      drain()
      synchronized { base = seen; max = last }
    }

    /** The call's peak live heap in bytes and the collections it saw. */
    def peak(): (Long, Long) = {
      drain()
      synchronized((max, seen - base))
    }
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def loadavg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(' ')(0).toDouble

  private def timedCall(w: Workload, spark: SparkSession, tr: Option[Tracer],
                        s: Samples): Option[String] = {
    val sc = spark.sparkContext
    s.calib += calibrate()
    s.load += loadavg()
    val baseRdds = sc.getPersistentRDDs.keySet
    tr.foreach { t =>
      org.apache.spark.graftbench.Bus.drain(sc)
      t.listener.take()
    }
    LiveHeap.reset()
    val cpu0 = cpuSeconds()
    val t0Ms = System.currentTimeMillis()
    val t0 = now
    val check: () => Option[String] =
      try w.call(spark, tr)
      catch { case e: Throwable => val m = e.toString; () => Some(m) }
    val wall = now - t0
    val t1Ms = System.currentTimeMillis()
    s.cpu += cpuSeconds() - cpu0
    val (peak, gcs) = LiveHeap.peak()
    s.heap += peak / 1e6
    s.gcs += gcs
    s.wall += wall
    s.rows += w.rows
    tr.foreach { t =>
      org.apache.spark.graftbench.Bus.drain(sc)
      t.endCall(t.listener.take(), t0Ms, t1Ms)
    }
    val err = try check() catch { case e: Throwable => Some(e.toString) }
    // residue left by the call, measured then released
    val leaked = sc.getPersistentRDDs.filter { case (id, _) => !baseRdds.contains(id) }
    val leakedIds = leaked.keySet
    s.leakedRdds += leaked.size
    s.leakedMb += sc.getRDDStorageInfo.filter(r => leakedIds.contains(r.id))
      .map(r => r.memSize + r.diskSize).sum / 1e6
    leaked.values.foreach(_.unpersist(blocking = true))
    w.after(spark)
    err
  }

  // -- helpers shared by the workloads -------------------------------------

  val mapper = new ObjectMapper()

  def readJson(path: String): JsonNode = mapper.readTree(new File(path))

  /** Run one of the benchmark's Python helpers; fails loudly. */
  def python(o: Opts, script: String, args: String*): Unit = {
    val err = new StringBuilder
    val code = Process(Seq("python3", s"${o.bench}/$script") ++ args)
      .!(ProcessLogger(_ => (), l => err.append(l).append('\n')))
    require(code == 0, s"$script ${args.mkString(" ")} exited $code:\n$err")
  }

  /** Generate a workload's inputs into `dir` with gen.py; returns its
    * manifest.
    */
  def generate(o: Opts, what: String, dir: String): JsonNode = {
    python(o, "gen.py", what, "--seed", o.seed.toString, "--out", dir)
    readJson(s"$dir/manifest.json")
  }

  /** Evaluate scalar ground-truth queries (key, sql) in DuckDB: key -> value. */
  def oracle(o: Opts, queries: Seq[(String, String)]): Map[String, String] = {
    val in = s"${o.work}/oracle-in.json"
    val out = s"${o.work}/oracle-out.json"
    val arr = mapper.createArrayNode()
    queries.foreach { case (k, sql) => arr.addObject().put("key", k).put("sql", sql) }
    mapper.writeValue(new File(in), arr)
    python(o, "oracle.py", in, out)
    readJson(out).fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }

  def strings(node: JsonNode): Seq[String] = node.elements().asScala.map(_.asText).toSeq

  /** Rows of the first box table in a rendered report whose header line
    * starts with `headerStart`, keyed by lowercased header.
    */
  def boxTable(report: String, headerStart: String): Seq[Map[String, String]] = {
    val lines = report.split('\n').toSeq
    val h = lines.indexWhere(_.startsWith(s"| $headerStart"))
    if (h < 0) return Nil
    def cells(l: String) = l.split('|').map(_.trim).drop(1).toSeq
    val header = cells(lines(h)).map(_.toLowerCase)
    lines.drop(h + 2).takeWhile(_.startsWith("|")).map(l => header.zip(cells(l)).toMap)
  }

  /** Data rows of the box table printed right after the line starting with
    * `marker`, or -1 when there is no such line.
    */
  def boxRowsAfter(report: String, marker: String): Int = {
    val lines = report.split('\n').toSeq
    val i = lines.indexWhere(_.startsWith(marker))
    if (i < 0) -1 else lines.drop(i + 4).takeWhile(_.startsWith("|")).size
  }

  def rmrf(path: Path): Unit =
    if (Files.exists(path)) {
      val s = Files.walk(path)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }
}
