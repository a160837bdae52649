package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Layers are named after the program's modules; a job belongs to the first
  * module whose source file appears in the job's call site.
  */
object Layers {
  val byFile: Seq[(String, String)] = Seq(
    "Fingerprints.scala" -> "core.Fingerprints",
    "Report.scala" -> "core.Report",
    "RowDiff.scala" -> "core.RowDiff",
    "Targets.scala" -> "core.Targets",
    "Cli.scala" -> "graft.Cli",
    "Curate.scala" -> "graft.Curate",
    "Dedup.scala" -> "operators.Dedup",
    "DedupClusters.scala" -> "operators.DedupClusters",
    "TextAnalysis.scala" -> "operators.TextAnalysis",
    "Vocab.scala" -> "operators.Vocab",
    "Selection.scala" -> "operators.Selection",
    "Ranks.scala" -> "operators.Ranks",
    "LogReg.scala" -> "operators.LogReg",
    "Corpus.scala" -> "operators.Corpus")
  /** Jobs from any other module (Canon, Similarity, ...) or from the harness. */
  val Other = "other"
  val names: Seq[String] = byFile.map(_._2) :+ Other

  private val fileMap = byFile.toMap
  private val Frame = """^\s*graft\.[\w$.]+\(([\w]+\.scala):\d+\)""".r.unanchored

  def attribute(callSite: String): String =
    Option(callSite).iterator.flatMap(_.split('\n')).collectFirst {
      case Frame(file) if fileMap.contains(file) => fileMap(file)
    }.getOrElse(Other)
}

/** One job's record, filled in by the listener bus thread. */
final class JobRec(val id: Int, val layer: String, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
}

/** Benchmark-owned listener: per-job counters, attributed to a layer by the
  * call site of the job's SQL execution, else of its result stage.
  * Everything stays in memory; the harness takes the jobs after each call.
  */
final class LayerListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, JobRec]()
  private val execSites = mutable.Map[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a SQL execution's call site is the caller's stack even when the job
    // itself is submitted from an adaptive-execution thread
    val execSite = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSites.get(id.toLong))
    val stageSite = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details)
    val layer = (execSite.toSeq ++ stageSite).map(Layers.attribute)
      .find(_ != Layers.Other).getOrElse(Layers.Other)
    val rec = new JobRec(e.jobId, layer, e.time)
    jobs(e.jobId) = rec
    e.stageIds.foreach(stageJob(_) = rec)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execSites(s.executionId) = s.details }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      j.input += m.inputMetrics.bytesRead
      j.output += m.outputMetrics.bytesWritten
    }
  }

  /** Remove and return every job recorded so far. */
  def take(): Seq[JobRec] = synchronized {
    val out = jobs.values.toList
    jobs.clear()
    stageJob.clear()
    execSites.clear()
    out
  }
}

/** Per-call aggregation of the traced run: listener counts, the layers'
  * shares of job wall time, and spans timed around calls into the program.
  * Values are summed over traced calls and reported as per-call means.
  */
final class Tracer(cores: Int) {
  val listener = new LayerListener
  private val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val callSpans = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val tableSamples = mutable.ArrayBuffer[Double]()
  private var calls = 0
  private var wallSum = 0.0
  /** Every traced call's jobs and spans, written out once the run ends. */
  private val log = mutable.ArrayBuffer[Map[String, Any]]()

  /** Sink for [[TimedTarget]]: span name, nanoseconds. */
  val sink: java.util.function.BiConsumer[String, java.lang.Long] =
    (k: String, ns: java.lang.Long) => add(k, ns / 1e9)

  private def add(name: String, seconds: Double): Unit = synchronized { callSpans(name) += seconds }

  def span[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally add(name, (System.nanoTime() - t0) / 1e9)
  }

  /** One `Fingerprints.runModes` call for one target × table. */
  def tableSpan[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally synchronized { tableSamples += (System.nanoTime() - t0) / 1e9 }
  }

  /** Close one traced call spanning [t0Ms, t1Ms] whose jobs are `jobs`. */
  def endCall(jobs: Seq[JobRec], t0Ms: Long, t1Ms: Long): Unit = synchronized {
    calls += 1
    val wall = (t1Ms - t0Ms) / 1e3
    wallSum += wall
    callSpans.foreach { case (k, v) => sums(k) += v }
    val mine = jobs.filter(j => j.startMs >= t0Ms && j.startMs <= t1Ms)
    log += Map("start_ms" -> t0Ms, "end_ms" -> t1Ms, "spans_s" -> callSpans.toMap,
      "jobs" -> mine.map(j => Map("id" -> j.id, "layer" -> j.layer, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "stages" -> j.stages, "tasks" -> j.tasks,
        "executor_cpu_ns" -> j.cpuNs, "shuffle_write_bytes" -> j.shuffleWrite)))
    callSpans.clear()
    for (j <- mine) {
      val l = j.layer
      sums(s"$l.jobs") += 1
      sums(s"$l.tasks") += j.tasks
      sums(s"$l.executor_cpu_s") += j.cpuNs / 1e9
      sums(s"$l.shuffle_write_mb") += j.shuffleWrite / 1e6
      sums("spark.jobs") += 1
      sums("spark.stages") += j.stages
      sums("spark.tasks") += j.tasks
      sums("spark.executor_cpu_s") += j.cpuNs / 1e9
      sums("spark.gc_s") += j.gcMs / 1e3
      sums("spark.shuffle_write_mb") += j.shuffleWrite / 1e6
      sums("spark.spill_mb") += j.spill / 1e6
      sums("spark.input_mb") += j.input / 1e6
      sums("spark.output_mb") += j.output / 1e6
      sums("spark.executor_run_s") += j.runMs / 1e3
    }
    // sweep the call window: each instant with jobs running is shared
    // equally among them, so layer job_s + driver.no_job_s == call wall
    val edges = mine.flatMap { j =>
      val end = if (j.endMs < 0) t1Ms else j.endMs min t1Ms
      Seq((j.startMs, 1, j), (end, -1, j))
    }.sortBy(e => (e._1, -e._2))
    val active = mutable.LinkedHashSet[JobRec]()
    var last = t0Ms
    var busy = 0.0
    for ((t, d, j) <- edges) {
      if (active.nonEmpty && t > last) {
        val dt = (t - last) / 1e3
        busy += dt
        active.foreach(a => sums(s"${a.layer}.job_s") += dt / active.size)
      }
      last = t max last
      if (d > 0) active += j else active -= j
    }
    sums("driver.no_job_s") += (wall - busy) max 0.0
  }

  /** Write the per-call log as JSON. */
  def write(path: java.io.File, metrics: Map[String, Double]): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    def java(v: Any): Any = v match {
      case m: Map[_, _] => m.map { case (k, x) => k.toString -> java(x) }.asJava
      case s: Seq[_] => s.map(java).asJava
      case x => x
    }
    path.getParentFile.mkdirs()
    new com.fasterxml.jackson.databind.ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(path, java(Map("metrics" -> metrics, "calls" -> log.toSeq)))
  }

  /** Per-call means of everything recorded, plus the table-span quantiles. */
  def metrics(): Map[String, Double] = synchronized {
    val n = calls max 1
    val perLayer = for (l <- Layers.names; k <- Seq("jobs", "tasks", "job_s", "executor_cpu_s",
      "shuffle_write_mb")) yield s"$l.$k" -> sums(s"$l.$k") / n
    val engine = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_cpu_s",
      "spark.gc_s", "spark.shuffle_write_mb", "spark.spill_mb", "spark.input_mb",
      "spark.output_mb", "driver.no_job_s", "core.Targets.tables_s", "core.Targets.read_s",
      "core.Report.merge_render_s", "core.RowDiff.drill_down_s").map(k => k -> sums(k) / n)
    val sorted = tableSamples.sorted
    def q(p: Double) = if (sorted.isEmpty) 0.0 else Stats.quantile(sorted.toSeq, p)
    (perLayer ++ engine ++ Seq(
      "spark.core_util" -> (if (wallSum > 0) sums("spark.executor_run_s") / (wallSum * cores) else 0.0),
      "core.Fingerprints.table_s.p50" -> q(0.5),
      "core.Fingerprints.table_s.p90" -> q(0.9))).toMap
  }
}

object Stats {
  /** Linear-interpolated quantile of an ascending sample. */
  def quantile(sorted: Seq[Double], p: Double): Double = {
    val pos = p * (sorted.size - 1)
    val lo = pos.toInt
    val hi = (lo + 1) min (sorted.size - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else quantile(xs.sorted, 0.5)
}
