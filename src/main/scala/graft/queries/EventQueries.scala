package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryEntry
import graft.core.Readers

/** Batch analytics over the `events` stream table: tumbling-window
  * aggregation, gap-based sessionization, first-event dedup, and top-k —
  * each the batch twin of a Structured Streaming pipeline in
  * [[graft.streaming.EventStreams]] (same transformations over readStream).
  *
  * Money-style doubles (`value` is 2dp) sum in decimal for engine parity;
  * timestamps leave as epoch micros BIGINT.
  */
object EventQueries {

  private val SessionGapUs: Long = 30L * 60 * 1000000 // 30 min
  private val HopUs: Long = 30L * 60 * 1000000 // sliding-window hop, 30 min
  private val AttributionUs: Long = 3600L * 1000000 // click→purchase window, 1 h
  // Count-Min sketch shape: 4 lanes (one md5 per row) × 512 buckets — error
  // bound e·n/512 per lane, overestimate-only
  private val CmsDepth = 4
  private val CmsWidth = 512
  // shared by ev_topk_cms and its streaming twin: the drained stream counters
  // must answer point queries identically to the batch sketch
  private lazy val CmsOracle = {
    import graft.operators.Sketches
    s"""WITH ex AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
                    FROM events GROUP BY user_id
                    ORDER BY n_exact DESC, user_id ASC LIMIT 20),
       ${Sketches.duckCms("events", "user_id", "ex", "user_id", CmsDepth, CmsWidth)}
       SELECT e.user_id, e.n_exact, CAST(c.cms_count AS BIGINT) AS cms_count
       FROM ex e JOIN cms_est c USING (user_id) ORDER BY user_id"""
  }

  /** Ordered single-file stream fixture for `ev_dedup_first_stream`,
    * materialized ONCE per (JVM, sfDir): the sort+rewrite is harness setup
    * (it manufactures a deterministic ARRIVAL order), not operator cost, and
    * writing it inside the timed query inflated the r3 bench number.
    * [[graft.Bench]] triggers this during its untimed warmup.
    */
  private val orderedEventsMemo = new graft.core.Staging[String](
    sessionScoped = false)(buildOrderedEventsDir)

  /** Raw (unsorted) single-table stream fixture dir, staged ONCE per (JVM,
    * sfDir) and shared by every file-source streaming query — a per-query
    * copy would re-pay the fixture I/O and leak a temp dir per invocation.
    * Session-independent (a temp dir holds no Spark state).
    */
  private val rawEventsMemo = new graft.core.Staging[String](
    sessionScoped = false)({ (_, sfDir) =>
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val dir = Files.createTempDirectory("graft-evraw")
      Files.copy(Paths.get(s"$sfDir/events.parquet"), dir.resolve("events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      dir.toString
    })

  private[graft] def rawEventsDir(sfDir: String): String =
    rawEventsMemo(sfDir)

  /** Shared batch-and-stream oracle for the attribution twins — one string so
    * the two queries can never be checked against diverging SQL.
    */
  private lazy val AttributionOracle = s"""
        SELECT c.event_id AS click_id, p.event_id AS purchase_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        FROM events c JOIN events p
          ON c.user_id = p.user_id AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND $AttributionUs
        ORDER BY click_id, purchase_id"""

  private[graft] def orderedEventsDir(spark: org.apache.spark.sql.SparkSession,
                                      sfDir: String): String =
    orderedEventsMemo(spark, sfDir)

  private def buildOrderedEventsDir(spark: org.apache.spark.sql.SparkSession,
                                    sfDir: String): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-evdedup").toString
      Readers.fixture(spark, sfDir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id")).coalesce(1)
        .write.mode("overwrite").parquet(dir)
      // arrival order == event-time order only while the single file reads as
      // ONE split; past maxPartitionBytes the file source would split it and
      // first-to-arrive would become partition-order dependent (holds with
      // margin at the harness scale factors: sf0.1 events ≈ 25 MB vs 128 MB)
      val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
      require(files.length == 1 && files.head.length <= maxSplit,
        s"ordered fixture must read as one split: ${files.length} files, " +
          s"${files.map(_.length).sum} bytes vs maxPartitionBytes=$maxSplit")
      dir
  }

  /** Shared batch-and-stream oracle for the retention twins. */
  private lazy val RetentionOracle = """
        WITH act AS (SELECT DISTINCT user_id, epoch_us(date_trunc('day', ts)) AS day_us
                     FROM events),
        coh AS (SELECT user_id, min(day_us) AS cohort_us FROM act GROUP BY user_id)
        SELECT cohort_us, (day_us - cohort_us) // 86400000000 AS offset_days,
               count(*) AS n_users
        FROM act JOIN coh USING (user_id)
        GROUP BY cohort_us, offset_days ORDER BY cohort_us, offset_days"""

  /** Shared batch-and-stream oracle for the co-occurrence twins. */
  private lazy val CooccurOracle = """
        WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_users
        FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY type_a, type_b ORDER BY type_a, type_b"""

  /** Shared batch-and-stream oracle for the transition-matrix twins. */
  private lazy val TransitionsOracle = """
        WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        steps AS (SELECT event_type AS from_type,
                         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS to_type
                  FROM ev),
        pairs AS (SELECT from_type, to_type, count(*) AS n FROM steps
                  WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        totals AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total
                   FROM pairs GROUP BY from_type)
        SELECT p.from_type, p.to_type, p.n, p.n * 1000000 // t.row_total AS p_micro
        FROM pairs p JOIN totals t ON p.from_type = t.from_type
        ORDER BY p.from_type, p.to_type"""

  /** Shared batch-and-stream oracle for the funnel twins. */
  private lazy val FunnelOracle = """
        WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        s AS (SELECT user_id, min(ts_us) AS s_us FROM ev
              WHERE event_type = 'signup' GROUP BY user_id),
        c AS (SELECT e.user_id, min(e.ts_us) AS c_us FROM ev e JOIN s USING (user_id)
              WHERE e.event_type = 'click' AND e.ts_us > s.s_us GROUP BY e.user_id),
        p AS (SELECT e.user_id, min(e.ts_us) AS p_us FROM ev e JOIN c USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts_us > c.c_us GROUP BY e.user_id)
        SELECT '1_signup' AS stage, count(*) AS n_users FROM s
        UNION ALL SELECT '2_click', count(*) FROM c
        UNION ALL SELECT '3_purchase', count(*) FROM p
        ORDER BY stage"""

  /** Shared oracle for the continuous-verification fingerprint twins. */
  private lazy val FingerprintOracle = {
    import graft.core.{Fixtures, OracleSql, VerifyConfig}
    val schema = OracleSql.schemas("events")
    val spec = Fixtures.specs("events")
    val cfg = VerifyConfig()
    val h = graft.canon.Canon.duckRowHash(schema,
      schema.fieldNames.filter(spec.validColumn).toSeq, cfg.tsPrecision, spec.jsonColumns)
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(${OracleSql.signedMd564("h")}) AS VARCHAR) AS digest
       FROM (SELECT event_type, $h AS h FROM events) AS t
       GROUP BY event_type ORDER BY event_type"""
  }

  val entries: Seq[(String, QueryEntry)] = Seq(

    // continuous verification, batch side: per-type order-insensitive
    // fingerprint (sum of row-hash signed-64s — commutative, so the stream
    // twin maintains it incrementally)
    "ev_fingerprint" -> QueryEntry(
      fn = (spark, sfDir) => {
        import graft.core.{Fingerprints, Fixtures, OracleSql, VerifyConfig}
        Readers.fixture(spark, sfDir, "events")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            Fingerprints.unorderedDigestCol(OracleSql.schemas("events"),
              Fixtures.specs("events"), VerifyConfig()).cast("string").as("digest"))
          .orderBy("event_type")
      },
      oracle = Some(FingerprintOracle)),

    // the same fingerprint through Structured Streaming: state is one
    // decimal + count per event type, folded per micro-batch — a growing
    // table verifies continuously without re-reading consumed data
    "ev_fingerprint_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val stream = graft.streaming.EventStreams.runningFingerprint(
          graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir)))
        graft.streaming.EventStreams.runToBatch(stream,
          s"ev_fp_${System.nanoTime()}", org.apache.spark.sql.streaming.OutputMode.Complete)
          .select(col("event_type"), col("n_events"),
            col("digest_sum").cast("string").as("digest"))
          .orderBy("event_type")
      },
      oracle = Some(FingerprintOracle)),

    // continuous cardinality: per-type distinct users from HLL registers
    // maintained as complete-mode streaming state (≤ 256 rows per type for
    // ANY stream length — registers merge by max, so batch boundaries can't
    // change them); estimator applied on drain is the SAME integer
    // arithmetic as the batch sketch, exact per type beside it for context
    "ev_distinct_hll_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val spark2 = spark; import spark2.implicits._
        import graft.operators.Sketches
        val stream = graft.streaming.EventStreams.runningHll(
          graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir)),
          "event_type", "user_id")
        // the drain is the only driver touch (memory-sink contract); the
        // estimator itself is Column arithmetic over the register table
        val regs = graft.streaming.EventStreams.runToBatch(stream,
          s"ev_hll_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Complete)
        val exact = Readers.fixture(spark, sfDir, "events")
          .groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact_users"))
        exact.join(Sketches.hllEstimateByGroup(regs, "event_type"), "event_type")
          .select(col("event_type"), col("exact_users"), col("est").as("hll_users"))
          .orderBy("event_type")
      },
      oracle = Some {
        import graft.operators.Sketches
        s"""WITH est AS (${Sketches.duckHllByGroup("events", "event_type", "user_id")}),
           ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
                  FROM events GROUP BY event_type)
           SELECT ex.event_type, ex.exact_users, est.est AS hll_users
           FROM ex JOIN est ON est.grp = ex.event_type
           ORDER BY ex.event_type"""
      }),

    // approximate DAU from mergeable HLL registers, batch side: per day,
    // exact distinct users next to the 256-register estimate — at 100 TB
    // the exact per-day countDistinct is a user-cardinality shuffle per
    // day, while the registers are 256 rows per day, mergeable across
    // shards and days (the WAU of any window is a register-wise max —
    // no re-scan). Register fold reuses the integer-exact estimator
    "ev_dau_hll" -> QueryEntry(
      fn = (spark, sfDir) => {
        val spark2 = spark; import spark2.implicits._
        import graft.operators.Sketches
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(unix_micros(date_trunc("day", col("ts"))).as("day_us"), col("user_id"))
        // register build AND estimate fold are both distributed — the
        // estimator is Column arithmetic (hllEstimateByGroup), no collect
        val est = Sketches.hllEstimateByGroup(
          graft.streaming.EventStreams.runningHll(ev, "day_us", "user_id"),
          "day_us")
        val exact = ev.groupBy(col("day_us"))
          .agg(countDistinct(col("user_id")).as("exact_users"))
        exact.join(est, "day_us")
          .select(col("day_us"), col("exact_users"), col("est").as("hll_users"))
          .orderBy("day_us")
      },
      oracle = Some {
        import graft.operators.Sketches
        s"""WITH est AS (${Sketches.duckHllByGroup("events",
              "epoch_us(date_trunc('day', ts))", "user_id")}),
           ex AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us,
                         count(DISTINCT user_id) AS exact_users
                  FROM events GROUP BY 1)
           SELECT ex.day_us, ex.exact_users, est.est AS hll_users
           FROM ex JOIN est ON est.grp = ex.day_us
           ORDER BY ex.day_us"""
      }),

    // WAU from MERGED daily registers: the claim "any trailing window is a
    // register-wise max — no rescan" executed as a query. Per-day register
    // tables (256 rows/day) join the broadcast day list over the trailing
    // 7 days, merge by max per (day, register), and fold through the same
    // integer estimator; exact trailing distinct sits beside it for error
    // context. At 100 TB this is THE wau shape: the raw log is touched
    // once (to build daily registers); every window after that is
    // sketch-sized arithmetic
    "ev_wau_hll" -> QueryEntry(
      fn = (spark, sfDir) => {
        val spark2 = spark; import spark2.implicits._
        import graft.operators.Sketches
        val DayUs = 86400000000L
        val act = Readers.fixture(spark, sfDir, "events")
          .select(unix_micros(date_trunc("day", col("ts"))).as("day_us"), col("user_id"))
        val dayRegs = graft.streaming.EventStreams.runningHll(act, "day_us", "user_id")
        val days = act.select(col("day_us").as("d")).distinct()
        val merged = dayRegs.join(broadcast(days),
            col("day_us") <= col("d") && col("day_us") > col("d") - 7L * DayUs)
          .groupBy(col("d"), col("reg")).agg(max(col("m_rho")).as("m_rho"))
        val est = Sketches.hllEstimateByGroup(merged, "d")
        val exact = act.join(broadcast(days),
            col("day_us") <= col("d") && col("day_us") > col("d") - 7L * DayUs)
          .groupBy(col("d")).agg(countDistinct(col("user_id")).as("exact_wau"))
        exact.join(est, "d")
          .select(col("d").as("day_us"), col("exact_wau"), col("est").as("hll_wau"))
          .orderBy("day_us")
      },
      oracle = Some {
        import graft.operators.Sketches
        // the grouped-HLL twin over the day-range-joined activity: the
        // register merge IS a max over the union of each window's rows, so
        // running the estimator on the joined frame is the same arithmetic
        s"""WITH act AS (SELECT DISTINCT epoch_us(date_trunc('day', ts)) AS day_us, user_id
                        FROM events),
           days AS (SELECT DISTINCT day_us AS d FROM act),
           win AS (SELECT days.d, act.user_id
                   FROM act JOIN days
                     ON act.day_us <= days.d AND act.day_us > days.d - 604800000000),
           est AS (${Sketches.duckHllByGroup("win", "d", "user_id")}),
           ex AS (SELECT d, count(DISTINCT user_id) AS exact_wau FROM win GROUP BY d)
           SELECT ex.d AS day_us, ex.exact_wau, est.est AS hll_wau
           FROM ex JOIN est ON est.grp = ex.d
           ORDER BY ex.d"""
      }),

    // the same daily-actives registers maintained BY the stream (complete
    // mode, state = |days| × 256 register rows regardless of event count);
    // drained registers fold through the same integer estimator, so the
    // result equals ev_dau_hll row for row (shared oracle shape)
    "ev_dau_hll_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val spark2 = spark; import spark2.implicits._
        import graft.operators.Sketches
        val stream = graft.streaming.EventStreams.runningHll(
          graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir))
            .withColumn("day_us", unix_micros(date_trunc("day", col("ts")))),
          "day_us", "user_id")
        val regs = graft.streaming.EventStreams.runToBatch(stream,
          s"ev_dau_hll_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Complete)
        val exact = Readers.fixture(spark, sfDir, "events")
          .select(unix_micros(date_trunc("day", col("ts"))).as("day_us"), col("user_id"))
          .groupBy(col("day_us"))
          .agg(countDistinct(col("user_id")).as("exact_users"))
        exact.join(Sketches.hllEstimateByGroup(regs, "day_us"), "day_us")
          .select(col("day_us"), col("exact_users"), col("est").as("hll_users"))
          .orderBy("day_us")
      },
      oracle = Some {
        import graft.operators.Sketches
        s"""WITH est AS (${Sketches.duckHllByGroup("events",
              "epoch_us(date_trunc('day', ts))", "user_id")}),
           ex AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us,
                         count(DISTINCT user_id) AS exact_users
                  FROM events GROUP BY 1)
           SELECT ex.day_us, ex.exact_users, est.est AS hll_users
           FROM ex JOIN est ON est.grp = ex.day_us
           ORDER BY ex.day_us"""
      }),

    // continuous stats mode: the pv_stats fingerprint maintained by the
    // stream (state = one count/min/max triple per column); must equal the
    // batch stats digest of the whole fixture once the stream drains
    "ev_stats_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val stream = graft.streaming.EventStreams.runningStats(
          graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir)))
        graft.streaming.EventStreams.runToBatch(stream,
          s"ev_stats_${System.nanoTime()}", org.apache.spark.sql.streaming.OutputMode.Complete)
          .select(col("table_name"), col("fingerprint"))
      },
      oracle = Some {
        import graft.core.{Fixtures, OracleSql, TestModes, VerifyConfig}
        s"SELECT 'events' AS table_name, " +
          s"${OracleSql.forMode(TestModes.Stats, "events", Fixtures.specs("events"), VerifyConfig())} AS fingerprint"
      }),

    // continuous value quantiles: a fixed-bin cent histogram per event type
    // maintained as complete-mode streaming state (≤ types × 64 counter
    // rows forever — the bounded-state argument of the CMS/HLL family),
    // drained and read out as p50/p90/p99 via integer cross-multiplied
    // cumulative counts. The streaming percentile monitor: approximate in
    // bin resolution, exact in arithmetic, so the drained stream equals the
    // batch histogram of the same rows and the oracle gate is exact
    "ev_quantile_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val hist = graft.streaming.EventStreams.runningValueHistogram(
          graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir)),
          widthCents = 1000L, maxBin = 63)
        val snap = graft.streaming.EventStreams.runToBatch(hist,
          s"ev_qhist_${System.nanoTime()}", org.apache.spark.sql.streaming.OutputMode.Complete)
        graft.streaming.EventStreams.histogramQuantiles(
            snap, widthCents = 1000L, pcts = Seq(50, 90, 99))
          .orderBy("event_type", "p")
      },
      oracle = Some(graft.streaming.EventStreams.duckHistogramQuantiles(
        "events", widthCents = 1000L, maxBin = 63, pcts = Seq(50, 90, 99)) +
        "\nORDER BY event_type, p")),

    // tumbling hourly window per event type
    "ev_window_hourly" -> QueryEntry(
      fn = (spark, sfDir) => {
        Readers.fixture(spark, sfDir, "events")
          .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"), col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("hour_us", "event_type")
      },
      oracle = Some("""
        SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1, 2 ORDER BY hour_us, event_type""")),

    // hourly traffic-spike detection: flag hours whose event count exceeds
    // 2x the per-type hourly mean. The comparison is cross-multiplied pure
    // 64-bit integer arithmetic (n * type_hours > 2 * type_total) — no
    // float mean, so the flag is bit-exact across engines and partition
    // orders. Two-level shape: the big scan collapses in the hourly groupBy
    // (map-side partial agg), the window then runs over the tiny per-type
    // aggregate frame — state is hours-per-type, never raw events
    "ev_hourly_anomaly" -> QueryEntry(
      fn = (spark, sfDir) => {
        val w = Window.partitionBy(col("event_type"))
        Readers.fixture(spark, sfDir, "events")
          .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"), col("event_type"))
          .agg(count(lit(1)).as("n_events"))
          .withColumn("type_hours", count(lit(1)).over(w))
          .withColumn("type_total", sum(col("n_events")).over(w))
          .withColumn("is_spike",
            col("n_events") * col("type_hours") > lit(2L) * col("type_total"))
          .orderBy("hour_us", "event_type")
      },
      oracle = Some("""
        WITH hourly AS (
          SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
                 count(*) AS n_events
          FROM events GROUP BY 1, 2)
        SELECT hour_us, event_type, n_events,
               count(*) OVER (PARTITION BY event_type) AS type_hours,
               CAST(sum(n_events) OVER (PARTITION BY event_type) AS BIGINT) AS type_total,
               n_events * count(*) OVER (PARTITION BY event_type)
                 > 2 * sum(n_events) OVER (PARTITION BY event_type) AS is_spike
        FROM hourly ORDER BY hour_us, event_type""")),

    // streaming twin of the anomaly scan, with the causally-correct
    // semantics: each completed hour is flagged against the TRAILING per-type
    // baseline (only hours before it), emitted exactly once when the next
    // hour's first event arrives — alerting semantics, where the batch query
    // scores retrospectively against the whole history. Per-type state is
    // four longs; each type's final open hour never completes, so the oracle
    // drops it symmetrically
    "ev_anomaly_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val stream = graft.streaming.EventStreams.anomalyHours(
          graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir)))
        graft.streaming.EventStreams.runToBatch(stream.toDF(),
          s"ev_anom_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append)
          .orderBy("hour_us", "event_type")
      },
      oracle = Some("""
        WITH hourly AS (
          SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
                 count(*) AS n_events
          FROM events GROUP BY 1, 2),
        scored AS (
          SELECT hour_us, event_type, n_events,
                 count(*) OVER w AS baseline_hours,
                 CAST(coalesce(sum(n_events) OVER w, 0) AS BIGINT) AS baseline_total,
                 n_events * count(*) OVER w
                   > 2 * coalesce(sum(n_events) OVER w, 0) AS is_spike,
                 max(hour_us) OVER (PARTITION BY event_type) AS last_hour
          FROM hourly
          WINDOW w AS (PARTITION BY event_type ORDER BY hour_us
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        SELECT hour_us, event_type, n_events, baseline_hours, baseline_total,
               is_spike
        FROM scored WHERE hour_us < last_hour ORDER BY hour_us, event_type""")),

    // gap-based sessionization: a >30min silence starts a new session
    // composed bot screen: per user, the three behavioral signals the
    // other queries expose separately — transition determinism (share of
    // the user's most common type→type step), event rate (mean inter-event
    // gap over the activity span), and type diversity — folded into one
    // integer scorecard with a conservative flag (high determinism AND
    // machine-fast cadence AND enough events to matter). Scripted traffic
    // is near-deterministic and metronomic; organic users are neither.
    // One narrow per-user window (the ev_transitions shape) + two
    // user-keyed aggregates
    "ev_bot_score" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"))
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val steps = ev
          .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
          .filter(col("to_type").isNotNull)
        val topPair = steps
          .groupBy(col("user_id"), col("event_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("user_id"))
          .agg(max(col("n")).as("top_pair_n"), sum(col("n")).as("n_trans"))
        val base = ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("event_type")).as("n_types"),
            (max(col("ts_us")) - min(col("ts_us"))).as("span_us"))
        base.join(topPair, Seq("user_id"), "left_outer")
          .filter(col("n_trans").isNotNull)
          .select(col("user_id"), col("n_events"), col("n_types"),
            expr("top_pair_n * 1000000 div n_trans").as("determinism_micro"),
            expr("span_us div n_trans").as("mean_gap_us"))
          .withColumn("is_bot",
            col("determinism_micro") >= 800000L && col("mean_gap_us") < 600000000L
              && col("n_events") >= 10L)
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        steps AS (SELECT user_id, event_type AS from_type,
                         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS to_type
                  FROM ev),
        pairs AS (SELECT user_id, from_type, to_type, count(*) AS n FROM steps
                  WHERE to_type IS NOT NULL GROUP BY user_id, from_type, to_type),
        tp AS (SELECT user_id, CAST(max(n) AS BIGINT) AS top_pair_n,
                      CAST(sum(n) AS BIGINT) AS n_trans
               FROM pairs GROUP BY user_id),
        base AS (SELECT user_id, count(*) AS n_events,
                        CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
                        max(ts_us) - min(ts_us) AS span_us
                 FROM ev GROUP BY user_id)
        SELECT b.user_id, b.n_events, b.n_types,
               tp.top_pair_n * 1000000 // tp.n_trans AS determinism_micro,
               b.span_us // tp.n_trans AS mean_gap_us,
               (tp.top_pair_n * 1000000 // tp.n_trans >= 800000
                AND b.span_us // tp.n_trans < 600000000
                AND b.n_events >= 10) AS is_bot
        FROM base b JOIN tp ON b.user_id = tp.user_id
        ORDER BY b.user_id""")),

    // per-type value quantiles: p50/p90 of the event value in integer
    // cents per event type — the spend/latency distribution by behavior
    // class, riding Quantiles.grouped so the exact→approx scale degrade
    // applies (the hottest TYPE gates the mode, not total rows)
    "ev_value_quantiles" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("event_type"),
            (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        graft.operators.Quantiles.grouped(ev, "event_type", "cents",
            Seq("p50_cents" -> 0.5, "p90_cents" -> 0.9))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type,
               quantile_cont(cents, 0.5) AS p50_cents,
               quantile_cont(cents, 0.9) AS p90_cents,
               count(*) AS n
        FROM (SELECT event_type,
                     CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
              FROM events) c
        GROUP BY event_type ORDER BY event_type""")),

    // audience overlap: Jaccard of user sets per event-type pair in
    // integer micro-units — which behaviors share an audience (feeds both
    // funnel design and the co-occurrence priors). Pairs form INSIDE each
    // user's distinct type set (fan-out ≤ |types|² per user), one
    // map-side count; set sizes join broadcast — never a type×type scan
    "ev_audience_overlap" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ut = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), col("event_type")).distinct()
        val pairs = ut.as("x").join(ut.as("y"),
            col("x.user_id") === col("y.user_id") &&
              col("x.event_type") < col("y.event_type"))
          .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
          .agg(count(lit(1)).as("n_both"))
        val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
        pairs
          .join(sizes.select(col("event_type").as("type_a"), col("n_users").as("na")), "type_a")
          .join(sizes.select(col("event_type").as("type_b"), col("n_users").as("nb")), "type_b")
          .select(col("type_a"), col("type_b"), col("n_both"),
            expr("n_both * 1000000 div (na + nb - n_both)").as("jaccard_micro"))
          .orderBy("type_a", "type_b")
      },
      oracle = Some("""
        WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        pairs AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
                         count(*) AS n_both
                  FROM ut x JOIN ut y
                    ON x.user_id = y.user_id AND x.event_type < y.event_type
                  GROUP BY 1, 2),
        sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
                  FROM ut GROUP BY event_type)
        SELECT p.type_a, p.type_b, p.n_both,
               p.n_both * 1000000 // (a.n_users + b.n_users - p.n_both) AS jaccard_micro
        FROM pairs p JOIN sizes a ON a.event_type = p.type_a
                     JOIN sizes b ON b.event_type = p.type_b
        ORDER BY p.type_a, p.type_b""")),

    // peak concurrency (sweep line in SQL): the maximum number of user
    // sessions simultaneously open, per day — the capacity figure behind
    // provisioning. Session intervals come from the gap rule; each emits
    // a +1 at start and −1 at end(+1µs); the live count is a PARTITIONED
    // sweep — cumsum within each day plus that day's carry-in (the sum of
    // every prior day's deltas, a ≤|days| broadcast) — so no global-order
    // single-partition window ever materializes: each day's 2·|sessions|
    // deltas sort inside their own partition, the cross-day state is one
    // number per day. Ties break (ts, delta asc) so a back-to-back
    // end/start at the same instant never overcounts
    "ev_peak_concurrency" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val sessions = ev
          .withColumn("is_new",
            when(col("ts_us") - lag(col("ts_us"), 1).over(byUser) > SessionGapUs
              || lag(col("ts_us"), 1).over(byUser).isNull, 1L).otherwise(0L))
          .withColumn("session_idx", sum(col("is_new")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_idx"))
          .agg(min(col("ts_us")).as("s_us"), max(col("ts_us")).as("e_us"))
        val deltas = sessions.select(col("s_us").as("t"), lit(1L).as("d"))
          .unionByName(sessions.select((col("e_us") + 1).as("t"), lit(-1L).as("d")))
          .withColumn("day_idx", expr("t div 86400000000"))
        val dayTotals = deltas.groupBy(col("day_idx")).agg(sum(col("d")).as("day_d"))
        val carryW = Window.orderBy(col("day_idx"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val carries = dayTotals
          .withColumn("carry", coalesce(sum(col("day_d")).over(carryW), lit(0L)))
          .select(col("day_idx"), col("carry"))
        val sweep = Window.partitionBy(col("day_idx")).orderBy(col("t"), col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        deltas
          .withColumn("live_in_day", sum(col("d")).over(sweep))
          .join(broadcast(carries), "day_idx")
          .groupBy(col("day_idx"))
          .agg(max(col("live_in_day") + col("carry")).as("peak_concurrent"))
          .orderBy("day_idx")
      },
      oracle = Some(s"""
        WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        flagged AS (SELECT user_id, event_id, ts_us,
          CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > $SessionGapUs
                 OR lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
               THEN 1 ELSE 0 END AS is_new FROM ev),
        numbered AS (SELECT user_id, ts_us,
          sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM flagged),
        sessions AS (SELECT user_id, session_idx, min(ts_us) AS s_us, max(ts_us) AS e_us
                     FROM numbered GROUP BY user_id, session_idx),
        deltas AS (SELECT s_us AS t, 1 AS d FROM sessions
                   UNION ALL SELECT e_us + 1, -1 FROM sessions),
        sweep AS (SELECT t, CAST(sum(d) OVER (ORDER BY t, d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS live
                  FROM deltas)
        SELECT t // 86400000000 AS day_idx, CAST(max(live) AS BIGINT) AS peak_concurrent
        FROM sweep GROUP BY day_idx ORDER BY day_idx""")),

    // new vs returning actives: per day, users whose FIRST-ever activity
    // is that day vs users coming back — the growth-vs-retention split of
    // the DAU line. Cohort day is the |users|-sized min aggregate
    "ev_new_vs_returning" -> QueryEntry(
      fn = (spark, sfDir) => {
        val act = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"),
            unix_micros(date_trunc("day", col("ts"))).as("day_us"))
          .distinct()
        val coh = act.groupBy(col("user_id")).agg(min(col("day_us")).as("cohort_us"))
        act.join(coh, "user_id")
          .groupBy(col("day_us"))
          .agg(sum(when(col("day_us") === col("cohort_us"), 1L).otherwise(0L)).as("n_new"),
            sum(when(col("day_us") =!= col("cohort_us"), 1L).otherwise(0L)).as("n_returning"))
          .orderBy("day_us")
      },
      oracle = Some("""
        WITH act AS (SELECT DISTINCT user_id, epoch_us(date_trunc('day', ts)) AS day_us
                     FROM events),
        coh AS (SELECT user_id, min(day_us) AS cohort_us FROM act GROUP BY user_id)
        SELECT day_us,
               CAST(sum(CASE WHEN day_us = cohort_us THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN day_us <> cohort_us THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
        FROM act JOIN coh USING (user_id)
        GROUP BY day_us ORDER BY day_us""")),

    // session duration quantiles: p50/p90 session length (first→last
    // event) per session-size band (single-event sessions excluded — their
    // duration is definitionally zero and would drown the median). Rides
    // Quantiles.grouped for the exact→approx degrade; the band keeps the
    // table readable (duration scales with event count; mixing them hides
    // the long-tail browse sessions)
    "ev_session_quantiles" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val sess = ev
          .withColumn("is_new",
            when(col("ts_us") - lag(col("ts_us"), 1).over(byUser) > SessionGapUs
              || lag(col("ts_us"), 1).over(byUser).isNull, 1L).otherwise(0L))
          .withColumn("session_idx", sum(col("is_new")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_idx"))
          .agg(count(lit(1)).as("n_ev"),
            (max(col("ts_us")) - min(col("ts_us"))).as("dur_us"))
          .filter(col("n_ev") > 1)
          .select(length(bin(col("n_ev"))).cast("long").as("size_band"), col("dur_us"))
        graft.operators.Quantiles.grouped(sess, "size_band", "dur_us",
            Seq("p50_us" -> 0.5, "p90_us" -> 0.9))
          .orderBy("size_band")
      },
      oracle = Some(s"""
        WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        flagged AS (SELECT user_id, event_id, ts_us,
          CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > $SessionGapUs
                 OR lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
               THEN 1 ELSE 0 END AS is_new FROM ev),
        numbered AS (SELECT user_id, ts_us,
          sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM flagged),
        sess AS (SELECT user_id, session_idx, count(*) AS n_ev,
                        max(ts_us) - min(ts_us) AS dur_us
                 FROM numbered GROUP BY user_id, session_idx)
        SELECT CAST(length(bin(n_ev)) AS BIGINT) AS size_band,
               quantile_cont(dur_us, 0.5) AS p50_us,
               quantile_cont(dur_us, 0.9) AS p90_us,
               count(*) AS n
        FROM sess WHERE n_ev > 1
        GROUP BY size_band ORDER BY size_band""")),

    // cart abandonment by day: sessions with a click but no purchase,
    // per day of session start — the conversion-funnel complement at
    // session granularity (ev_funnel counts users; this localizes WHEN
    // the drop-offs happen). Reuses the gap-rule session frame; flags are
    // per-session maxes, the day rollup is a ≤|days| aggregate
    "ev_cart_abandonment" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"))
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val sessions = ev
          .withColumn("is_new",
            when(col("ts_us") - lag(col("ts_us"), 1).over(byUser) > SessionGapUs
              || lag(col("ts_us"), 1).over(byUser).isNull, 1L).otherwise(0L))
          .withColumn("session_idx", sum(col("is_new")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val perSession = sessions
          .groupBy(col("user_id"), col("session_idx"))
          .agg(expr("min(ts_us) div 86400000000").as("day_idx"),
            max(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicked"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchased"))
        perSession.filter(col("clicked") === 1L)
          .groupBy(col("day_idx"))
          .agg(count(lit(1)).as("n_click_sessions"),
            sum(when(col("purchased") === 0L, 1L).otherwise(0L)).as("n_abandoned"))
          .withColumn("abandon_micro", expr("n_abandoned * 1000000 div n_click_sessions"))
          .orderBy("day_idx")
      },
      oracle = Some(s"""
        WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        flagged AS (SELECT user_id, event_id, event_type, ts_us,
          CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > $SessionGapUs
                 OR lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
               THEN 1 ELSE 0 END AS is_new FROM ev),
        numbered AS (SELECT user_id, event_type, ts_us,
          sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM flagged),
        per_session AS (SELECT user_id, session_idx,
          min(ts_us) // 86400000000 AS day_idx,
          max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
          FROM numbered GROUP BY user_id, session_idx)
        SELECT day_idx, count(*) AS n_click_sessions,
               CAST(sum(CASE WHEN purchased = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned,
               CAST(sum(CASE WHEN purchased = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 * 1000000 // count(*) AS abandon_micro
        FROM per_session WHERE clicked = 1
        GROUP BY day_idx ORDER BY day_idx""")),

    // activity streaks (gaps-and-islands): each user's longest run of
    // consecutive active days, histogrammed by streak length — the
    // retention-adjacent figure DAU can't see (the same DAU can be one
    // cohort streaking or many churning). The island key is the classic
    // day-index-minus-row-number constant; everything is a narrow per-user
    // window over the |users|·|days| distinct-activity frame
    "ev_activity_streaks" -> QueryEntry(
      fn = (spark, sfDir) => {
        val DayUs = 86400000000L
        val act = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"),
            expr(s"unix_micros(date_trunc('day', ts)) div $DayUs").as("day_idx"))
          .distinct()
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("day_idx"))
        val streaks = act
          .withColumn("island", col("day_idx") - row_number().over(byUser))
          .groupBy(col("user_id"), col("island"))
          .agg(count(lit(1)).as("len"))
          .groupBy(col("user_id")).agg(max(col("len")).as("longest"))
        streaks.groupBy(col("longest").as("streak_days"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("streak_days")
      },
      oracle = Some("""
        WITH act AS (SELECT DISTINCT user_id,
                            epoch_us(date_trunc('day', ts)) // 86400000000 AS day_idx
                     FROM events),
        isl AS (SELECT user_id, day_idx,
                       day_idx - row_number() OVER (PARTITION BY user_id ORDER BY day_idx) AS island
                FROM act),
        runs AS (SELECT user_id, island, count(*) AS len
                 FROM isl GROUP BY user_id, island),
        longest AS (SELECT user_id, CAST(max(len) AS BIGINT) AS streak_days
                    FROM runs GROUP BY user_id)
        SELECT streak_days, count(*) AS n_users
        FROM longest GROUP BY streak_days ORDER BY streak_days""")),

    // inter-event gap spectrum: successive-event gaps per user, bucketed
    // into log2 second bands — the cadence histogram behind ev_bot_score's
    // mean (a metronomic script is a spike in one band; organic users
    // spread). Same narrow per-user window as the transition family; the
    // spectrum is ≤64 rows
    "ev_gap_spectrum" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        ev.withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(byUser))
          .filter(col("gap_us").isNotNull)
          .select(length(bin(greatest(expr("gap_us div 1000000"), lit(1L))))
            .cast("long").as("band"))
          .groupBy("band").agg(count(lit(1)).as("n_gaps"))
          .orderBy("band")
      },
      oracle = Some("""
        WITH g AS (SELECT ts_us - lag(ts_us) OVER (PARTITION BY user_id
                     ORDER BY ts_us, event_id) AS gap_us
                   FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events) e)
        SELECT CAST(length(bin(greatest(gap_us // 1000000, 1))) AS BIGINT) AS band,
               count(*) AS n_gaps
        FROM g WHERE gap_us IS NOT NULL
        GROUP BY band ORDER BY band""")),

    // hour-of-day seasonality: events per (hour-of-day, type) with the
    // share of that type's daily cycle in micro-units — the load/seasonal
    // profile behind anomaly baselines and capacity planning (and, for
    // corpus work, "when does the human traffic happen" vs metronomic
    // bots). One scan aggregate, ≤ 24·|types| rows
    "ev_hour_of_day" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(hour(col("ts")).cast("long").as("hod"), col("event_type"))
        val cells = ev.groupBy(col("hod"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val totals = cells.groupBy(col("event_type")).agg(sum(col("n")).as("total"))
        cells.join(totals, "event_type")
          .select(col("hod"), col("event_type"), col("n"),
            expr("n * 1000000 div total").as("share_micro"))
          .orderBy("hod", "event_type")
      },
      oracle = Some("""
        WITH cells AS (SELECT CAST(hour(ts) AS BIGINT) AS hod, event_type,
                              count(*) AS n
                       FROM events GROUP BY 1, 2),
        totals AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total
                   FROM cells GROUP BY event_type)
        SELECT c.hod, c.event_type, c.n, c.n * 1000000 // t.total AS share_micro
        FROM cells c JOIN totals t ON c.event_type = t.event_type
        ORDER BY c.hod, c.event_type""")),

    // weekly behavior-mix drift: each week's event-type share vector, and
    // its L1 distance from the PRIOR week in micro-units — the trend
    // monitor that catches a composition change (a bot wave, a product
    // launch) even when total volume looks flat. Shares are integer micro;
    // the drift join is lag-by-one over the ≤|weeks|·|types| aggregate
    "ev_mix_drift_weekly" -> QueryEntry(
      fn = (spark, sfDir) => {
        val WeekUs = 7L * 86400000000L
        val cells = Readers.fixture(spark, sfDir, "events")
          .groupBy(expr(s"unix_micros(ts) div $WeekUs").as("week_idx"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val totals = cells.groupBy("week_idx").agg(sum(col("n")).as("tot"))
        val shares = cells.join(totals, "week_idx")
          .select(col("week_idx"), col("event_type"),
            expr("n * 1000000 div tot").as("share"))
        val byType = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("week_idx"))
        shares
          .withColumn("prev_share", lag(col("share"), 1).over(byType))
          .withColumn("prev_week", lag(col("week_idx"), 1).over(byType))
          // only CONSECUTIVE weeks drift-compare (a dark week in a type
          // must not compare across the gap)
          .filter(col("prev_week") === col("week_idx") - 1)
          .groupBy(col("week_idx"))
          .agg(sum(abs(col("share") - col("prev_share"))).as("l1_drift_micro"),
            count(lit(1)).as("n_types_compared"))
          .orderBy("week_idx")
      },
      oracle = Some("""
        WITH cells AS (SELECT epoch_us(ts) // 604800000000 AS week_idx, event_type,
                              count(*) AS n
                       FROM events GROUP BY 1, 2),
        totals AS (SELECT week_idx, CAST(sum(n) AS BIGINT) AS tot
                   FROM cells GROUP BY week_idx),
        shares AS (SELECT c.week_idx, c.event_type, c.n * 1000000 // t.tot AS share
                   FROM cells c JOIN totals t ON c.week_idx = t.week_idx),
        lagged AS (SELECT week_idx, event_type, share,
                          lag(share) OVER (PARTITION BY event_type ORDER BY week_idx) AS prev_share,
                          lag(week_idx) OVER (PARTITION BY event_type ORDER BY week_idx) AS prev_week
                   FROM shares)
        SELECT week_idx,
               CAST(sum(abs(share - prev_share)) AS BIGINT) AS l1_drift_micro,
               count(*) AS n_types_compared
        FROM lagged WHERE prev_week = week_idx - 1
        GROUP BY week_idx ORDER BY week_idx""")),

    // top-percentile event share: what fraction of the event volume the
    // top 1% most active users generate — the concentration headline the
    // activity spectrum implies but doesn't state (high concentration is
    // either a power-user product or a bot problem; the spectrum bands
    // disambiguate). ntile over the |users| aggregate
    "ev_top_user_share" -> QueryEntry(
      fn = (spark, sfDir) => {
        val perUser = Readers.fixture(spark, sfDir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        // distributed exact ntile from rank (the |users| table must never
        // single-partition — Ranks scaladoc): SQL ntile gives the first
        // N mod k buckets N div k + 1 rows, the rest N div k
        val ranked = graft.operators.Ranks.globalRank(
          perUser, Seq(col("n").desc, col("user_id").asc), "rnk")
        val nU = ranked.count()
        ranked.withColumn("pct", graft.operators.Ranks.ntileFromRank("rnk", nU, 100))
          .agg(count(lit(1)).as("n_users"),
            sum(col("n")).as("n_events"),
            sum(when(col("pct") === 1, col("n")).otherwise(0L)).as("top1_events"))
          .select(col("n_users"), col("n_events"), col("top1_events"),
            expr("top1_events * 1000000 div n_events").as("top1_share_micro"))
      },
      oracle = Some("""
        WITH u AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        t AS (SELECT user_id, n, ntile(100) OVER (ORDER BY n DESC, user_id ASC) AS pct
              FROM u)
        SELECT count(*) AS n_users, CAST(sum(n) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN pct = 1 THEN n ELSE 0 END) AS BIGINT) AS top1_events,
               CAST(sum(CASE WHEN pct = 1 THEN n ELSE 0 END) AS BIGINT)
                 * 1000000 // CAST(sum(n) AS BIGINT) AS top1_share_micro
        FROM t""")),

    // user-activity spectrum: users per log2 event-count band (the Zipf
    // shape of engagement — organic traffic is heavy-tailed; a spike in a
    // high band is a bot cohort). The events-side twin of
    // text_freq_spectrum: two map-side-combined aggregates, ≤64 rows out
    "ev_activity_spectrum" -> QueryEntry(
      fn = (spark, sfDir) => {
        val perUser = Readers.fixture(spark, sfDir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        perUser.groupBy(length(bin(col("n_events"))).cast("long").as("band"))
          .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events"))
          .orderBy("band")
      },
      oracle = Some("""
        WITH u AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
        SELECT CAST(length(bin(n)) AS BIGINT) AS band,
               count(*) AS n_users, CAST(sum(n) AS BIGINT) AS n_events
        FROM u GROUP BY band ORDER BY band""")),

    // RFM segmentation: per-user recency (days since last purchase vs the
    // corpus horizon), frequency (purchase count), monetary (integer-cent
    // spend — the winsorize cents discipline, no double summation), each
    // banded 1-3 by fixed thresholds, rolled up to segment populations.
    // The lifecycle-marketing primitive; also the curation shape for
    // "contributor tiers" on UGC sources. One narrow per-user aggregate +
    // a 1-row horizon broadcast; the segment rollup is ≤27 cells
    "ev_rfm_segments" -> QueryEntry(
      fn = (spark, sfDir) => {
        val DayUs = 86400000000L
        val p = Readers.fixture(spark, sfDir, "events")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        val horizon = p.agg(max(col("ts_us")).as("horizon_us"))
        val perUser = p.groupBy("user_id")
          .agg(max(col("ts_us")).as("last_us"), count(lit(1)).as("f"),
            sum(col("cents")).as("cents"))
          .crossJoin(horizon)
          .select(col("user_id"),
            expr(s"3 - least((horizon_us - last_us) div ${7 * DayUs}, 2L)").as("r_score"),
            (lit(1L) + when(col("f") >= 3, 1L).otherwise(0L)
              + when(col("f") >= 10, 1L).otherwise(0L)).as("f_score"),
            (lit(1L) + when(col("cents") >= 5000L, 1L).otherwise(0L)
              + when(col("cents") >= 20000L, 1L).otherwise(0L)).as("m_score"))
        perUser.groupBy("r_score", "f_score", "m_score")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("r_score", "f_score", "m_score")
      },
      oracle = Some(s"""
        WITH p AS (SELECT user_id, epoch_us(ts) AS ts_us,
                          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                   FROM events WHERE event_type = 'purchase'),
        h AS (SELECT max(ts_us) AS horizon_us FROM p),
        u AS (SELECT user_id, max(ts_us) AS last_us, count(*) AS f,
                     CAST(sum(cents) AS BIGINT) AS cents
              FROM p GROUP BY user_id),
        s AS (SELECT u.user_id,
                     3 - least((h.horizon_us - u.last_us) // ${7 * 86400000000L}, 2) AS r_score,
                     1 + CASE WHEN u.f >= 3 THEN 1 ELSE 0 END
                       + CASE WHEN u.f >= 10 THEN 1 ELSE 0 END AS f_score,
                     1 + CASE WHEN u.cents >= 5000 THEN 1 ELSE 0 END
                       + CASE WHEN u.cents >= 20000 THEN 1 ELSE 0 END AS m_score
              FROM u, h)
        SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
               CAST(m_score AS BIGINT) AS m_score, count(*) AS n_users
        FROM s GROUP BY r_score, f_score, m_score
        ORDER BY r_score, f_score, m_score""")),

    // RFM as a stream: the per-user (last_ts, count, cents) triple
    // maintained by a complete-mode aggregation — three longs of state per
    // user, the same figure the batch query computes in one pass; drained
    // state folds through the identical banding, so the segment table
    // equals ev_rfm_segments row for row (shared oracle). The horizon is
    // the drained maximum, exactly as the batch side's 1-row broadcast
    "ev_rfm_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val DayUs = 86400000000L
        val stream = graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir))
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
          .groupBy(col("user_id"))
          .agg(max(col("ts_us")).as("last_us"), count(lit(1)).as("f"),
            sum(col("cents")).as("cents"))
        val perUser = graft.streaming.EventStreams.runToBatch(stream,
          s"ev_rfm_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Complete)
        val horizon = perUser.agg(max(col("last_us")).as("horizon_us"))
        perUser.crossJoin(broadcast(horizon))
          .select(col("user_id"),
            expr(s"3 - least((horizon_us - last_us) div ${7 * DayUs}, 2L)").as("r_score"),
            (lit(1L) + when(col("f") >= 3, 1L).otherwise(0L)
              + when(col("f") >= 10, 1L).otherwise(0L)).as("f_score"),
            (lit(1L) + when(col("cents") >= 5000L, 1L).otherwise(0L)
              + when(col("cents") >= 20000L, 1L).otherwise(0L)).as("m_score"))
          .groupBy("r_score", "f_score", "m_score")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("r_score", "f_score", "m_score")
      },
      oracle = Some(s"""
        WITH p AS (SELECT user_id, epoch_us(ts) AS ts_us,
                          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                   FROM events WHERE event_type = 'purchase'),
        h AS (SELECT max(ts_us) AS horizon_us FROM p),
        u AS (SELECT user_id, max(ts_us) AS last_us, count(*) AS f,
                     CAST(sum(cents) AS BIGINT) AS cents
              FROM p GROUP BY user_id),
        s AS (SELECT u.user_id,
                     3 - least((h.horizon_us - u.last_us) // ${7 * 86400000000L}, 2) AS r_score,
                     1 + CASE WHEN u.f >= 3 THEN 1 ELSE 0 END
                       + CASE WHEN u.f >= 10 THEN 1 ELSE 0 END AS f_score,
                     1 + CASE WHEN u.cents >= 5000 THEN 1 ELSE 0 END
                       + CASE WHEN u.cents >= 20000 THEN 1 ELSE 0 END AS m_score
              FROM u, h)
        SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
               CAST(m_score AS BIGINT) AS m_score, count(*) AS n_users
        FROM s GROUP BY r_score, f_score, m_score
        ORDER BY r_score, f_score, m_score""")),

    // behavior transition matrix (first-order Markov): count of each
    // (from_type → to_type) step in every user's time-ordered event
    // sequence, with the row-conditional probability in integer micro-units
    // — the sequence prior behind funnel design and bot screens (organic
    // users mix transitions; scripted traffic shows near-deterministic
    // rows). One narrow per-user window (type, ts, id only — hub users
    // bound partition width, not corpus size), one map-side-combined pair
    // count, then the row totals join on the ≤|types|² aggregate — the
    // division is integer `div`, last, on both engines
    "ev_transitions" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"))
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val steps = ev
          .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
          .filter(col("to_type").isNotNull)
          .select(col("event_type").as("from_type"), col("to_type"))
        val pairs = steps.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        val totals = pairs.groupBy("from_type").agg(sum(col("n")).as("row_total"))
        pairs.join(totals, Seq("from_type"))
          .select(col("from_type"), col("to_type"), col("n"),
            expr("n * 1000000 div row_total").as("p_micro"))
          .orderBy("from_type", "to_type")
      },
      oracle = Some(TransitionsOracle)),

    // streaming twin of ev_transitions: constant-size per-user state (the
    // last event only); each micro-batch chains behind the carried last
    // event, so the boundary-straddling step is emitted exactly once (see
    // streaming/EventStreams.transitionSteps). The drained steps fold
    // through the same pair-count + row-total arithmetic as the batch query
    "ev_transitions_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val steps = graft.streaming.EventStreams.transitionSteps(
          graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir)))
        val pairs = graft.streaming.EventStreams.runToBatch(steps.toDF(),
          s"ev_transitions_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append)
          .groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("n"))
        // row totals via a window, not the batch twin's self-join: a join
        // of a MemorySink view against its own aggregate trips Catalyst's
        // conflicting-attribute check, and the drained pair frame is
        // ≤ |types|² rows — window cost is nil
        pairs.withColumn("row_total", sum(col("n")).over(
            Window.partitionBy(col("from_type"))))
          .select(col("from_type"), col("to_type"), col("n"),
            expr("n * 1000000 div row_total").as("p_micro"))
          .orderBy("from_type", "to_type")
      },
      oracle = Some(TransitionsOracle)),

    // session path mining: the top-20 most common session-opening paths
    // (first 4 event types per session, '>'-joined) — the navigation-
    // pattern primitive behind funnel DESIGN (ev_funnel checks a chosen
    // path; this surfaces which paths exist to check). Same gap-rule
    // sessionization as ev_sessionize, a rank filter caps every session's
    // contribution at 4 rows (hub sessions bound nothing), the path
    // assembles per session from a ≤4-element sorted array, and the final
    // count is map-side-combined with a TakeOrdered top-k — no global sort
    "ev_session_paths" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"))
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val sessions = ev
          .withColumn("is_new",
            when(col("ts_us") - lag(col("ts_us"), 1).over(byUser) > SessionGapUs
              || lag(col("ts_us"), 1).over(byUser).isNull, 1L).otherwise(0L))
          .withColumn("session_idx", sum(col("is_new")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val bySession = Window.partitionBy(col("user_id"), col("session_idx"))
          .orderBy(col("ts_us"), col("event_id"))
        sessions
          .withColumn("rk", row_number().over(bySession))
          .filter(col("rk") <= 4)
          .groupBy(col("user_id"), col("session_idx"))
          .agg(concat_ws(">", transform(
            array_sort(collect_list(struct(col("rk"), col("event_type")))),
            x => x.getField("event_type"))).as("path"))
          .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
          .orderBy(col("n_sessions").desc, col("path").asc)
          .limit(20)
      },
      oracle = Some(s"""
        WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        flagged AS (SELECT user_id, event_id, event_type, ts_us,
          CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > $SessionGapUs
                 OR lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
               THEN 1 ELSE 0 END AS is_new FROM ev),
        numbered AS (SELECT user_id, event_id, event_type, ts_us,
          sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM flagged),
        ranked AS (SELECT user_id, session_idx, event_type,
          row_number() OVER (PARTITION BY user_id, session_idx ORDER BY ts_us, event_id) AS rk
          FROM numbered),
        paths AS (SELECT user_id, session_idx,
          string_agg(event_type, '>' ORDER BY rk) AS path
          FROM ranked WHERE rk <= 4 GROUP BY user_id, session_idx)
        SELECT path, count(*) AS n_sessions FROM paths
        GROUP BY path ORDER BY n_sessions DESC, path ASC LIMIT 20""")),

    // conversion rate by opening path: ev_session_paths' top paths scored
    // by whether the SESSION went on to purchase — the table that turns
    // path mining into funnel design (a common path with 2% conversion and
    // a rare one with 40% point at different fixes). Same sessionization
    // and rank cap; the purchase flag is a per-session max, no second scan
    "ev_conversion_by_path" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"))
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val sessions = ev
          .withColumn("is_new",
            when(col("ts_us") - lag(col("ts_us"), 1).over(byUser) > SessionGapUs
              || lag(col("ts_us"), 1).over(byUser).isNull, 1L).otherwise(0L))
          .withColumn("session_idx", sum(col("is_new")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val bySession = Window.partitionBy(col("user_id"), col("session_idx"))
          .orderBy(col("ts_us"), col("event_id"))
        val perSession = sessions
          .withColumn("rk", row_number().over(bySession))
          .groupBy(col("user_id"), col("session_idx"))
          .agg(concat_ws(">", transform(
              array_sort(collect_list(when(col("rk") <= 4,
                struct(col("rk"), col("event_type"))))),
              x => x.getField("event_type"))).as("path"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
        perSession.groupBy(col("path"))
          .agg(count(lit(1)).as("n_sessions"), sum(col("converted")).as("n_converted"))
          .withColumn("cvr_micro", expr("n_converted * 1000000 div n_sessions"))
          .orderBy(col("n_sessions").desc, col("path").asc)
          .limit(20)
      },
      oracle = Some(s"""
        WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        flagged AS (SELECT user_id, event_id, event_type, ts_us,
          CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > $SessionGapUs
                 OR lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
               THEN 1 ELSE 0 END AS is_new FROM ev),
        numbered AS (SELECT user_id, event_id, event_type, ts_us,
          sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM flagged),
        ranked AS (SELECT user_id, session_idx, event_type, ts_us, event_id,
          row_number() OVER (PARTITION BY user_id, session_idx ORDER BY ts_us, event_id) AS rk
          FROM numbered),
        per_session AS (SELECT user_id, session_idx,
          string_agg(CASE WHEN rk <= 4 THEN event_type END, '>' ORDER BY rk) AS path,
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
          FROM ranked GROUP BY user_id, session_idx)
        SELECT path, count(*) AS n_sessions,
               CAST(sum(converted) AS BIGINT) AS n_converted,
               CAST(sum(converted) AS BIGINT) * 1000000 // count(*) AS cvr_micro
        FROM per_session GROUP BY path
        ORDER BY n_sessions DESC, path ASC LIMIT 20""")),

    "ev_sessionize" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val flagged = ev.withColumn("is_new",
          when(col("ts_us") - lag(col("ts_us"), 1).over(byUser) > SessionGapUs
            || lag(col("ts_us"), 1).over(byUser).isNull, 1L).otherwise(0L))
        val sessions = flagged
          .withColumn("session_idx", sum(col("is_new")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_idx"))
          .agg(count(lit(1)).as("session_events"))
        sessions.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(col("session_events")).as("n_events"),
            max(col("session_events")).as("max_session_events"))
          .orderBy("user_id")
      },
      oracle = Some(s"""
        WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        flagged AS (SELECT user_id, ts_us, event_id,
          CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > $SessionGapUs
                 OR lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
               THEN 1 ELSE 0 END AS is_new FROM ev),
        numbered AS (SELECT user_id,
          sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM flagged),
        sessions AS (SELECT user_id, session_idx, count(*) AS session_events
                     FROM numbered GROUP BY user_id, session_idx)
        SELECT user_id, count(*) AS n_sessions,
               CAST(sum(session_events) AS BIGINT) AS n_events,
               max(session_events) AS max_session_events
        FROM sessions GROUP BY user_id ORDER BY user_id""")),

    // native session_window twin at the SESSION grain (start, end = last
    // event + gap, count): the engine owns session merging and watermark
    // eviction — the built-in-operator counterpart of the custom-state
    // sessionize pair above. Oracle rebuilds the same sessions as gap
    // islands; ties in ts are harmless (diff 0 never splits an island)
    "ev_session_window_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val stream = graft.streaming.EventStreams.sessionWindowAgg(
          graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir)),
          "30 minutes")
        graft.streaming.EventStreams.runToBatch(stream,
          s"ev_sw_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Complete)
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("start_us"),
            unix_micros(col("session_window.end")).as("end_us"),
            col("n_events"))
          .orderBy("user_id", "start_us")
      },
      oracle = Some(s"""
        WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        flagged AS (SELECT user_id, ts_us,
          CASE WHEN ts_us - lag(ts_us) OVER w > $SessionGapUs
                 OR lag(ts_us) OVER w IS NULL
               THEN 1 ELSE 0 END AS is_new FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        numbered AS (SELECT user_id, ts_us,
          sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          FROM flagged)
        SELECT user_id, min(ts_us) AS start_us,
               max(ts_us) + $SessionGapUs AS end_us, count(*) AS n_events
        FROM numbered GROUP BY user_id, session_idx
        ORDER BY user_id, start_us""")),

    // first event per (user, type) — the batch twin of streaming dedup state
    "ev_dedup_first" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"))
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts_us"), col("event_id"))
        ev.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"),
            col("event_id").as("first_event_id"), col("ts_us").as("first_ts_us"))
          .orderBy("user_id", "event_type")
      },
      oracle = Some("""
        SELECT user_id, event_type, event_id AS first_event_id, epoch_us(ts) AS first_ts_us
        FROM (SELECT user_id, event_type, event_id, ts,
                row_number() OVER (PARTITION BY user_id, event_type
                  ORDER BY epoch_us(ts), event_id) AS rn FROM events) t
        WHERE rn = 1 ORDER BY user_id, event_type""")),

    // sliding (hopping) window: 1 h windows every 30 min — each event lands
    // in exactly size/hop = 2 windows; one scan, one narrow shuffle on
    // (window, type). The oracle expands the same two epoch-aligned buckets
    // per event explicitly
    "ev_window_sliding" -> QueryEntry(
      fn = (spark, sfDir) => {
        Readers.fixture(spark, sfDir, "events")
          .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n_events"))
          .select(unix_micros(col("window.start")).as("win_us"),
            col("event_type"), col("n_events"))
          .orderBy("win_us", "event_type")
      },
      oracle = Some(s"""
        WITH ev AS (SELECT epoch_us(ts) AS us, event_type FROM events),
        wins AS (SELECT unnest([us - ((us % $HopUs + $HopUs) % $HopUs),
                                us - ((us % $HopUs + $HopUs) % $HopUs) - $HopUs]) AS win_us,
                        event_type FROM ev)
        SELECT win_us, event_type, count(*) AS n_events
        FROM wins GROUP BY win_us, event_type ORDER BY win_us, event_type""")),

    // the hopping window through Structured Streaming, replayed to completion
    "ev_window_sliding_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val stream = graft.streaming.EventStreams.slidingWindow(
          graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir)))
        val result = graft.streaming.EventStreams.runToBatch(stream,
          s"ev_slide_${System.nanoTime()}", org.apache.spark.sql.streaming.OutputMode.Complete)
        result.select(unix_micros(col("window.start")).as("win_us"),
            col("event_type"), col("n_events"))
          .orderBy("win_us", "event_type")
      },
      oracle = Some(s"""
        WITH ev AS (SELECT epoch_us(ts) AS us, event_type FROM events),
        wins AS (SELECT unnest([us - ((us % $HopUs + $HopUs) % $HopUs),
                                us - ((us % $HopUs + $HopUs) % $HopUs) - $HopUs]) AS win_us,
                        event_type FROM ev)
        SELECT win_us, event_type, count(*) AS n_events
        FROM wins GROUP BY win_us, event_type ORDER BY win_us, event_type""")),

    // the same hourly window through Structured Streaming: readStream over
    // the fixture, watermark + tumbling window, replayed to completion — the
    // streaming engine must agree with the DuckDB batch oracle
    "ev_window_hourly_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val stream = graft.streaming.EventStreams.hourlyWindow(
          graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir)))
        val result = graft.streaming.EventStreams.runToBatch(stream,
          s"ev_hourly_${System.nanoTime()}", org.apache.spark.sql.streaming.OutputMode.Complete)
        result.select(
            unix_micros(col("window.start")).as("hour_us"), col("event_type"),
            col("n_events"), col("sum_value"))
          .orderBy("hour_us", "event_type")
      },
      oracle = Some("""
        SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY hour_us, event_type""")),

    // streaming first-event dedup replayed to completion: the fixture is
    // written sorted by (ts, event_id) into one file (pre-materialized once,
    // see orderedEventsDir), so arrival order == event-time order and
    // dropDuplicatesWithinWatermark's first-to-ARRIVE semantics coincide with
    // the batch min-(ts, id) oracle
    "ev_dedup_first_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val dir = orderedEventsDir(spark, sfDir)
        val schema = Readers.fixture(spark, sfDir, "events")
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type")).schema
        val stream = spark.readStream.schema(schema).parquet(dir)
        val result = graft.streaming.EventStreams.runToBatch(
          graft.streaming.EventStreams.dedupFirst(stream),
          s"ev_dedup_${System.nanoTime()}", org.apache.spark.sql.streaming.OutputMode.Append)
        result.select(col("user_id"), col("event_type"),
            col("event_id").as("first_event_id"), unix_micros(col("ts")).as("first_ts_us"))
          .orderBy("user_id", "event_type")
      },
      oracle = Some("""
        SELECT user_id, event_type, event_id AS first_event_id, epoch_us(ts) AS first_ts_us
        FROM (SELECT user_id, event_type, event_id, ts,
                row_number() OVER (PARTITION BY user_id, event_type
                  ORDER BY epoch_us(ts), event_id) AS rn FROM events) t
        WHERE rn = 1 ORDER BY user_id, event_type""")),

    // stateful gap sessionization (flatMapGroupsWithState) replayed to
    // completion; session/event counts grow monotonically across updates, so
    // max per user == the final state == the batch windowed oracle
    "ev_sessionize_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val stream = graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir))
        val result = graft.streaming.EventStreams.runToBatch(
          graft.streaming.EventStreams.sessionize(stream, SessionGapUs).toDF(),
          s"ev_sess_${System.nanoTime()}", org.apache.spark.sql.streaming.OutputMode.Update)
        result.groupBy(col("user_id"))
          .agg(max(col("n_sessions")).as("n_sessions"), max(col("n_events")).as("n_events"))
          .orderBy("user_id")
      },
      oracle = Some(s"""
        WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        flagged AS (SELECT user_id, ts_us, event_id,
          CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > $SessionGapUs
                 OR lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
               THEN 1 ELSE 0 END AS is_new FROM ev),
        numbered AS (SELECT user_id,
          sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM flagged),
        sessions AS (SELECT user_id, session_idx, count(*) AS session_events
                     FROM numbered GROUP BY user_id, session_idx)
        SELECT user_id, count(*) AS n_sessions,
               CAST(sum(session_events) AS BIGINT) AS n_events
        FROM sessions GROUP BY user_id ORDER BY user_id""")),

    // click→purchase attribution: purchases matched to same-user clicks in
    // the preceding hour — equi-join on user, range predicate on time (per
    // user the candidate set is bounded, so the post-filter join is the right
    // batch plan; the streaming twin below is the stateful version)
    "ev_attribution" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts_us").as("c_us"))
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"), col("ts_us").as("p_us"))
        c.join(p, Seq("user_id"))
          .filter(col("p_us") >= col("c_us") && col("p_us") - col("c_us") <= AttributionUs)
          .select(col("click_id"), col("purchase_id"), (col("p_us") - col("c_us")).as("gap_us"))
          .orderBy("click_id", "purchase_id")
      },
      oracle = Some(AttributionOracle)),

    // multi-touch attribution over the same candidate pairs: each purchase
    // distributes one unit of credit LINEARLY across all its in-window
    // clicks (credit_micro = 1e6 DIV n_touches, integer — the remainder
    // stays unassigned rather than floating-point-split, so credit sums are
    // exactly reproducible); per-click credit then rolls up. The window
    // count rides the SAME interval join as last-touch — no second pass —
    // and the rollup is a narrow (click, credit) aggregate
    "ev_attribution_multi" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts_us").as("c_us"))
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"), col("ts_us").as("p_us"))
        val touches = c.join(p, Seq("user_id"))
          .filter(col("p_us") >= col("c_us") && col("p_us") - col("c_us") <= AttributionUs)
          .select(col("click_id"), col("purchase_id"))
        touches
          .withColumn("credit_micro", expr("1000000 DIV count(1) OVER " +
            "(PARTITION BY purchase_id)"))
          .groupBy(col("click_id"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(col("credit_micro")).as("credit_micro"))
          .orderBy("click_id")
      },
      oracle = Some(s"""
        WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        touches AS (
          SELECT c.event_id AS click_id, p.event_id AS purchase_id
          FROM ev c JOIN ev p
            ON c.user_id = p.user_id
           AND c.event_type = 'click' AND p.event_type = 'purchase'
           AND p.ts_us >= c.ts_us AND p.ts_us - c.ts_us <= $AttributionUs),
        credited AS (
          SELECT click_id,
                 1000000 // count(*) OVER (PARTITION BY purchase_id) AS credit_micro
          FROM touches)
        SELECT click_id, count(*) AS n_purchases,
               CAST(sum(credit_micro) AS BIGINT) AS credit_micro
        FROM credited GROUP BY click_id ORDER BY click_id""")),

    // time-decay attribution: the third credit rule beside last-touch and
    // linear — each purchase's 1e6 micro-credit splits across its
    // in-window clicks weighted 2^(−age), with age in 10-minute buckets so
    // the weights are exact powers of two (1 << (5 − bucket) over the 1 h
    // window — no exp(), the no-libm discipline; integral division leaves
    // the remainder unassigned exactly like the linear rule). Same
    // interval-join shape as ev_attribution_multi; the weight normalizer
    // is one window sum per purchase
    "ev_attribution_decay" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts_us").as("c_us"))
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"), col("ts_us").as("p_us"))
        val touches = c.join(p, Seq("user_id"))
          .filter(col("p_us") >= col("c_us") && col("p_us") - col("c_us") <= AttributionUs)
          .select(col("click_id"), col("purchase_id"),
            // least-clamp: an age of exactly AttributionUs lands in bucket 6
            // and 5 − 6 would be a NEGATIVE shift (Java masks it to << 63,
            // DuckDB differs — a silent cross-engine divergence at the
            // window boundary); bucket 5+ decays to weight 1
            expr("shiftleft(CAST(1 AS BIGINT), CAST(5 - least((p_us - c_us) div 600000000, 5L) AS INT))")
              .as("w"))
        touches
          .withColumn("credit_micro", expr("1000000 * w DIV sum(w) OVER " +
            "(PARTITION BY purchase_id)"))
          .groupBy(col("click_id"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(col("credit_micro")).as("credit_micro"))
          .orderBy("click_id")
      },
      oracle = Some(s"""
        WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        touches AS (
          SELECT c.event_id AS click_id, p.event_id AS purchase_id,
                 (CAST(1 AS BIGINT) << CAST(5 - least((p.ts_us - c.ts_us) // 600000000, 5) AS INTEGER)) AS w
          FROM ev c JOIN ev p
            ON c.user_id = p.user_id
           AND c.event_type = 'click' AND p.event_type = 'purchase'
           AND p.ts_us >= c.ts_us AND p.ts_us - c.ts_us <= $AttributionUs),
        credited AS (
          SELECT click_id,
                 1000000 * w // sum(w) OVER (PARTITION BY purchase_id) AS credit_micro
          FROM touches)
        SELECT click_id, count(*) AS n_purchases,
               CAST(sum(credit_micro) AS BIGINT) AS credit_micro
        FROM credited GROUP BY click_id ORDER BY click_id""")),

    // the same attribution as a STREAM-STREAM interval join (the one major
    // Structured Streaming operator class the other ev_*_stream queries don't
    // cover): watermarks on both sides + the time-bound join condition give
    // the state store an eviction rule; replayed to completion it must agree
    // with the batch oracle
    "ev_attribution_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        // ONE source stream self-joined (attributionJoin filters each side);
        // measured equivalent to two separate readStream instances — the
        // cost is join-state machinery, not the source scan. State
        // partitioning is sized by runToBatch (the interval join runs FOUR
        // state stores per partition and commits all of them every
        // microbatch — BASELINE.md, "Heavy streaming twins attributed":
        // 32p = 6.2-7.6 s vs 8p = 2.5-2.9 s, identical output,
        // batch-equivalent compute 0.5-1.6 s).
        val ev = graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir))
        val joined = graft.streaming.EventStreams.attributionJoin(ev, ev, AttributionUs)
        graft.streaming.EventStreams.runToBatch(joined,
          s"ev_attr_${System.nanoTime()}", org.apache.spark.sql.streaming.OutputMode.Append)
          .orderBy("click_id", "purchase_id")
      },
      oracle = Some(AttributionOracle)),

    // stream-static enrichment: the event stream joined per-batch against a
    // static per-user dimension (order counts), then aggregated — the third
    // streaming join class (after stream-stream and the windowed aggs); the
    // dimension is broadcast into each micro-batch, no stream-side state
    "ev_enrich_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val dim = Readers.fixture(spark, sfDir, "orders")
          .groupBy(col("o_custkey").as("user_id")).agg(count(lit(1)).as("n_orders"))
        val stream = graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir))
          .join(dim, Seq("user_id"), "left_outer")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(coalesce(col("n_orders"), lit(0L))).as("orders_touched"))
        graft.streaming.EventStreams.runToBatch(stream,
          s"ev_enrich_${System.nanoTime()}", org.apache.spark.sql.streaming.OutputMode.Complete)
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH dim AS (SELECT o_custkey AS user_id, count(*) AS n_orders
                     FROM orders GROUP BY 1)
        SELECT event_type, count(*) AS n_events,
               CAST(sum(COALESCE(n_orders, 0)) AS BIGINT) AS orders_touched
        FROM events LEFT JOIN dim USING (user_id)
        GROUP BY event_type ORDER BY event_type""")),

    // as-of join: each event matched to the user's latest order at-or-before
    // the event time (union+window composition, graft.operators.AsOfJoin);
    // oracle uses DuckDB's native ASOF LEFT JOIN
    "ev_asof_orders" -> QueryEntry(
      fn = (spark, sfDir) => {
        val events = Readers.fixture(spark, sfDir, "events")
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
        // dedupe to one order per (custkey, date): asof needs unique right times
        val orders = Readers.fixture(spark, sfDir, "orders")
          .groupBy(col("o_custkey"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("od_us"))
          .agg(max(col("o_orderkey")).as("last_order_key"))
          .withColumn("last_order_date_us", col("od_us"))
        graft.operators.AsOfJoin.asOf(events, orders,
            leftKey = "user_id", leftTime = "ts_us",
            rightKey = "o_custkey", rightTime = "od_us",
            valueCols = Seq("last_order_key", "last_order_date_us"))
          .orderBy("event_id")
      },
      oracle = Some("""
        WITH od AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_order_key
                    FROM orders GROUP BY o_custkey, o_orderdate)
        SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
               od.last_order_key, epoch_us(od.o_orderdate) AS last_order_date_us
        FROM events e ASOF LEFT JOIN od
          ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
        ORDER BY event_id""")),

    // forward as-of: each order joined to the customer's NEXT event at-or-
    // after the order date — time-to-next-activity, the mirror of
    // ev_asof_orders' latest-order-before-event. Same union + one-shuffle
    // window composition with the carry running over the FOLLOWING frame;
    // DuckDB's forward ASOF (l.t <= r.t) is the oracle
    "ev_asof_next_event" -> QueryEntry(
      fn = (spark, sfDir) => {
        // right side must be unique per (key, time): coincident events
        // collapse to the smallest event id
        val nextEv = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
          .groupBy(col("user_id"), col("ts_us"))
          .agg(min(col("event_id")).as("next_event_id"))
          .withColumn("next_ts_us", col("ts_us"))
        val orders = Readers.fixture(spark, sfDir, "orders")
          .groupBy(col("o_custkey"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("od_us"))
          .agg(max(col("o_orderkey")).as("last_order_key"))
        graft.operators.AsOfJoin.asOfForward(orders, nextEv,
            leftKey = "o_custkey", leftTime = "od_us",
            rightKey = "user_id", rightTime = "ts_us",
            valueCols = Seq("next_event_id", "next_ts_us"))
          .orderBy("o_custkey", "od_us")
      },
      oracle = Some("""
        WITH od AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_order_key
                    FROM orders GROUP BY o_custkey, o_orderdate),
        ev AS (SELECT user_id, ts, min(event_id) AS next_event_id
               FROM events GROUP BY user_id, ts)
        SELECT od.o_custkey, epoch_us(CAST(od.o_orderdate AS TIMESTAMP)) AS od_us,
               od.last_order_key, ev.next_event_id, epoch_us(ev.ts) AS next_ts_us
        FROM od ASOF LEFT JOIN ev
          ON od.o_custkey = ev.user_id AND od.o_orderdate <= ev.ts
        ORDER BY o_custkey, od_us""")),

    // banded interval self-join: same-user event pairs within 5 minutes —
    // the range-join scale pattern (time-bucket equi-join, no cross product)
    "ev_copresence" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
        graft.operators.RangeJoin.withinIntervalPairs(
          ev, "event_id", "user_id", "ts_us", tolerance = 300000000L)
          .orderBy("id_a", "id_b")
      },
      oracle = Some("""
        SELECT a.event_id AS id_a, b.event_id AS id_b,
               abs(epoch_us(b.ts) - epoch_us(a.ts)) AS gap
        FROM events a JOIN events b
          ON a.user_id = b.user_id AND a.event_id < b.event_id
         AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= 300000000
        ORDER BY id_a, id_b""")),

    // ordered funnel: signup → later click → later purchase per user, stage
    // reach counts. Three conditional min-aggregations chained by user-keyed
    // joins — each stage's frame is |users|-sized, so at scale every join is
    // user-partitioned (or broadcast once stages filter users down)
    "ev_funnel" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
        val s = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("ts_us")).as("s_us"))
        val c = ev.filter(col("event_type") === "click").join(s, "user_id")
          .filter(col("ts_us") > col("s_us"))
          .groupBy(col("user_id")).agg(min(col("ts_us")).as("c_us"))
        val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
          .filter(col("ts_us") > col("c_us"))
          .groupBy(col("user_id")).agg(min(col("ts_us")).as("p_us"))
        s.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("1_signup"))
          .unionByName(c.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("2_click")))
          .unionByName(p.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("3_purchase")))
          .select(col("stage"), col("n_users"))
          .orderBy("stage")
      },
      oracle = Some(FunnelOracle)),

    // funnel conversion timing: per transition (signup→click,
    // click→purchase), how many users converted and the p50/p90 latency in
    // integer microseconds — the stage-cost companion to ev_funnel's
    // counts (a funnel that converts slowly is a different problem from
    // one that doesn't convert). Same gated min-ts stage frames; the
    // percentile rides Quantiles.grouped, so the exact→approx scale
    // degrade and its log line come for free
    "ev_funnel_timing" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
        val s = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("ts_us")).as("s_us"))
        val c = ev.filter(col("event_type") === "click").join(s, "user_id")
          .filter(col("ts_us") > col("s_us"))
          .groupBy(col("user_id")).agg(min(col("ts_us")).as("c_us"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c.join(s, "user_id"), "user_id")
          .filter(col("ts_us") > col("c_us"))
          .groupBy(col("user_id")).agg(min(col("ts_us")).as("p_us"))
        val lags = c.join(s, "user_id")
          .select(lit("1_signup_to_click").as("step"), (col("c_us") - col("s_us")).as("lag_us"))
          .unionByName(p.join(c, "user_id")
            .select(lit("2_click_to_purchase").as("step"), (col("p_us") - col("c_us")).as("lag_us")))
        graft.operators.Quantiles.grouped(lags, "step", "lag_us",
            Seq("p50_us" -> 0.5, "p90_us" -> 0.9))
          .orderBy("step")
      },
      oracle = Some(s"""
        WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        s AS (SELECT user_id, min(ts_us) AS s_us FROM ev
              WHERE event_type = 'signup' GROUP BY user_id),
        c AS (SELECT e.user_id, min(e.ts_us) AS c_us FROM ev e JOIN s USING (user_id)
              WHERE e.event_type = 'click' AND e.ts_us > s.s_us GROUP BY e.user_id),
        p AS (SELECT e.user_id, min(e.ts_us) AS p_us FROM ev e JOIN c USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts_us > c.c_us GROUP BY e.user_id),
        lags AS (
          SELECT '1_signup_to_click' AS step, c.c_us - s.s_us AS lag_us
          FROM c JOIN s USING (user_id)
          UNION ALL
          SELECT '2_click_to_purchase', p.p_us - c.c_us
          FROM p JOIN c USING (user_id))
        SELECT step,
               quantile_cont(lag_us, 0.5) AS p50_us,
               quantile_cont(lag_us, 0.9) AS p90_us,
               count(*) AS n
        FROM lags GROUP BY step ORDER BY step""")),

    // streaming funnel: the three join+agg stages become a per-user
    // (stage, gate-ts) state machine — 16 bytes of state per user vs three
    // user-keyed shuffles, the standard batch→stream funnel rewrite; strict
    // gate inequalities make equal-timestamp ties order-insensitive, so the
    // replayed result equals the batch query (shared oracle)
    "ev_funnel_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val stream = graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir))
        val result = graft.streaming.EventStreams.runToBatch(
          graft.streaming.EventStreams.funnelStages(stream).toDF(),
          s"ev_funnel_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Update)
        val stages = result.groupBy(col("user_id")).agg(max(col("stage")).as("stage"))
        def reach(n: Int, label: String) =
          stages.filter(col("stage") >= n)
            .agg(count(lit(1)).as("n_users")).withColumn("stage", lit(label))
        reach(1, "1_signup").unionByName(reach(2, "2_click"))
          .unionByName(reach(3, "3_purchase"))
          .select(col("stage"), col("n_users")).orderBy("stage")
      },
      oracle = Some(FunnelOracle)),

    // point-in-time state snapshot (the SCD2 / time-travel reconstruction
    // primitive): each user's LAST event at or before the cut instant
    // becomes their reconstructed state — the "what did the table look like
    // at T" query a change-log table answers without storing snapshots.
    // One user-keyed window (the latest-record-per-key compaction shape,
    // same as a CDC upsert-merge); ties break on (ts, event_id) so replayed
    // logs reconstruct identically. Money doubles go to integer cents via
    // the decimal cast (the q1 convention)
    "ev_state_at" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cutUs = 1705276800000000L // 2024-01-15T00:00Z, mid-fixture
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), col("event_type"),
            (col("value").cast("decimal(18,2)") * 100).cast("long").as("value_cents"),
            unix_micros(col("ts")).as("ts_us"), col("event_id"))
          .filter(col("ts_us") <= cutUs)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts_us").desc, col("event_id").desc)
        ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("event_type").as("state_type"),
            col("value_cents").as("state_value_cents"), col("ts_us").as("state_ts_us"))
          .orderBy("user_id")
      },
      oracle = Some("""
        SELECT user_id, event_type AS state_type, value_cents AS state_value_cents,
               ts_us AS state_ts_us
        FROM (SELECT user_id, event_type,
                     CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents,
                     epoch_us(ts) AS ts_us, event_id,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
              FROM events WHERE epoch_us(ts) <= 1705276800000000) AS t
        WHERE rn = 1 ORDER BY user_id""")),

    // streaming twin of ev_state_at: the snapshot as a continuously
    // maintained keyed state (one fixed record per user, replay-proof —
    // see EventStreams.latestStates); the drained update stream compacts
    // to the batch snapshot by max-(ts, event_id) per user (shared oracle)
    "ev_state_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cutUs = 1705276800000000L
        val stream = graft.streaming.EventStreams.latestStates(
          graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir)), cutUs)
        val drained = graft.streaming.EventStreams.runToBatch(stream.toDF(),
          s"ev_state_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Update)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("state_ts_us").desc, col("event_id").desc)
        drained.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("state_type"), col("state_value_cents"),
            col("state_ts_us"))
          .orderBy("user_id")
      },
      oracle = Some("""
        SELECT user_id, event_type AS state_type, value_cents AS state_value_cents,
               ts_us AS state_ts_us
        FROM (SELECT user_id, event_type,
                     CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents,
                     epoch_us(ts) AS ts_us, event_id,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
              FROM events WHERE epoch_us(ts) <= 1705276800000000) AS t
        WHERE rn = 1 ORDER BY user_id""")),

    // behavior co-occurrence: users exhibiting BOTH event types, per
    // unordered type pair — the pair-support half of q_assoc_rules with
    // basket = user (the vocabulary is the event-type enum, so the pair
    // space is bounded and the apriori prune is moot). Distinct (user,
    // type) first — one narrow shuffle — then a user-keyed equi-join whose
    // per-user fan-out is bounded by |type vocabulary|²
    "ev_cooccur" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ut = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), col("event_type")).distinct()
        ut.select(col("user_id"), col("event_type").as("type_a"))
          .join(ut.select(col("user_id"), col("event_type").as("type_b")), Seq("user_id"))
          .filter(col("type_a") < col("type_b"))
          .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_users"))
          .orderBy("type_a", "type_b")
      },
      oracle = Some(CooccurOracle)),

    // streaming twin: per-user type-set state; a (pair, user) emits exactly
    // when the second type is FIRST seen, so the drained append output is
    // the distinct pair-user set regardless of micro-batch splits and a
    // plain count over it equals the batch query (shared oracle). State is
    // one type set per user — vocabulary-bounded
    "ev_cooccur_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val stream = graft.streaming.EventStreams.cooccurHits(
          graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir)))
        graft.streaming.EventStreams.runToBatch(stream.toDF(),
          s"ev_cooccur_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append)
          .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_users"))
          .orderBy("type_a", "type_b")
      },
      oracle = Some(CooccurOracle)),

    // DAU/WAU stickiness: per day, distinct daily actives, distinct
    // trailing-7-day actives, and their ratio in integer micro-units — the
    // engagement headline metric. The trailing window is a banded
    // day-range join of the |users|·|days| distinct-activity frame against
    // the tiny day list (broadcast), then one countDistinct per day —
    // never a per-user window over the full event log
    "ev_dau_wau" -> QueryEntry(
      fn = (spark, sfDir) => {
        val DayUs = 86400000000L
        val act = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"),
            unix_micros(date_trunc("day", col("ts"))).as("day_us"))
          .distinct()
        val days = act.select(col("day_us").as("d")).distinct()
        val dau = act.groupBy(col("day_us")).agg(countDistinct(col("user_id")).as("dau"))
        val wau = act.join(broadcast(days),
            col("day_us") <= col("d") && col("day_us") > col("d") - 7L * DayUs)
          .groupBy(col("d").as("day_us"))
          .agg(countDistinct(col("user_id")).as("wau"))
        dau.join(wau, "day_us")
          .select(col("day_us"), col("dau"), col("wau"),
            expr("dau * 1000000 div wau").as("stickiness_micro"))
          .orderBy("day_us")
      },
      oracle = Some("""
        WITH act AS (SELECT DISTINCT user_id, epoch_us(date_trunc('day', ts)) AS day_us
                     FROM events),
        days AS (SELECT DISTINCT day_us AS d FROM act),
        dau AS (SELECT day_us, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
                FROM act GROUP BY day_us),
        wau AS (SELECT d AS day_us, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
                FROM act JOIN days
                  ON act.day_us <= days.d AND act.day_us > days.d - 604800000000
                GROUP BY d)
        SELECT dau.day_us, dau.dau, wau.wau,
               dau.dau * 1000000 // wau.wau AS stickiness_micro
        FROM dau JOIN wau ON dau.day_us = wau.day_us
        ORDER BY dau.day_us""")),

    // cohort value (LTV triangle): purchase cents per (cohort day, day
    // offset) — the revenue companion to ev_retention's activity counts
    // (retention says users came back; this says what coming back was
    // worth). Integer cents via the winsorize decimal discipline; cohort
    // assignment is the same |users|-sized min-day aggregate
    "ev_cohort_value" -> QueryEntry(
      fn = (spark, sfDir) => {
        val DayUs = 86400000000L
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"),
            unix_micros(date_trunc("day", col("ts"))).as("day_us"),
            col("event_type"),
            (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        val coh = ev.select(col("user_id"), col("day_us")).distinct()
          .groupBy(col("user_id")).agg(min(col("day_us")).as("cohort_us"))
        ev.filter(col("event_type") === "purchase")
          .join(coh, "user_id")
          .groupBy(col("cohort_us"),
            expr(s"(day_us - cohort_us) div $DayUs").as("offset_days"))
          .agg(countDistinct(col("user_id")).as("n_buyers"),
            sum(col("cents")).as("cents"))
          .orderBy("cohort_us", "offset_days")
      },
      oracle = Some("""
        WITH ev AS (SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
                           event_type,
                           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                    FROM events),
        coh AS (SELECT user_id, min(day_us) AS cohort_us
                FROM (SELECT DISTINCT user_id, day_us FROM ev) a GROUP BY user_id)
        SELECT cohort_us, (day_us - cohort_us) // 86400000000 AS offset_days,
               CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_buyers,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM ev JOIN coh USING (user_id)
        WHERE event_type = 'purchase'
        GROUP BY cohort_us, offset_days ORDER BY cohort_us, offset_days""")),

    // cohort retention: users grouped by first-activity day, counted per
    // day-offset of later activity — the classic triangle matrix. Distinct
    // (user, day) first (one narrow shuffle), then the cohort min and the
    // cell counts are |users|- and |cells|-sized aggregations
    "ev_retention" -> QueryEntry(
      fn = (spark, sfDir) => {
        val DayUs = 86400000000L
        val act = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"),
            unix_micros(date_trunc("day", col("ts"))).as("day_us"))
          .distinct()
        val coh = act.groupBy(col("user_id")).agg(min(col("day_us")).as("cohort_us"))
        act.join(coh, "user_id")
          .groupBy(col("cohort_us"),
            expr(s"(day_us - cohort_us) div $DayUs").as("offset_days"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_us", "offset_days")
      },
      oracle = Some(RetentionOracle)),

    // streaming retention: per-user (cohort, seen-offsets) state emits each
    // NEW (cohort, offset, user) hit exactly once append-style — the drained
    // distinct-hit set counts to exactly the batch cohort table, so the two
    // twins share one oracle; state is offsets-per-user (horizon-bounded)
    "ev_retention_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val stream = graft.streaming.EventStreams.retentionHits(
          graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir)))
        graft.streaming.EventStreams.runToBatch(stream.toDF(),
          s"ev_ret_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append)
          .groupBy(col("cohort_us"), col("offset_days"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_us", "offset_days")
      },
      oracle = Some(RetentionOracle)),

    // semi-structured payload projection: the JSON `props` column parsed
    // with a codegen'd path expression (get_json_object — no UDF, no
    // driver-side parse) and aggregated per type. Scale shape: the JSON
    // parse is a per-row scan expression and column pruning reads ONLY
    // (event_type, props) from the parquet footprint — schema-on-read costs
    // the scan, never a shuffle of the raw payload
    "ev_props_extract" -> QueryEntry(
      fn = (spark, sfDir) => {
        Readers.fixture(spark, sfDir, "events")
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(col("event_type"))
          .agg(count(col("k")).as("n_with_k"),
            sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"),
            max(col("k")).as("max_k"),
            countDistinct(col("k")).as("n_distinct_k"))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, count(k) AS n_with_k,
               CAST(sum(k) AS BIGINT) AS sum_k,
               min(k) AS min_k, max(k) AS max_k,
               count(DISTINCT k) AS n_distinct_k
        FROM (SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events) x
        GROUP BY event_type ORDER BY event_type""")),

    // top-k users by activity (TakeOrderedAndProject, no full sort)
    "ev_topk_users" -> QueryEntry(
      fn = (spark, sfDir) => {
        Readers.fixture(spark, sfDir, "events")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
          .orderBy(col("n_events").desc, col("user_id").asc)
          .limit(20)
      },
      oracle = Some("""
        SELECT user_id, count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY user_id
        ORDER BY n_events DESC, user_id ASC LIMIT 20""")),

    // Count-Min heavy hitters: the exact top-20 users' frequencies re-read
    // from a 4×512 counter sketch — bounded-state frequency estimation (the
    // 100 TB alternative to a cardinality-sized groupBy), overestimate-only
    // by construction, fully deterministic so the estimates hash-match
    "ev_topk_cms" -> QueryEntry(
      fn = (spark, sfDir) => {
        import graft.operators.Sketches
        val ev = Readers.fixture(spark, sfDir, "events")
        val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("user_id").asc).limit(20)
        val counters = Sketches.cmsCounters(ev, col("user_id"), CmsDepth, CmsWidth)
        Sketches.cmsEstimates(counters, exact, "user_id", CmsDepth, CmsWidth)
          .join(exact, col("key") === col("user_id"))
          .select(col("user_id"), col("n_exact"), col("cms_count"))
          .orderBy("user_id")
      },
      oracle = Some(CmsOracle)),

    // streaming heavy hitters: the SAME Count-Min counters maintained as a
    // complete-mode streaming aggregate — state is depth×width rows no
    // matter how many users or events flow past (a per-user running count
    // would grow with cardinality). Drained counters must answer point
    // queries identically to the batch sketch, so the oracle is shared
    "ev_topk_cms_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        import graft.operators.Sketches
        val stream = graft.streaming.EventStreams.runningCms(
          graft.streaming.EventStreams.readEvents(spark, rawEventsDir(sfDir)),
          "user_id", CmsDepth, CmsWidth)
        val counters = graft.streaming.EventStreams.runToBatch(stream,
          s"ev_cms_${System.nanoTime()}", org.apache.spark.sql.streaming.OutputMode.Complete)
        val exact = Readers.fixture(spark, sfDir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("user_id").asc).limit(20)
        Sketches.cmsEstimates(counters, exact, "user_id", CmsDepth, CmsWidth)
          .join(exact, col("key") === col("user_id"))
          .select(col("user_id"), col("n_exact"), col("cms_count"))
          .orderBy("user_id")
      },
      oracle = Some(CmsOracle))
  )
}
