package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryEntry
import graft.core.Readers
import graft.operators.Selection.{duckLnMicro, lnMicroSparkSql}
import graft.operators.TextAnalysis.{duckTokens, tokens}

/** Distribution-statistics family: the information-theoretic and
  * order-statistic monitors a production data pipeline runs continuously —
  * behavioral entropy (bot screening), PSI (the standard ML-monitoring drift
  * score), two-sample KS (distribution shift between corpus sources), and
  * Gini concentration (vocabulary/diversity audits).
  *
  * All log terms run through the integer micro-ln
  * ([[graft.operators.Selection.lnMicroSparkSql]]) so every score is
  * BIGINT-exact and hash-identical cross-engine; every division keeps its
  * operands non-negative so Spark's truncating `div` and DuckDB's flooring
  * `//` agree (the repo-wide integer-division discipline).
  */
object DriftQueries {

  private val WeekUs = 7L * 86400000000L

  /** Benford expected shares per leading digit 1..9, micro-fixed-point:
    * floor(log10(1 + 1/d)·1e6). Computed once here (driver-side constant
    * table, like the HLL ln table) and embedded as literals in BOTH
    * engines' plans, so no query-time libm call exists anywhere.
    */
  private val BenfordMicro: IndexedSeq[Long] =
    (1 to 9).map(d => math.floor(math.log10(1.0 + 1.0 / d) * 1e6).toLong)

  /** Consecutive-week PSI fold over a (week_idx, event_type, n) cell table —
    * shared verbatim by the batch query and the drained streaming state so
    * the two are oracle-identical by construction.
    */
  private def psiFromCells(cells: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // week total via a window, not a self-join: the streaming variant feeds
    // a drained memory table, and joining it to its own aggregate trips the
    // duplicate-view analyzer; the window runs over the ≤|weeks|·|types|
    // cells frame either way
    val shares = cells
      .withColumn("tot", sum(col("n")).over(Window.partitionBy("week_idx")))
      .select(col("week_idx"), col("event_type"),
        expr("n * 1000000 div tot").as("share"))
      .withColumn("s1", col("share") + 1)
      .withColumn("ln_s1", expr(lnMicroSparkSql("s1")))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("week_idx"))
    shares
      .withColumn("prev_share", lag(col("share"), 1).over(byType))
      .withColumn("prev_ln", lag(col("ln_s1"), 1).over(byType))
      .withColumn("prev_week", lag(col("week_idx"), 1).over(byType))
      .filter(col("prev_week") === col("week_idx") - 1)
      .groupBy(col("week_idx"))
      .agg(
        expr("sum((share - prev_share) * (ln_s1 - prev_ln)) div 1000000")
          .as("psi_micro"),
        count(lit(1)).as("n_types_compared"))
      .orderBy("week_idx")
  }

  private val PsiOracle: String = {
    val lnS1 = duckLnMicro("s1")
    s"""WITH cells AS (SELECT epoch_us(ts) // 604800000000 AS week_idx,
                              event_type, count(*) AS n
                       FROM events GROUP BY 1, 2),
       totals AS (SELECT week_idx, CAST(sum(n) AS BIGINT) AS tot
                  FROM cells GROUP BY week_idx),
       shares AS (SELECT c.week_idx, c.event_type,
                         c.n * 1000000 // t.tot AS share,
                         c.n * 1000000 // t.tot + 1 AS s1
                  FROM cells c JOIN totals t ON c.week_idx = t.week_idx),
       lns AS (SELECT week_idx, event_type, share, $lnS1 AS ln_s1 FROM shares),
       lagged AS (SELECT week_idx, event_type, share, ln_s1,
                         lag(share) OVER w AS prev_share,
                         lag(ln_s1) OVER w AS prev_ln,
                         lag(week_idx) OVER w AS prev_week
                  FROM lns
                  WINDOW w AS (PARTITION BY event_type ORDER BY week_idx))
       SELECT week_idx,
              CAST(sum((share - prev_share) * (ln_s1 - prev_ln)) AS BIGINT)
                // 1000000 AS psi_micro,
              count(*) AS n_types_compared
       FROM lagged WHERE prev_week = week_idx - 1
       GROUP BY week_idx ORDER BY week_idx"""
  }

  private val DayUs = 86400000000L

  /** De-recursed CUSUM fold over a (event_type, day, x) cell table — shared
    * by the batch query and the drained streaming state (oracle-identical by
    * construction, same discipline as [[psiFromCells]]). Zero-fills the day
    * grid via the types×grid cross join (both frames derive from `cells`, so
    * the drained-memory-table self-join restriction doesn't bite: the join
    * keys differ).
    */
  private[graft] def cusumFromCells(cellsIn: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cells = cellsIn.select(col("event_type"), col("day"), col("x"))
    val grid = cells.select("day").distinct()
    val types = cells.select("event_type").distinct()
    val filled = grid.crossJoin(types)
      .join(cells, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("x"))
    val withRef = filled
      .withColumn("k", expr("sum(x) over (partition by event_type) div count(x) over (partition by event_type)"))
    val byType = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withRef
      .withColumn("c", sum(col("x") - col("k")).over(byType))
      .withColumn("floor_c", least(lit(0L), min(col("c")).over(byType)))
      .select(col("event_type"), col("day"), col("x"), col("k"),
        (col("c") - col("floor_c")).as("cusum"),
        (col("c") - col("floor_c") > col("k") * 3).as("alarm"))
      .orderBy("event_type", "day")
  }

  private val CusumOracle: String = """
    WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS day, event_type
                FROM events),
    cells AS (SELECT event_type, day, count(*) AS x FROM ev GROUP BY 1, 2),
    grid AS (SELECT DISTINCT day FROM ev),
    types AS (SELECT DISTINCT event_type FROM cells),
    filled AS (SELECT t.event_type, g.day, coalesce(c.x, 0) AS x
               FROM grid g CROSS JOIN types t
               LEFT JOIN cells c ON c.event_type = t.event_type AND c.day = g.day),
    withref AS (SELECT event_type, day, x,
                       CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT)
                         // count(x) OVER (PARTITION BY event_type) AS k
                FROM filled),
    cum AS (SELECT event_type, day, x, k,
                   CAST(sum(x - k) OVER w AS BIGINT) AS c
            FROM withref
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS UNBOUNDED PRECEDING)),
    flo AS (SELECT event_type, day, x, k, c,
                   least(0, min(c) OVER (PARTITION BY event_type ORDER BY day
                         ROWS UNBOUNDED PRECEDING)) AS floor_c
            FROM cum)
    SELECT event_type, day, x, k, c - floor_c AS cusum,
           (c - floor_c) > k * 3 AS alarm
    FROM flo ORDER BY event_type, day"""

  private val HeavyChangeOracle: String = {
        import graft.operators.{MinHashLSH, Sketches}
        val D = 4; val W = 512
        def lanes(cte: String) = (0 until D).map(i =>
          s"SELECT user_id, $i AS d, " +
            s"${MinHashLSH.duckPermHash("CAST(user_id AS VARCHAR)", i)} % $W AS b " +
            s"FROM $cte").mkString(" UNION ALL ")
        s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
           bnd AS (SELECT (min(ts_us) + max(ts_us) + 1) // 2 AS mid FROM ev),
           tagged AS (SELECT user_id, ts_us < (SELECT mid FROM bnd) AS in_a FROM ev),
           ex AS (SELECT user_id,
                         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
                  FROM tagged GROUP BY user_id),
           top AS (SELECT user_id, n_a, n_b FROM ex
                   ORDER BY abs(n_a - n_b) DESC, user_id ASC LIMIT 20),
           ca AS (${Sketches.duckCmsCountersSql(
                    "(SELECT user_id FROM tagged WHERE in_a) ha", "user_id", D, W)}),
           cb AS (${Sketches.duckCmsCountersSql(
                    "(SELECT user_id FROM tagged WHERE NOT in_a) hb", "user_id", D, W)}),
           lanes AS (${lanes("top")}),
           pa AS (SELECT l.user_id, min(coalesce(c.c, 0)) AS cms_a
                  FROM lanes l LEFT JOIN ca c USING (d, b) GROUP BY l.user_id),
           pb AS (SELECT l.user_id, min(coalesce(c.c, 0)) AS cms_b
                  FROM lanes l LEFT JOIN cb c USING (d, b) GROUP BY l.user_id)
           SELECT t.user_id, t.n_a, t.n_b,
                  CAST(pa.cms_a AS BIGINT) AS cms_a,
                  CAST(pb.cms_b AS BIGINT) AS cms_b,
                  CAST(abs(pa.cms_a - pb.cms_b) AS BIGINT) AS est_change
           FROM top t JOIN pa USING (user_id) JOIN pb USING (user_id)
           ORDER BY user_id"""
  }

  /** Micro-ECDF / max-distance KS fold over a (source, `valueCol`, c) cell
    * table — shared by the batch query (raw n_chars cells) and the drained
    * streaming state (log2 length bins), oracle-identical by construction
    * (the psi/cusum discipline).
    */
  private[graft] def ksFromCells(cellsIn: org.apache.spark.sql.DataFrame,
                                 valueCol: String = "n_chars"): org.apache.spark.sql.DataFrame = {
    val cells = cellsIn.select(col("source"), col(valueCol).as("n_chars"), col("c"))
    val srcTotals = cells.groupBy("source").agg(sum(col("c")).as("n_docs"))
    val grid = cells.select("n_chars").distinct()
    val filled = grid.crossJoin(srcTotals)
      .join(cells, Seq("source", "n_chars"), "left")
      .na.fill(0L, Seq("c"))
    val w = Window.partitionBy("source").orderBy("n_chars")
    val ecdf = filled
      .withColumn("cum", sum(col("c")).over(w))
      .select(col("source"), col("n_chars"), col("n_docs"),
        expr("cum * 1000000 div n_docs").as("f_micro"))
    val a = ecdf.select(col("source").as("src_a"), col("n_chars"),
      col("n_docs").as("n_a"), col("f_micro").as("f_a"))
    val b = ecdf.select(col("source").as("src_b"), col("n_chars"),
      col("n_docs").as("n_b"), col("f_micro").as("f_b"))
    a.join(b, Seq("n_chars"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"), col("n_a"), col("n_b"))
      .agg(max(abs(col("f_a") - col("f_b"))).as("ks_micro"))
      .orderBy("src_a", "src_b")
  }

  private val KsOracle: String = """
        WITH d AS (SELECT source, n_chars FROM documents),
        tot AS (SELECT source, count(*) AS n_docs FROM d GROUP BY source),
        grid AS (SELECT DISTINCT n_chars FROM d),
        cells AS (SELECT source, n_chars, count(*) AS c FROM d GROUP BY 1, 2),
        filled AS (SELECT t.source, g.n_chars, t.n_docs,
                          coalesce(c.c, 0) AS c
                   FROM grid g CROSS JOIN tot t
                   LEFT JOIN cells c
                     ON c.source = t.source AND c.n_chars = g.n_chars),
        ecdf AS (SELECT source, n_chars, n_docs,
                        CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT)
                          * 1000000 // n_docs AS f_micro
                 FROM filled)
        SELECT a.source AS src_a, b.source AS src_b,
               a.n_docs AS n_a, b.n_docs AS n_b,
               CAST(max(abs(a.f_micro - b.f_micro)) AS BIGINT) AS ks_micro
        FROM ecdf a JOIN ecdf b ON a.n_chars = b.n_chars AND a.source < b.source
        GROUP BY 1, 2, 3, 4 ORDER BY src_a, src_b"""

  /** The streaming twin's oracle: the same ECDF/max fold over LOG2 LENGTH
    * BINS (`length(bin(x)) - 1`, the house floor(log2) device) instead of
    * raw lengths — the binning that clamps the stream's complete-mode state
    * to ≤ |sources| × 64 rows (r10 verdict item 3).
    */
  private val KsBinnedOracle: String = """
        WITH d AS (SELECT source,
                          length(bin(greatest(n_chars, 1))) - 1 AS len_bin
                   FROM documents),
        tot AS (SELECT source, count(*) AS n_docs FROM d GROUP BY source),
        grid AS (SELECT DISTINCT len_bin FROM d),
        cells AS (SELECT source, len_bin, count(*) AS c FROM d GROUP BY 1, 2),
        filled AS (SELECT t.source, g.len_bin, t.n_docs,
                          coalesce(c.c, 0) AS c
                   FROM grid g CROSS JOIN tot t
                   LEFT JOIN cells c
                     ON c.source = t.source AND c.len_bin = g.len_bin),
        ecdf AS (SELECT source, len_bin, n_docs,
                        CAST(sum(c) OVER (PARTITION BY source ORDER BY len_bin) AS BIGINT)
                          * 1000000 // n_docs AS f_micro
                 FROM filled)
        SELECT a.source AS src_a, b.source AS src_b,
               a.n_docs AS n_a, b.n_docs AS n_b,
               CAST(max(abs(a.f_micro - b.f_micro)) AS BIGINT) AS ks_micro
        FROM ecdf a JOIN ecdf b ON a.len_bin = b.len_bin AND a.source < b.source
        GROUP BY 1, 2, 3, 4 ORDER BY src_a, src_b"""

  val entries: Seq[(String, QueryEntry)] = Seq(

    // per-user behavioral entropy: H(user) over its event-type distribution,
    // in micro-nats — H = ln N − (Σ n·ln n)/N, all integer micro-ln. Low
    // entropy at high volume = metronomic single-action traffic (the bot
    // shape ev_bot_score flags via determinism); high entropy = diverse
    // organic use. Rolled up to centi-nat bands so the output is a
    // histogram, not |users| rows. Two map-side-combinable aggregates
    // (user×type cells → per-user → bands); scales with users, no window.
    "ev_user_entropy" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cells = Readers.fixture(spark, sfDir, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("ln_n", expr(lnMicroSparkSql("n")))
        val perUser = cells.groupBy("user_id")
          .agg(sum(col("n")).as("nn"), sum(expr("n * ln_n")).as("s"))
          .withColumn("ln_nn", expr(lnMicroSparkSql("nn")))
          // greatest(,0): lnMicro floors, so a single-type user is exactly 0
          // but multi-type truncation can land a few micro below zero, where
          // trunc-div (Spark) and floor-div (DuckDB) would disagree on band
          .select(col("user_id"), col("nn"),
            greatest(col("ln_nn") - expr("s div nn"), lit(0L)).as("h_micro"))
        perUser
          .groupBy(expr("h_micro div 10000").as("centinat_band"))
          .agg(count(lit(1)).as("n_users"), sum(col("nn")).as("n_events"))
          .orderBy("centinat_band")
      },
      oracle = Some {
        val lnN = duckLnMicro("n")
        val lnNN = duckLnMicro("nn")
        s"""WITH cells AS (SELECT user_id, event_type, count(*) AS n
                           FROM events GROUP BY 1, 2),
           lncells AS (SELECT user_id, n, $lnN AS ln_n FROM cells),
           per_user AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS nn,
                               CAST(sum(n * ln_n) AS BIGINT) AS s
                        FROM lncells GROUP BY user_id),
           h AS (SELECT user_id, nn,
                        greatest($lnNN - s // nn, 0) AS h_micro
                 FROM per_user)
           SELECT h_micro // 10000 AS centinat_band,
                  count(*) AS n_users, CAST(sum(nn) AS BIGINT) AS n_events
           FROM h GROUP BY 1 ORDER BY 1"""
      }),

    // weekly PSI (population stability index) on the event-type mix:
    // PSI = Σ_t (p_t − q_t)·ln(p_t/q_t) between consecutive weeks, the
    // industry-standard drift score (>0.25 ≈ "shifted"). Shares are integer
    // micro; the log runs on share+1 so a rounded-to-zero share stays in the
    // micro-ln's positive domain, and (p−q) and (ln(p+1)−ln(q+1)) always
    // share a sign, so every summand is non-negative — trunc/floor-safe.
    // Same lag-by-one shape (and scale shape) as ev_mix_drift_weekly:
    // the window runs over the ≤|weeks|·|types| aggregate, never the events.
    "ev_psi_weekly" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cells = Readers.fixture(spark, sfDir, "events")
          .groupBy(expr(s"unix_micros(ts) div $WeekUs").as("week_idx"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        psiFromCells(cells)
      },
      oracle = Some(PsiOracle)),

    // streaming PSI monitor: the (week, type) count cells maintained as
    // complete-mode streaming state — bounded by |weeks|·|types| rows (types
    // fixed; weeks grow one row-group per type per week — in production the
    // retention knob drops weeks older than the comparison horizon). The
    // drained cells fold through the IDENTICAL consecutive-week PSI as the
    // batch query, so replay equals batch and the oracle is shared — the
    // continuously-updating drift gate a training-data intake runs
    "ev_psi_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cells = graft.streaming.EventStreams.readEvents(
            spark, graft.queries.EventQueries.rawEventsDir(sfDir))
          .groupBy(expr(s"unix_micros(ts) div $WeekUs").as("week_idx"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val drained = graft.streaming.EventStreams.runToBatch(cells,
          s"ev_psi_${System.nanoTime()}", org.apache.spark.sql.streaming.OutputMode.Complete)
        psiFromCells(drained)
      },
      oracle = Some(PsiOracle)),

    // chi-square test of independence between language and source: is the
    // language mix the same across sources, or does some source skew? The
    // single-number homogeneity audit behind corpus_mix decisions.
    // X² = Σ (o − e)²/e with e = r·c/T, computed as
    // (o·T − r·c)² / (r·c·T) per cell — numerator squared in DECIMAL(38,0)
    // (o·T alone reaches 1e18 at web scale, its square cannot live in
    // BIGINT), integral div, all operands non-negative. Scale shape: the
    // cell table is |langs|·|sources| — the corpus scan is one groupBy
    // with map-side partials and everything after is tiny.
    "corpus_chi2_langsource" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cells = Readers.fixture(spark, sfDir, "documents")
          .filter(col("lang").isNotNull && col("source").isNotNull)
          .groupBy("lang", "source").agg(count(lit(1)).as("o"))
        val rowT = cells.groupBy("lang").agg(sum(col("o")).as("r"))
        val colT = cells.groupBy("source").agg(sum(col("o")).as("c"))
        val grand = cells.agg(sum(col("o")).as("tt"))
        cells.join(rowT, "lang").join(colT, "source").crossJoin(grand)
          .select(col("lang"), col("source"),
            expr("""CAST(
                      (CAST(o * tt - r * c AS DECIMAL(38,0))
                       * CAST(o * tt - r * c AS DECIMAL(38,0)) * 1000000)
                      div CAST(r * c * tt AS DECIMAL(38,0))
                    AS BIGINT)""").as("cell_chi2"))
          .agg(count(lit(1)).as("n_cells"),
            sum(col("cell_chi2")).as("chi2_micro"))
          .crossJoin(grand.select(col("tt").as("n_docs")))
          .select(col("n_cells"), col("n_docs"), col("chi2_micro"))
      },
      oracle = Some("""
        WITH cells AS (SELECT lang, source, count(*) AS o FROM documents
                       WHERE lang IS NOT NULL AND source IS NOT NULL
                       GROUP BY 1, 2),
        r AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY lang),
        c AS (SELECT source, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY source),
        g AS (SELECT CAST(sum(o) AS BIGINT) AS tt FROM cells),
        per_cell AS (SELECT CAST(
                       CAST(o * tt - r.r * c.c AS HUGEINT)
                       * CAST(o * tt - r.r * c.c AS HUGEINT) * 1000000
                       // CAST(r.r * c.c * tt AS HUGEINT) AS BIGINT) AS cell_chi2
                     FROM cells JOIN r USING (lang) JOIN c USING (source)
                     CROSS JOIN g)
        SELECT count(*) AS n_cells,
               (SELECT tt FROM g) AS n_docs,
               CAST(sum(cell_chi2) AS BIGINT) AS chi2_micro
        FROM per_cell""")),

    // burstiness (index of dispersion / Fano factor) per event type over
    // the hourly-count series: var/mean = (n·Σx² − S²)/(n·S) in micro
    // units, over the ZERO-FILLED hour grid (the zeros are the burst
    // signal — a metronomic bot has dispersion ≈ 0 ... 1, organic traffic
    // ≫ 1, and omitting silent hours would hide exactly the gaps that make
    // traffic bursty). Numerator non-negative by Cauchy-Schwarz, so the
    // integer division is trunc/floor-safe. Scale shape: hourly cells are
    // bounded by |types|·|hours|; the grid fill is a broadcast cross join.
    "ev_burstiness" -> QueryEntry(
      fn = (spark, sfDir) => {
        val HourUs = 3600L * 1000000L
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(expr(s"unix_micros(ts) div $HourUs").as("hr"), col("event_type"))
        val cells = ev.groupBy("event_type", "hr").agg(count(lit(1)).as("x"))
        val grid = ev.select("hr").distinct()
        val types = cells.select("event_type").distinct()
        val filled = grid.crossJoin(types)
          .join(cells, Seq("event_type", "hr"), "left")
          .na.fill(0L, Seq("x"))
        filled.groupBy("event_type")
          .agg(count(lit(1)).as("n_hours"), sum(col("x")).as("n_events"),
            sum(expr("x * x")).as("q"))
          .select(col("event_type"), col("n_hours"), col("n_events"),
            expr("(n_hours * q - n_events * n_events) * 1000000 div (n_hours * n_events)")
              .as("dispersion_micro"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH ev AS (SELECT epoch_us(ts) // 3600000000 AS hr, event_type
                    FROM events),
        cells AS (SELECT event_type, hr, count(*) AS x FROM ev GROUP BY 1, 2),
        grid AS (SELECT DISTINCT hr FROM ev),
        types AS (SELECT DISTINCT event_type FROM cells),
        filled AS (SELECT t.event_type, g.hr, coalesce(c.x, 0) AS x
                   FROM grid g CROSS JOIN types t
                   LEFT JOIN cells c ON c.event_type = t.event_type AND c.hr = g.hr),
        agg AS (SELECT event_type, count(*) AS n_hours,
                       CAST(sum(x) AS BIGINT) AS n_events,
                       CAST(sum(x * x) AS BIGINT) AS q
                FROM filled GROUP BY event_type)
        SELECT event_type, n_hours, n_events,
               (n_hours * q - n_events * n_events) * 1000000
                 // (n_hours * n_events) AS dispersion_micro
        FROM agg ORDER BY event_type""")),

    // Benford first-digit audit on purchase amounts: observed share per
    // leading digit of the integer cents vs the Benford expectation
    // log10(1 + 1/d), embedded as shared micro literals so both engines
    // compare against the identical table. Fabricated or capped amounts
    // flunk the curve — a standard financial / synthetic-data forensics
    // screen. The leading digit comes from the DECIMAL STRING of the cents
    // (identical rendering both engines, no float log10 at query time).
    // One scan, 9 output rows.
    "ev_benford" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cells = Readers.fixture(spark, sfDir, "events")
          .filter(col("event_type") === "purchase")
          .select((col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
          .filter(col("cents") > 0)
          .select(substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy()
        cells
          .withColumn("total", sum(col("n")).over(w))
          .select(col("digit"), col("n"),
            expr("n * 1000000 div total").as("share_micro"),
            element_at(array(BenfordMicro.map(lit(_)): _*), col("digit").cast("int"))
              .as("benford_micro"))
          .withColumn("dev_micro", abs(col("share_micro") - col("benford_micro")))
          .orderBy("digit")
      },
      oracle = Some {
        val lst = BenfordMicro.mkString("[", ", ", "]")
        s"""WITH cents AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                           FROM events WHERE event_type = 'purchase'),
           d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
                 FROM cents WHERE cents > 0),
           cells AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
           tot AS (SELECT digit, n, CAST(sum(n) OVER () AS BIGINT) AS total FROM cells)
           SELECT digit, n, n * 1000000 // total AS share_micro,
                  $lst[CAST(digit AS INTEGER)] AS benford_micro,
                  abs(n * 1000000 // total - $lst[CAST(digit AS INTEGER)]) AS dev_micro
           FROM tot ORDER BY digit"""
      }),

    // two-proportion z-test on conversion (click → any purchase) between
    // the user-id-parity cohorts — the A/B significance readout, fully
    // cross-multiplied so z² is exact integer micro:
    // z² = (ca·nb − cb·na)²·N / (na·nb·c·(N−c)), c = ca+cb, N = na+nb.
    // The squared numerator passes BIGINT at web-scale cohorts → DECIMAL/
    // HUGEINT. significant = z² > 3.841459 (χ²₁ at 95%). One events scan
    // into a 1-row frame.
    "ev_ab_ztest" -> QueryEntry(
      fn = (spark, sfDir) => {
        val perUser = Readers.fixture(spark, sfDir, "events")
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("converted"))
          .select(pmod(col("user_id"), lit(2)).as("cohort"), col("converted"))
        perUser
          .agg(
            sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("na"),
            sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("nb"),
            sum(when(col("cohort") === 0, col("converted")).otherwise(0L)).as("ca"),
            sum(when(col("cohort") === 1, col("converted")).otherwise(0L)).as("cb"))
          .withColumn("z2_micro",
            expr("""CASE WHEN na = 0 OR nb = 0 OR ca + cb = 0
                           OR na + nb = ca + cb THEN 0
                    ELSE CAST(
                      CAST(ca * nb - cb * na AS DECIMAL(38,0))
                      * CAST(ca * nb - cb * na AS DECIMAL(38,0))
                      * (na + nb) * 1000000
                      div (CAST(na AS DECIMAL(38,0)) * nb * (ca + cb)
                           * (na + nb - ca - cb))
                    AS BIGINT) END"""))
          .select(col("na"), col("nb"), col("ca"), col("cb"), col("z2_micro"),
            (col("z2_micro") > 3841459L).as("significant"))
      },
      oracle = Some("""
        WITH pu AS (SELECT user_id,
                           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                             AS converted
                    FROM events GROUP BY user_id),
        cohorts AS (SELECT user_id % 2 AS cohort, converted FROM pu),
        agg AS (SELECT
                  CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
                  CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
                  CAST(sum(CASE WHEN cohort = 0 THEN converted ELSE 0 END) AS BIGINT) AS ca,
                  CAST(sum(CASE WHEN cohort = 1 THEN converted ELSE 0 END) AS BIGINT) AS cb
                FROM cohorts)
        SELECT na, nb, ca, cb,
               CASE WHEN na = 0 OR nb = 0 OR ca + cb = 0 OR na + nb = ca + cb THEN 0
                    ELSE CAST(
                      CAST(ca * nb - cb * na AS HUGEINT)
                      * CAST(ca * nb - cb * na AS HUGEINT)
                      * (na + nb) * 1000000
                      // (CAST(na AS HUGEINT) * nb * (ca + cb)
                         * (na + nb - ca - cb))
                    AS BIGINT) END AS z2_micro,
               CASE WHEN na = 0 OR nb = 0 OR ca + cb = 0 OR na + nb = ca + cb THEN false
                    ELSE CAST(
                      CAST(ca * nb - cb * na AS HUGEINT)
                      * CAST(ca * nb - cb * na AS HUGEINT)
                      * (na + nb) * 1000000
                      // (CAST(na AS HUGEINT) * nb * (ca + cb)
                         * (na + nb - ca - cb))
                    AS BIGINT) > 3841459 END AS significant
        FROM agg""")),

    // CUSUM change-point detection on the daily count series per event
    // type: the recursion s_t = max(0, s_{t-1} + (x_t − k)) de-recursed
    // into two windows — s_t = c_t − min(0, prefix-min(c_t)) with
    // c = cumsum(x − k) — so both engines evaluate it as plain cumulative
    // aggregates over the zero-filled day grid (exact signed-integer sums,
    // no division anywhere past the reference mean k = total div n_days).
    // The alarm fires when the accumulated drift exceeds 3k — the page
    // "volume has shifted and stayed shifted", where the hourly z-score
    // family catches single spikes. Scale shape: windows over the
    // |types|·|days| grid, never raw events.
    "ev_cusum" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cells = Readers.fixture(spark, sfDir, "events")
          .select(expr(s"unix_micros(ts) div $DayUs").as("day"), col("event_type"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
        cusumFromCells(cells)
      },
      oracle = Some(CusumOracle)),

    // streaming CUSUM: the (type, day) count cells as complete-mode state
    // (bounded by |types|·|days|, same retention argument as ev_psi_stream),
    // drained through the identical de-recursed fold — the change-point
    // monitor as a continuously-updating stream, oracle shared with batch
    "ev_cusum_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cells = graft.streaming.EventStreams.readEvents(
            spark, graft.queries.EventQueries.rawEventsDir(sfDir))
          .groupBy(expr(s"unix_micros(ts) div $DayUs").as("day"), col("event_type"))
          .agg(count(lit(1)).as("x"))
        val drained = graft.streaming.EventStreams.runToBatch(cells,
          s"ev_cusum_${System.nanoTime()}", org.apache.spark.sql.streaming.OutputMode.Complete)
        // localCheckpoint: the fold cross-joins two projections of the cell
        // table back onto itself — cut the memory-table lineage so the
        // three-way self-reference can't trip the duplicate-view analyzer
        // (the psiFromCells lesson); the table is |types|·|days| rows
        cusumFromCells(drained.localCheckpoint())
      },
      oracle = Some(CusumOracle)),

    // CMS heavy-change detection: split the stream at its time midpoint,
    // sketch each half (4×512 counters — kilobytes regardless of user
    // cardinality), and read the per-user change |cms_a − cms_b| for the
    // top-20 true movers, exact counts alongside. The Cormode-Muthukrishnan
    // "what changed" monitor: at 100 TB the two sketches are the only
    // full-stream state; probes use the sparse point query (an untouched
    // bucket is an exact zero — a mover may be entirely absent from one
    // half, where the inner-join probe would drop its lanes and
    // overestimate). Candidates here are the exact top movers so the gate
    // pins both sketch AND selection; production candidates come from the
    // sketch itself or a heavy-hitter pass.
    "ev_heavy_change" -> QueryEntry(
      fn = (spark, sfDir) => {
        import graft.operators.Sketches
        val D = 4; val W = 512
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        val bounds = ev.agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
          .select(expr("(mn + mx + 1) div 2").as("mid"))
        val tagged = ev.crossJoin(bounds)
          .select(col("user_id"), (col("ts_us") < col("mid")).as("in_a"))
        val exact = tagged.groupBy("user_id")
          .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
            sum(when(col("in_a"), 0L).otherwise(1L)).as("n_b"))
        val top = exact
          .orderBy(abs(col("n_a") - col("n_b")).desc, col("user_id").asc)
          .limit(20)
        val cmsA = Sketches.cmsCounters(tagged.filter(col("in_a")), col("user_id"), D, W)
        val cmsB = Sketches.cmsCounters(tagged.filter(!col("in_a")), col("user_id"), D, W)
        val pa = Sketches.cmsEstimatesSparse(cmsA, top, "user_id", D, W)
          .withColumnRenamed("cms_count", "cms_a")
        val pb = Sketches.cmsEstimatesSparse(cmsB, top, "user_id", D, W)
          .withColumnRenamed("cms_count", "cms_b")
        top.join(pa, col("user_id") === pa("key")).drop("key")
          .join(pb, col("user_id") === pb("key")).drop("key")
          .select(col("user_id"), col("n_a"), col("n_b"), col("cms_a"), col("cms_b"),
            abs(col("cms_a") - col("cms_b")).as("est_change"))
          .orderBy("user_id")
      },
      oracle = Some(HeavyChangeOracle)),

    // streaming heavy-change: BOTH halves' sketches maintained as one
    // complete-mode aggregate keyed by (half, lane, bucket) — 2·4·512
    // counter rows of state for any stream length. The split point is
    // frozen from the calibration batch (one bounded 1-row collect, the
    // dsir_stream frozen-config pattern); drained slices equal the batch
    // sketches exactly (counts add, the tag only routes), so the oracle is
    // shared with ev_heavy_change verbatim
    "ev_heavy_change_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        import graft.operators.Sketches
        val D = 4; val W = 512
        val statics = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        val mid = statics.agg(expr("(min(ts_us) + max(ts_us) + 1) div 2"))
          .head().getLong(0)
        val tagged = graft.streaming.EventStreams.readEvents(
            spark, graft.queries.EventQueries.rawEventsDir(sfDir))
          .select(col("user_id"), (unix_micros(col("ts")) < mid).as("in_a"))
        val counters = Sketches.cmsCountersTagged(
          tagged, col("user_id"), col("in_a"), D, W)
        val drained = graft.streaming.EventStreams.runToBatch(counters,
          s"ev_hc_${System.nanoTime()}", org.apache.spark.sql.streaming.OutputMode.Complete)
          .localCheckpoint()
        val cmsA = drained.filter(col("tag")).select("d", "b", "c")
        val cmsB = drained.filter(!col("tag")).select("d", "b", "c")
        val exact = statics
          .select(col("user_id"), (col("ts_us") < mid).as("in_a"))
          .groupBy("user_id")
          .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
            sum(when(col("in_a"), 0L).otherwise(1L)).as("n_b"))
        val top = exact
          .orderBy(abs(col("n_a") - col("n_b")).desc, col("user_id").asc)
          .limit(20)
        val pa = Sketches.cmsEstimatesSparse(cmsA, top, "user_id", D, W)
          .withColumnRenamed("cms_count", "cms_a")
        val pb = Sketches.cmsEstimatesSparse(cmsB, top, "user_id", D, W)
          .withColumnRenamed("cms_count", "cms_b")
        top.join(pa, col("user_id") === pa("key")).drop("key")
          .join(pb, col("user_id") === pb("key")).drop("key")
          .select(col("user_id"), col("n_a"), col("n_b"), col("cms_a"), col("cms_b"),
            abs(col("cms_a") - col("cms_b")).as("est_change"))
          .orderBy("user_id")
      },
      oracle = Some(HeavyChangeOracle)),

    // two-sample Kolmogorov-Smirnov statistic between every source pair on
    // the document-length distribution: D = max_x |F_a(x) − F_b(x)| with the
    // ECDFs in integer micro units (truncation identical cross-engine, so
    // the max is hash-exact; resolution 1e-6 ≫ any real drift signal). The
    // "did source B's scrape change shape" monitor — mean/quantile checks
    // miss bimodal shifts that D catches. Scale shape: the window runs over
    // the zero-filled (distinct-length × source) grid — bounded by the
    // length domain, never |docs| — and the pair join fans out |sources|²
    // per grid point with sources small by construction.
    "corpus_ks_length" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cells = Readers.fixture(spark, sfDir, "documents")
          .groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
        ksFromCells(cells)
      },
      oracle = Some(KsOracle)),

    // streaming KS gate: per-(source, log2-length-bin) cells as
    // complete-mode ingest state — the binning CLAMPS state to
    // ≤ |sources| × 64 rows for ANY stream length (raw lengths would grow
    // state with the distinct-length domain; the quantile monitor's
    // clamped-histogram contract applies here too). Drained through the
    // identical ECDF/max fold over the bins. The distribution-shift
    // tripwire a corpus intake runs LIVE: a scrape whose length shape
    // walks away from its siblings trips the pair statistic while the
    // ingest is still running; log2 resolution is exactly what a
    // shape-shift monitor needs (bimodal drift moves mass across octaves)
    "corpus_ks_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cells = graft.streaming.IngestStreams.readDocuments(
            spark, DedupQueries.rawDocsDir(sfDir))
          .groupBy(col("source"),
            (length(bin(greatest(col("n_chars"), lit(1L)))) - 1)
              .cast("long").as("len_bin"))
          .agg(count(lit(1)).as("c"))
        val drained = graft.streaming.EventStreams.runToBatch(cells,
          s"corpus_ks_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Complete)
        // localCheckpoint: the fold derives grid/totals from the cells and
        // joins them back (the cusum drained-view lesson)
        ksFromCells(drained.localCheckpoint(), valueCol = "len_bin")
      },
      oracle = Some(KsBinnedOracle)),

    // Jensen-Shannon divergence between every source pair's unigram
    // distribution over the corpus head (global top-50 terms, zero-filled
    // per source, shares renormalized within the head) — the symmetric,
    // bounded (≤ ln 2) domain-distance matrix behind mixing/interleave
    // decisions; the log-space complement of text_source_vocab_l1's L1.
    // 2·JSD = Σ p·(ln2 + ln p − ln(p+q)) + q·(ln2 + ln q − ln(p+q)); +1
    // smoothing keeps every log argument positive, and the integer micro-ln
    // satisfies lnMicro(2x) = lnMicro(x) + Ln2Micro EXACTLY (doubling shifts
    // the bit length by one and leaves the atanh argument unchanged), so
    // identical distributions score exactly 0. Per-term products are exact
    // integer multiplications (sign-safe); only the final non-negative sum
    // divides. Scale shape: head grid is |sources|·50 cells; the corpus
    // pass is one exploded groupBy with map-side partials.
    "text_js_divergence" -> QueryEntry(
      fn = (spark, sfDir) => {
        val Ln2 = graft.operators.Selection.Ln2Micro
        // the (source, head-term) distribution is the staged stage shared
        // with text_source_vocab_l1 (TextQueries.srcHeadTerms)
        val (st, head) = TextQueries.srcHeadTerms(spark, sfDir)
        val totals = st.groupBy("source").agg(sum(col("n")).as("tot"))
          .filter(col("tot") > 0)
        val cells = totals.crossJoin(broadcast(head))
          .join(st, Seq("source", "term"), "left")
          .na.fill(0L, Seq("n"))
          .select(col("source"), col("term"), expr("n * 1000000 div tot").as("p"))
        val paired = cells.as("x").join(cells.as("y"),
            col("x.term") === col("y.term") && col("x.source") < col("y.source"))
          .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
            col("x.p").as("p"), col("y.p").as("q"))
          .withColumn("p1", col("p") + 1)
          .withColumn("q1", col("q") + 1)
          .withColumn("s2", col("p") + col("q") + 2)
          .withColumn("ln_p1", expr(lnMicroSparkSql("p1")))
          .withColumn("ln_q1", expr(lnMicroSparkSql("q1")))
          .withColumn("ln_s2", expr(lnMicroSparkSql("s2")))
        paired
          .groupBy("source_a", "source_b")
          .agg(sum(expr(s"p * ($Ln2 + ln_p1 - ln_s2) + q * ($Ln2 + ln_q1 - ln_s2)"))
            .as("jsd2_sum"))
          .select(col("source_a"), col("source_b"),
            expr("greatest(jsd2_sum, 0) div 2000000").as("jsd_micro"))
          .orderBy("source_a", "source_b")
      },
      oracle = Some {
        val Ln2 = graft.operators.Selection.Ln2Micro
        val tk = duckTokens("text")
        val lnP1 = duckLnMicro("p1")
        val lnQ1 = duckLnMicro("q1")
        val lnS2 = duckLnMicro("s2")
        s"""WITH ex AS (SELECT source, t.term
                        FROM documents d, unnest($tk) AS t(term)
                        WHERE source IS NOT NULL),
           head AS (SELECT term FROM (SELECT term, count(*) AS tf FROM ex
                    GROUP BY term ORDER BY tf DESC, term ASC LIMIT 50) h),
           st AS (SELECT source, ex.term, count(*) AS n
                  FROM ex JOIN head ON ex.term = head.term
                  GROUP BY source, ex.term),
           tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot FROM st
                   GROUP BY source HAVING sum(n) > 0),
           cells AS (SELECT t.source, h.term,
                            coalesce(s.n, 0) * 1000000 // t.tot AS p
                     FROM tot t CROSS JOIN head h
                     LEFT JOIN st s ON s.source = t.source AND s.term = h.term),
           paired AS (SELECT x.source AS source_a, y.source AS source_b,
                             x.p AS p, y.p AS q,
                             x.p + 1 AS p1, y.p + 1 AS q1,
                             x.p + y.p + 2 AS s2
                      FROM cells x JOIN cells y
                        ON x.term = y.term AND x.source < y.source),
           lns AS (SELECT source_a, source_b, p, q,
                          $lnP1 AS ln_p1, $lnQ1 AS ln_q1, $lnS2 AS ln_s2
                   FROM paired),
           agg AS (SELECT source_a, source_b,
                          CAST(sum(p * ($Ln2 + ln_p1 - ln_s2)
                                 + q * ($Ln2 + ln_q1 - ln_s2)) AS BIGINT)
                            AS jsd2_sum
                   FROM lns GROUP BY 1, 2)
           SELECT source_a, source_b,
                  greatest(jsd2_sum, 0) // 2000000 AS jsd_micro
           FROM agg ORDER BY source_a, source_b"""
      }),

    // character-distribution entropy per source in exact micro-nats — the
    // alphabet-level "is this text machine-generated/templated" screen
    // (natural prose runs ~2.8-3.2 nats over a space-lowered alphabet;
    // base64 blobs run higher, template farms lower) that complements the
    // token-level repetition and Gini audits. Same integer entropy fold as
    // ev_user_entropy over (source, char) cells; the char explode is
    // guarded against empty text (Spark's sequence(1, 0) counts DOWN — the
    // staged-array lesson's sibling trap). Scale: one exploded scan,
    // alphabet-bounded cells.
    "text_char_entropy" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cells = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
          .filter(col("source").isNotNull && length(col("text")) >= 1)
          .select(col("source"),
            explode(sequence(lit(1), length(col("text")))).as("i"), col("text"))
          .select(col("source"), expr("substring(text, i, 1)").as("ch"))
          .groupBy("source", "ch").agg(count(lit(1)).as("n"))
          .withColumn("ln_n", expr(lnMicroSparkSql("n")))
        cells.groupBy("source")
          .agg(count(lit(1)).as("n_distinct_chars"), sum(col("n")).as("nn"),
            sum(expr("n * ln_n")).as("s"))
          .withColumn("ln_nn", expr(lnMicroSparkSql("nn")))
          .select(col("source"), col("nn").as("n_chars"), col("n_distinct_chars"),
            greatest(col("ln_nn") - expr("s div nn"), lit(0L)).as("h_micro"))
          .orderBy("source")
      },
      oracle = Some {
        val lnN = duckLnMicro("n")
        val lnNN = duckLnMicro("nn")
        s"""WITH ch AS (SELECT source, substr(text, CAST(g.i AS INTEGER), 1) AS ch
                        FROM documents d,
                             unnest(generate_series(1, length(d.text))) AS g(i)
                        WHERE source IS NOT NULL AND length(text) >= 1),
           cells AS (SELECT source, ch, count(*) AS n FROM ch GROUP BY 1, 2),
           lncells AS (SELECT source, n, $lnN AS ln_n FROM cells),
           agg AS (SELECT source, count(*) AS n_distinct_chars,
                          CAST(sum(n) AS BIGINT) AS nn,
                          CAST(sum(n * ln_n) AS BIGINT) AS s
                   FROM lncells GROUP BY source)
           SELECT source, nn AS n_chars, n_distinct_chars,
                  greatest($lnNN - s // nn, 0) AS h_micro
           FROM agg ORDER BY source"""
      }),

    // Gini concentration of the token-frequency distribution per source:
    // with term frequencies f_1 ≤ … ≤ f_n (ties broken by term for a
    // deterministic rank), G = Σ(2i − n − 1)f_i / (n·Σf) — integer micro,
    // numerator non-negative under ascending order. High Gini = a few terms
    // carry the mass (templated/boilerplate text); low = diverse vocabulary.
    // Scale shape: the rank window runs over the per-source VOCABULARY
    // (Heaps-law sublinear), never the corpus; at extreme vocab×frequency
    // the i·f_i products approach BIGINT range — the grouped-by-frequency
    // fold over text_freq_spectrum's bands is the headroom variant.
    "text_token_gini" -> QueryEntry(
      fn = (spark, sfDir) => {
        val tf = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
          .select(col("source"), explode(tokens(col("text"))).as("term"))
          .groupBy("source", "term").agg(count(lit(1)).as("tf"))
        // frequency-spectrum form: terms sharing a frequency occupy a
        // CONTIGUOUS rank run whose Σ(2i−1) telescopes to (C+m)² − C², so
        // the vocab-wide rank window collapses to per-distinct-frequency
        // aggregates (≤ O(√corpus) rows by Heaps/Zipf) + a window over the
        // spectrum — same integers as ranking every term, at any vocab.
        // The squared run bounds pass BIGINT at web-scale vocab → DECIMAL.
        val spectrum = tf.groupBy("source", "tf").agg(count(lit(1)).as("m"))
        val bySrc = Window.partitionBy("source").orderBy("tf")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spectrum
          .withColumn("cum", sum(col("m")).over(bySrc))
          .select(col("source"), col("tf"), col("m"), (col("cum") - col("m")).as("c0"))
          .groupBy("source")
          .agg(sum(col("m")).as("n_terms"),
            sum(expr("tf * m")).as("total_tokens"),
            sum(expr("""CAST(tf AS DECIMAL(38,0))
                        * (CAST(c0 + m AS DECIMAL(38,0)) * (c0 + m)
                           - CAST(c0 AS DECIMAL(38,0)) * c0)"""))
              .as("wsum_dec"))
          .select(col("source"), col("n_terms"), col("total_tokens"),
            expr("""CAST((wsum_dec - CAST(n_terms AS DECIMAL(38,0)) * total_tokens)
                         * 1000000
                         div (CAST(n_terms AS DECIMAL(38,0)) * total_tokens)
                    AS BIGINT)""").as("gini_micro"))
          .orderBy("source")
      },
      oracle = Some {
        val tk = duckTokens("text")
        s"""WITH tf AS (SELECT d.source, t.term, count(*) AS tf
                        FROM documents d, unnest($tk) AS t(term)
                        GROUP BY 1, 2),
           spectrum AS (SELECT source, tf, count(*) AS m FROM tf GROUP BY 1, 2),
           runs AS (SELECT source, tf, m,
                           CAST(sum(m) OVER (PARTITION BY source ORDER BY tf
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) - m AS c0
                    FROM spectrum),
           agg AS (SELECT source, CAST(sum(m) AS BIGINT) AS n_terms,
                          CAST(sum(tf * m) AS BIGINT) AS total_tokens,
                          sum(CAST(tf AS HUGEINT)
                              * (CAST(c0 + m AS HUGEINT) * (c0 + m)
                                 - CAST(c0 AS HUGEINT) * c0)) AS wsum_h
                   FROM runs GROUP BY source)
           SELECT source, n_terms, total_tokens,
                  CAST((wsum_h - CAST(n_terms AS HUGEINT) * total_tokens) * 1000000
                       // (CAST(n_terms AS HUGEINT) * total_tokens) AS BIGINT)
                    AS gini_micro
           FROM agg ORDER BY source"""
      })
  )
}
