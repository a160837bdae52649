package graft.queries

import org.apache.spark.sql.functions._

import graft.QueryEntry

/** General analytics over the TPC-H-ish fixtures — exercises scan, filter,
  * hash-aggregate, joins, and windows through plain Catalyst plans.
  *
  * Oracle-parity rule for floating point: every money column is a 2-decimal
  * value stored as double, so `CAST(x AS DECIMAL(18,2))` recovers the exact
  * decimal on both engines; all SUMs run in decimal (exact, order-insensitive)
  * and only the final scalar is cast back to double. Naked double SUMs would
  * be non-deterministic across engines/partitionings. AVG is expressed as
  * decimal-sum / count (one IEEE division) because Spark's avg(decimal) and
  * DuckDB's avg(decimal) round differently.
  */
object AnalyticsQueries {

  /** Purchase-affinity edge list (cust·2 ↔ supp·2+1, both directions),
    * checkpointed once per fixture dir: four graph queries (pagerank,
    * ppr_seeds, bfs_levels, reach_hll) iterate over this same frame and
    * each re-ran the lineitem⋈orders distinct — the DedupStaging device.
    * Lifecycle: the shared [[graft.core.Staging]] memo (session-keyed,
    * deterministic release via [[releasePurchaseEdges]]).
    */
  private val purchaseEdgesMemo = new graft.core.Staging[org.apache.spark.sql.DataFrame]()(
    { (spark, sfDir) =>
      val li = graft.core.Readers.fixture(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val o = graft.core.Readers.fixture(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val cs = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // both directions: a purchase is an undirected affinity edge; the
      // two arms live in disjoint (even->odd / odd->even) key spaces
      cs.unionByName(cs.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint()
    })

  private[graft] def purchaseEdges(spark: org.apache.spark.sql.SparkSession,
                                   sfDir: String): org.apache.spark.sql.DataFrame =
    purchaseEdgesMemo(spark, sfDir)

  /** Drop a fixture dir's staged edge list (the DedupStaging.release twin). */
  private[graft] def releasePurchaseEdges(sfDir: String): Unit =
    purchaseEdgesMemo.release(sfDir)

  /** Co-click affinity edge list — users clicking the same item within 30
    * minutes ([[graft.operators.RangeJoin.withinIntervalPairs]], the
    * expensive interval self-join) — staged once per fixture dir: FIVE
    * graph queries (triangles, node_similarity, communities, modularity,
    * link_prediction) rebuilt this identical frame.
    */
  private val coClickEdgesMemo = new graft.core.Staging[org.apache.spark.sql.DataFrame]()(
    { (spark, sfDir) =>
      val clicks = graft.core.Readers.fixture(spark, sfDir, "events")
        .filter(col("event_type") === "click")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("m"),
          unix_micros(col("ts")).as("ts_us"))
      graft.operators.RangeJoin.withinIntervalPairs(
          clicks, "user_id", "m", "ts_us", tolerance = 1800000000L)
        .select(col("id_a").as("a"), col("id_b").as("b")).distinct()
        .localCheckpoint()
    })

  private[graft] def coClickEdges(spark: org.apache.spark.sql.SparkSession,
                                  sfDir: String): org.apache.spark.sql.DataFrame =
    coClickEdgesMemo(spark, sfDir)

  /** (both-directions co-click edges, their 3-iteration LPA labels) — the
    * community structure shared by q_communities and q_modularity (each
    * re-ran the full propagation).
    */
  private val coClickLpMemo = new graft.core.Staging[
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)]()(
    { (spark, sfDir) =>
      val pairs = coClickEdges(spark, sfDir)
        .select(col("a").as("src"), col("b").as("dst"))
      val edges = pairs.unionByName(
        pairs.select(col("dst").as("src"), col("src").as("dst"))).localCheckpoint()
      val lp = graft.operators.Graph.labelPropagation(edges, iters = 3)
        .localCheckpoint()
      (edges, lp)
    })

  private[graft] def coClickLp(spark: org.apache.spark.sql.SparkSession, sfDir: String):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    coClickLpMemo(spark, sfDir)

  val entries: Seq[(String, QueryEntry)] = Seq(

    // TPC-H Q1-style pricing summary: the flagship scan→hash-agg plan.
    "q1_pricing" -> QueryEntry(
      fn = (spark, sfDir) => {
        val li = graft.core.Readers.fixture(spark, sfDir, "lineitem")
        val dec = (c: String) => col(c).cast("decimal(18,2)")
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(dec("l_quantity")).cast("double").as("sum_qty"),
            sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
            sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
              .cast("double").as("sum_disc_price"),
            (sum(dec("l_quantity")).cast("double") / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      oracle = Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
               count(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")
    ),

    // TPC-H Q3-style: 3-way join, filter both sides, top-10 by revenue.
    // customer is the small side -> broadcast; lineitem⋈orders shuffles on
    // the order key (AQE picks the final strategy).
    "q3_topk_orders" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cust = graft.core.Readers.fixture(spark, sfDir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
        val ord = graft.core.Readers.fixture(spark, sfDir, "orders")
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val li = graft.core.Readers.fixture(spark, sfDir, "lineitem")
          .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
        val dec = (c: String) => col(c).cast("decimal(18,2)")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"))
          .agg(sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc)
          .limit(10)
      },
      oracle = Some("""
        SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate >= TIMESTAMP '1998-01-01'
        GROUP BY l_orderkey, o_orderdate_us
        ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""")),

    // TPC-H Q5-style: 6-way join through region->nation->customer/supplier,
    // revenue per nation. All dimensions broadcast; only the fact tables
    // shuffle, keyed on the order key.
    "q5_nation_revenue" -> QueryEntry(
      fn = (spark, sfDir) => {
        val rd = (t: String) => graft.core.Readers.fixture(spark, sfDir, t)
        val dec = (c: String) => col(c).cast("decimal(18,2)")
        rd("lineitem")
          .join(rd("orders"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(rd("customer")), col("o_custkey") === col("c_custkey"))
          .join(broadcast(rd("supplier")),
            col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(rd("nation")), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(rd("region")), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
            .cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy(col("r_name"), col("n_name"))
      },
      oracle = Some("""
        SELECT r_name, n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    // exact quantiles: interpolating median/p90 of prices per return flag.
    // Spark `percentile` and DuckDB `quantile_cont` are both exact
    // sort-and-interpolate over doubles -> deterministic parity. (The
    // approximate sketch variants — approx_percentile/approx_count_distinct —
    // use engine-specific sketches and are covered by accuracy-bound tests
    // in SketchSpec instead of an equality oracle.)
    // ROLLUP hierarchy totals: per (flag, status), per flag, grand total in
    // ONE pass — Spark expands grouping sets map-side (partial agg per set),
    // so the plan is a single scan + one shuffle regardless of set count.
    // grouping_id disambiguates rolled-up NULLs from (absent here) real NULLs
    // explicit GROUPING SETS (the third grouping shape beside rollup and
    // cube): exactly the (flag, status), (flag), and (priority) panels in
    // ONE scan — the Expand operator emits one copy per set, partials stay
    // map-side-combined; the ad-hoc dashboard shape that would otherwise
    // run three scans + a union
    "q_grouping_sets" -> QueryEntry(
      fn = (spark, sfDir) => {
        val li = graft.core.Readers.fixture(spark, sfDir, "lineitem")
        val o = graft.core.Readers.fixture(spark, sfDir, "orders")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .createOrReplaceTempView("li_o_gs")
        spark.sql("""
          SELECT coalesce(l_returnflag, 'ALL') AS rf,
                 coalesce(l_linestatus, 'ALL') AS ls,
                 coalesce(o_orderpriority, 'ALL') AS prio,
                 CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                 count(*) AS n,
                 CAST(grouping(l_returnflag) * 4 + grouping(l_linestatus) * 2
                      + grouping(o_orderpriority) AS BIGINT) AS gid
          FROM li_o_gs
          GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
                                  (o_orderpriority))
          ORDER BY gid, rf, ls, prio""")
      },
      oracle = Some("""
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               coalesce(o_orderpriority, 'ALL') AS prio,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               count(*) AS n,
               CAST(GROUPING(l_returnflag) * 4 + GROUPING(l_linestatus) * 2
                    + GROUPING(o_orderpriority) AS BIGINT) AS gid
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
                                (o_orderpriority))
        ORDER BY gid, rf, ls, prio""")),

    "q_rollup_pricing" -> QueryEntry(
      fn = (spark, sfDir) => {
        val li = graft.core.Readers.fixture(spark, sfDir, "lineitem")
        li.rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
            count(lit(1)).as("n"),
            grouping_id().cast("long").as("gid"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("sum_qty"), col("n"), col("gid"))
          .orderBy("gid", "rf", "ls")
      },
      oracle = Some("""
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               count(*) AS n,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY gid, rf, ls""")),

    // full CUBE beside the rollup: all four grouping sets in one pass —
    // Spark expands grouping sets via one Expand + a single shuffle on the
    // synthetic grouping key, NOT one aggregation job per set (the win over
    // a UNION ALL of four groupBys at 100 TB is 4x fewer scans)
    "q_cube_pricing" -> QueryEntry(
      fn = (spark, sfDir) => {
        val li = graft.core.Readers.fixture(spark, sfDir, "lineitem")
        li.cube(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
            count(lit(1)).as("n"),
            grouping_id().cast("long").as("gid"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("sum_qty"), col("n"), col("gid"))
          .orderBy("gid", "rf", "ls")
      },
      oracle = Some("""
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               count(*) AS n,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY gid, rf, ls""")),

    // incremental aggregate maintenance (the lakehouse IVM pattern, and the
    // aggregate twin of pv_merkle_incremental / dedup_incremental): a
    // persisted per-group (sum, count) state computed from the EXISTING 90%
    // is merged with the aggregate of the 10% delta — sums and counts are
    // additive, so merge = one groupBy over state ∪ delta-partials, cost
    // O(delta + groups) instead of re-scanning the corpus. Decimal partials
    // merge exactly (the canon money rule), so the gate proves merged ==
    // full recompute bit for bit, which is the IVM correctness contract
    "q_agg_incremental" -> QueryEntry(
      fn = (spark, sfDir) => {
        val li = graft.core.Readers.fixture(spark, sfDir, "lineitem")
        val isDelta = col("l_orderkey") % 10 === 9
        def partial(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("s"),
            count(lit(1)).as("n"))
        partial(li.filter(!isDelta)) // the persisted state in production
          .unionByName(partial(li.filter(isDelta))) // today's delta
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("s")).cast("double").as("sum_qty"), sum(col("n")).as("n"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      oracle = Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               count(*) AS n
        FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""")),

    // pre-join skew diagnostic: per-key frequency of the probe-side join
    // key, reported as the top-10 heaviest keys with integer share and
    // skew factor (n·n_keys/total — 1e6 = a perfectly uniform key). This is
    // the audit that decides between a plain shuffle join and q_salted_join:
    // one map-side-combined groupBy over the key column, never the payload
    "q_skew_audit" -> QueryEntry(
      fn = (spark, sfDir) => {
        val li = graft.core.Readers.fixture(spark, sfDir, "lineitem")
        val freq = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
        val tot = freq.agg(sum(col("n")).as("total"), count(lit(1)).as("n_keys"))
        freq.crossJoin(broadcast(tot))
          // documented bound: 1e6·n·n_keys must fit 64 bits — a hot key of
          // 1e9 rows against 1e3 distinct keys is fine; a wider key space
          // over a 100 TB column moves skew_micro to 128-bit on both engines
          .select(col("l_suppkey"), col("n"),
            expr("(1000000 * n) div total").as("share_micro"),
            expr("(1000000 * n * n_keys) div total").as("skew_micro"))
          .orderBy(col("n").desc, col("l_suppkey").asc)
          .limit(10)
      },
      oracle = Some("""
        WITH freq AS (SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY 1),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                       CAST(count(*) AS BIGINT) AS n_keys FROM freq)
        SELECT l_suppkey, n,
               (1000000 * n) // total AS share_micro,
               (1000000 * n * n_keys) // total AS skew_micro
        FROM freq CROSS JOIN tot
        ORDER BY n DESC, l_suppkey ASC LIMIT 10""")),

    "q_quantiles" -> QueryEntry(
      fn = (spark, sfDir) => {
        val li = graft.core.Readers.fixture(spark, sfDir, "lineitem")
        // guarded exact/approx switch (operators.Quantiles): below the
        // hottest-group threshold this is exact `percentile` — DuckDB's
        // quantile_cont is also exact sort-and-interpolate, so the oracle
        // compares bit-for-bit; above it the operator degrades to the
        // mergeable t-digest `approx_percentile` with a logged warning
        // (sketches aren't cross-engine comparable, so only the in-threshold
        // path carries the equality oracle — ScaleSpec pins the degrade).
        graft.operators.Quantiles.grouped(
          li.select(col("l_returnflag"), col("l_extendedprice")),
          "l_returnflag", "l_extendedprice",
          Seq("p50_price" -> 0.5, "p90_price" -> 0.9))
      },
      oracle = Some("""
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.5) AS p50_price,
               quantile_cont(l_extendedprice, 0.9) AS p90_price,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // robust-statistics winsorization in integer cents: per-group p05/p95
    // bounds (exact-percentile path of operators.Quantiles, floored to
    // cents so everything downstream is 64-bit integer — no float sum, no
    // decimal-rounding divergence), then clip counts + the clipped sum.
    // The bounds frame is groups-sized and broadcast; the clamp is one
    // scan. Outlier-robust aggregates are the data-quality twin of
    // q_quantiles (cents sums bound: ~1e13 at sf1, document-scale corpora
    // shard + merge like the dim-stats partials)
    "q_winsorize" -> QueryEntry(
      fn = (spark, sfDir) => {
        val li = graft.core.Readers.fixture(spark, sfDir, "lineitem")
          .select(col("l_returnflag"),
            (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        val b = graft.operators.Quantiles.grouped(li, "l_returnflag", "cents",
            Seq("lo" -> 0.05, "hi" -> 0.95))
          .select(col("l_returnflag"), floor(col("lo")).cast("long").as("lo_c"),
            floor(col("hi")).cast("long").as("hi_c"))
        li.join(broadcast(b), Seq("l_returnflag"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(when(col("cents") < col("lo_c"), 1L).otherwise(0L)).as("n_clip_low"),
            sum(when(col("cents") > col("hi_c"), 1L).otherwise(0L)).as("n_clip_high"),
            sum(least(greatest(col("cents"), col("lo_c")), col("hi_c")))
              .as("sum_winsorized_cents"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        WITH c AS (SELECT l_returnflag,
                          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                   FROM lineitem),
        b AS (SELECT l_returnflag,
                     CAST(floor(quantile_cont(cents, 0.05)) AS BIGINT) AS lo_c,
                     CAST(floor(quantile_cont(cents, 0.95)) AS BIGINT) AS hi_c
              FROM c GROUP BY l_returnflag)
        SELECT c.l_returnflag, count(*) AS n,
               CAST(sum(CASE WHEN cents < lo_c THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
               CAST(sum(CASE WHEN cents > hi_c THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high,
               CAST(sum(least(greatest(cents, lo_c), hi_c)) AS BIGINT) AS sum_winsorized_cents
        FROM c JOIN b USING (l_returnflag)
        GROUP BY c.l_returnflag ORDER BY c.l_returnflag""")),

    // KMV distinct sketch vs exact, per key column: the mergeable
    // approx-distinct whose integer estimator IS cross-engine comparable
    // (unlike HLL's floats) — the 100 TB countDistinct stand-in, oracle-gated
    // on the estimate itself
    // Theta-style segment overlap from KMV sketches: estimate |A∖B|, |A∩B|,
    // |A∪B| for two customer segments (had-an-URGENT-order vs had-a-LOW-
    // order) from two k=256 sketches — kilobytes — next to the exact answer
    // for error context. The 100 TB story: sketch each segment at ingest,
    // answer ANY cross-segment overlap later without rescanning; the exact
    // column is the one-shuffle flag-aggregate (full-outer on distinct keys)
    // run here only because the fixture makes it cheap
    // join-size estimation from two CMS sketches (the AMS inner-product
    // estimator — see operators/Sketches.cmsInnerProduct): |orders ⋈
    // lineitem| predicted from two broadcast-sized counter tables, next to
    // the exact join count for error context. The 100 TB story: the
    // broadcast-vs-shuffle (and skew-blowup) decision for a planned join
    // answered from per-shard-mergeable kilobyte sketches WITHOUT running
    // the join; the estimate is one-sided (est ≥ exact, collision
    // cross-terms only add), over by ≤ ‖A‖₁·‖B‖₁/width per lane
    "q_join_size_cms" -> QueryEntry(
      fn = (spark, sfDir) => {
        import graft.operators.Sketches
        val (depth, width) = (4, 65536)
        val o = graft.core.Readers.fixture(spark, sfDir, "orders")
          .select(col("o_orderkey"))
        val l = graft.core.Readers.fixture(spark, sfDir, "lineitem")
          .select(col("l_orderkey"))
        val est = Sketches.cmsInnerProduct(
          Sketches.cmsCounters(o, col("o_orderkey"), depth, width),
          Sketches.cmsCounters(l, col("l_orderkey"), depth, width))
        val exact = o.join(l, col("o_orderkey") === col("l_orderkey"))
          .agg(count(lit(1)).as("exact_join"))
        est.crossJoin(exact)
          .select(col("est_join"), col("exact_join"),
            expr("(est_join - exact_join) * 1000000 div exact_join").as("over_micro"))
      },
      oracle = Some {
        import graft.operators.Sketches
        val (depth, width) = (4, 65536)
        s"""WITH ca AS (${Sketches.duckCmsCountersSql("orders", "o_orderkey", depth, width)}),
             cb AS (${Sketches.duckCmsCountersSql("lineitem", "l_orderkey", depth, width)}),
             ip AS (SELECT a.d, CAST(sum(a.c * b.c) AS BIGINT) AS ip
                    FROM ca a JOIN cb b ON a.d = b.d AND a.b = b.b GROUP BY a.d),
             lanes AS (SELECT DISTINCT d FROM (SELECT d FROM ca
                       UNION ALL SELECT d FROM cb) u),
             est AS (SELECT min(coalesce(ip, CAST(0 AS BIGINT))) AS est_join
                     FROM lanes LEFT JOIN ip USING (d)),
             ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_join
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
           SELECT est_join, exact_join,
                  (est_join - exact_join) * 1000000 // exact_join AS over_micro
           FROM est, ex"""
      }),

    "q_segment_overlap_kmv" -> QueryEntry(
      fn = (spark, sfDir) => {
        import graft.operators.Sketches
        val spark2 = spark; import spark2.implicits._
        val orders = graft.core.Readers.fixture(spark, sfDir, "orders")
        def seg(p: String) = orders.filter(col("o_orderpriority") === p)
          .select(col("o_custkey").as("k")).distinct()
        val (a, b) = (seg("1-URGENT"), seg("5-LOW"))
        // sketch estimate and exact flag-join are independent driver
        // actions — overlap them (guide §2.6)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val estF = Future(Sketches.kmvSetOps(a, col("k"), b, col("k"), k = 256))
        // exact counts in ONE pass: full-outer flag join of the two key sets
        val flagsF = Future(a.withColumn("fa", lit(1L))
          .join(b.withColumn("fb", lit(1L)), Seq("k"), "full_outer")
          .agg(sum(when(col("fa").isNotNull && col("fb").isNull, 1L).otherwise(0L)),
            sum(when(col("fa").isNotNull && col("fb").isNotNull, 1L).otherwise(0L)),
            count(lit(1L)))
          .as[(Long, Long, Long)].head())
        val est = Await.result(estF, Duration.Inf)
        val flags = Await.result(flagsF, Duration.Inf)
        val exact = Map("a_minus_b" -> flags._1, "intersect" -> flags._2,
          "union" -> flags._3)
        est.map { case (op, n, e) => (op, n, e, exact(op)) }
          .toDF("op", "n_kept", "estimate", "exact").orderBy("op")
      },
      oracle = Some {
        import graft.operators.Sketches
        def seg(p: String) =
          s"SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderpriority = '$p'"
        s"""WITH ea AS (${seg("1-URGENT")}), eb AS (${seg("5-LOW")}),
           ${Sketches.duckKmvSetOps("SELECT k FROM ea", "SELECT k FROM eb", 256)},
           exact AS (SELECT
             (SELECT count(*) FROM (SELECT k FROM ea EXCEPT SELECT k FROM eb)) AS x_amb,
             (SELECT count(*) FROM (SELECT k FROM ea INTERSECT SELECT k FROM eb)) AS x_int,
             (SELECT count(*) FROM (SELECT k FROM ea UNION SELECT k FROM eb)) AS x_uni)
           SELECT op, n_kept, estimate,
                  CAST(CASE op WHEN 'a_minus_b' THEN x_amb
                               WHEN 'intersect' THEN x_int
                               ELSE x_uni END AS BIGINT) AS exact
           FROM sketch_ops, exact ORDER BY op"""
      }),

    "q_distinct_kmv" -> QueryEntry(
      fn = (spark, sfDir) => {
        import graft.operators.Sketches
        val spark2 = spark; import spark2.implicits._
        val li = graft.core.Readers.fixture(spark, sfDir, "lineitem")
        val orders = graft.core.Readers.fixture(spark, sfDir, "orders")
        // four independent scalar jobs (2 exact countDistinct, 2 sketch
        // builds) — fan them out instead of running serially (guide §2.6)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val exLi = Future(li.agg(countDistinct(col("l_partkey"))).head().getLong(0))
        val exO = Future(orders.agg(countDistinct(col("o_custkey"))).head().getLong(0))
        val kmvLi = Future(Sketches.kmvDistinct(li, col("l_partkey"), 256))
        val kmvO = Future(Sketches.kmvDistinct(orders, col("o_custkey"), 256))
        Seq(
          ("l_partkey", Await.result(exLi, Duration.Inf),
            Await.result(kmvLi, Duration.Inf)),
          ("o_custkey", Await.result(exO, Duration.Inf),
            Await.result(kmvO, Duration.Inf)))
          .toDF("key_col", "exact_distinct", "kmv_estimate")
          .orderBy("key_col")
      },
      oracle = Some {
        import graft.operators.Sketches
        s"""SELECT * FROM (
             SELECT 'l_partkey' AS key_col,
                    CAST((SELECT count(DISTINCT l_partkey) FROM lineitem) AS BIGINT) AS exact_distinct,
                    CAST(${Sketches.duckKmvDistinct("lineitem", "l_partkey", 256)} AS BIGINT) AS kmv_estimate
             UNION ALL
             SELECT 'o_custkey',
                    CAST((SELECT count(DISTINCT o_custkey) FROM orders) AS BIGINT),
                    CAST(${Sketches.duckKmvDistinct("orders", "o_custkey", 256)} AS BIGINT)
           ) AS t ORDER BY key_col"""
      }),

    // HyperLogLog distinct estimates beside the KMV sketch: 256 registers,
    // exact integer arithmetic (2^57-scaled harmonic terms + fixed-point
    // alpha) so the float-free estimator itself is oracle-gated — the
    // constant-state merge-by-max rollup sketch for per-shard/day pipelines
    "q_distinct_hll" -> QueryEntry(
      fn = (spark, sfDir) => {
        import graft.operators.Sketches
        val spark2 = spark; import spark2.implicits._
        val li = graft.core.Readers.fixture(spark, sfDir, "lineitem")
        val orders = graft.core.Readers.fixture(spark, sfDir, "orders")
        // same fan-out as q_distinct_kmv: four independent scalar jobs
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val exLi = Future(li.agg(countDistinct(col("l_partkey"))).head().getLong(0))
        val exO = Future(orders.agg(countDistinct(col("o_custkey"))).head().getLong(0))
        val hllLi = Future(Sketches.hllDistinct(li, col("l_partkey")))
        val hllO = Future(Sketches.hllDistinct(orders, col("o_custkey")))
        Seq(
          ("l_partkey", Await.result(exLi, Duration.Inf),
            Await.result(hllLi, Duration.Inf)),
          ("o_custkey", Await.result(exO, Duration.Inf),
            Await.result(hllO, Duration.Inf)))
          .toDF("key_col", "exact_distinct", "hll_estimate")
          .orderBy("key_col")
      },
      oracle = Some {
        import graft.operators.Sketches
        s"""SELECT * FROM (
             SELECT 'l_partkey' AS key_col,
                    CAST((SELECT count(DISTINCT l_partkey) FROM lineitem) AS BIGINT) AS exact_distinct,
                    ${Sketches.duckHllDistinct("lineitem", "l_partkey")} AS hll_estimate
             UNION ALL
             SELECT 'o_custkey',
                    CAST((SELECT count(DISTINCT o_custkey) FROM orders) AS BIGINT),
                    ${Sketches.duckHllDistinct("orders", "o_custkey")}
           ) AS t ORDER BY key_col"""
      }),

    // window-function ranking: top-3 parts by price within each brand
    "q_window_brand_rank" -> QueryEntry(
      fn = (spark, sfDir) => {
        import org.apache.spark.sql.expressions.Window
        val part = graft.core.Readers.fixture(spark, sfDir, "part")
        val w = Window.partitionBy(col("p_brand"))
          .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
        part.withColumn("price_rank", row_number().over(w).cast("long"))
          .filter(col("price_rank") <= 3)
          .select("p_brand", "price_rank", "p_partkey", "p_retailprice")
          .orderBy("p_brand", "price_rank")
      },
      oracle = Some("""
        SELECT p_brand, price_rank, p_partkey, p_retailprice FROM (
          SELECT p_brand, p_partkey, p_retailprice,
                 CAST(row_number() OVER (PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey ASC) AS BIGINT) AS price_rank
          FROM part) t
        WHERE price_rank <= 3 ORDER BY p_brand, price_rank""")),

    // skew remedy as a first-class query: the fact⋈dim join routed through
    // the salted-join operator (large side salted, small side replicated per
    // salt — hot keys spread over `salt` reducers). The result is
    // salt-invariant, so the oracle is the PLAIN join: the query proves the
    // remedy preserves semantics exactly
    "q_salted_join" -> QueryEntry(
      fn = (spark, sfDir) => {
        val li = graft.core.Readers.fixture(spark, sfDir, "lineitem")
          .select(col("l_suppkey").as("suppkey"), col("l_extendedprice"))
        val sup = graft.core.Readers.fixture(spark, sfDir, "supplier")
          .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
        graft.operators.SkewJoin.saltedJoin(li, sup, "suppkey", salt = 8)
          .groupBy(col("s_nationkey"))
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("s_nationkey")
      },
      oracle = Some("""
        SELECT s_nationkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // iterative graph centrality: 3 damped PageRank rounds over the
    // customer<->supplier purchase graph (nodes encoded 2k / 2k+1 so the two
    // key spaces can't collide), all in integer micro-units — see
    // operators/Graph for the per-iteration scale shape and why integer
    // arithmetic is what makes an ITERATIVE result hash-comparable across
    // engines. Oracle unrolls the rounds as CTE stages (the KMeans pattern)
    "q_pagerank" -> QueryEntry(
      fn = (spark, sfDir) => {
        graft.operators.Graph.pageRank(purchaseEdges(spark, sfDir), iters = 3)
          .orderBy(col("rank").desc, col("node").asc).limit(20)
      },
      oracle = Some {
        val joined = "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        val edgesSql =
          s"""SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst $joined
             UNION SELECT DISTINCT l_suppkey*2+1, o_custkey*2 $joined"""
        val (ctes, last) = graft.operators.Graph.duckPageRankCtes(edgesSql, iters = 3)
        s"WITH $ctes\nSELECT node, rank FROM $last ORDER BY rank DESC, node ASC LIMIT 20"
      }),

    // personalized PageRank: teleport mass restricted to the same seed
    // customers q_bfs_levels measures hop distance from — diffusion-based
    // closeness where BFS gives shortest-path closeness, the pairing used
    // for seed-set corpus expansion ("crawl outward from trusted domains").
    // Same integer-micro iteration and unrolled-CTE oracle as q_pagerank;
    // the seed restriction is one CASE on the node frame
    "q_ppr_seeds" -> QueryEntry(
      fn = (spark, sfDir) => {
        val edges = purchaseEdges(spark, sfDir)
        val seeds = graft.core.Readers.fixture(spark, sfDir, "customer")
          .filter(col("c_custkey") <= 3).select((col("c_custkey") * 2).as("node"))
        graft.operators.Graph.personalizedPageRank(edges, seeds, iters = 3)
          .filter(col("rank") > 0)
          .orderBy(col("rank").desc, col("node").asc).limit(20)
      },
      oracle = Some {
        val joined = "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        val edgesSql =
          s"""SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst $joined
             UNION SELECT DISTINCT l_suppkey*2+1, o_custkey*2 $joined"""
        val seedsSql = "SELECT c_custkey*2 AS node FROM customer WHERE c_custkey <= 3"
        val (ctes, last) = graft.operators.Graph.duckPageRankCtes(
          edgesSql, iters = 3, seedsSql = Some(seedsSql))
        s"WITH $ctes\nSELECT node, rank FROM $last WHERE rank > 0 " +
          "ORDER BY rank DESC, node ASC LIMIT 20"
      }),

    // multi-source BFS levels over the same purchase-affinity graph as
    // q_pagerank: minimum hop distance from a seed customer set, up to 3
    // hops — the link-distance-from-trusted-seeds curation filter. Frontier
    // expansion joins only the CURRENT frontier to the edge list per round
    // (see operators/Graph.bfsLevels); oracle unrolls the frontiers as CTE
    // stages (bounded depth, no recursion)
    "q_bfs_levels" -> QueryEntry(
      fn = (spark, sfDir) => {
        val edges = purchaseEdges(spark, sfDir)
        val sources = graft.core.Readers.fixture(spark, sfDir, "customer")
          .filter(col("c_custkey") <= 3).select((col("c_custkey") * 2).as("node"))
        graft.operators.Graph.bfsLevels(edges, sources, maxDepth = 3)
          .orderBy("node")
      },
      oracle = Some {
        val joined = "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        val edgesSql =
          s"""SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst $joined
             UNION SELECT DISTINCT l_suppkey*2+1, o_custkey*2 $joined"""
        val sourcesSql = "SELECT c_custkey*2 AS node FROM customer WHERE c_custkey <= 3"
        graft.operators.Graph.duckBfsLevelsSql(edgesSql, sourcesSql, maxDepth = 3) +
          "\nORDER BY node"
      }),

    // HyperANF-lite neighborhood function over the purchase-affinity graph:
    // pairs-within-distance-t for t = 0, 1, 2 via HLL register propagation
    // (≤256 register rows per node forever — no ball materialized; see
    // operators/Graph.reachHll for the register-algebra argument). The
    // oracle materializes the explicit ≤2-hop balls (fixture-scale) and
    // applies the identical integer estimator — bit-equal by idempotence
    "q_reach_hll" -> QueryEntry(
      fn = (spark, sfDir) => {
        val edges = purchaseEdges(spark, sfDir)
        graft.operators.Graph.reachHll(edges, iters = 2)
      },
      oracle = Some {
        val joined = "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        val edgesSql =
          s"""SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst $joined
             UNION SELECT DISTINCT l_suppkey*2+1, o_custkey*2 $joined"""
        graft.operators.Graph.duckReachHllSql(edgesSql, iters = 2)
      }),

    // triangle enumeration over the user co-click affinity graph: users who
    // clicked the same item (props.k) within 30 minutes share an edge; a
    // triangle is a tight interest cluster — the community-density signal
    // beside components (dedup_clusters) and centrality (q_pagerank). Edge
    // generation reuses the banded interval self-join (never a per-key cross
    // product); enumeration is the degree-oriented compact-forward join (see
    // operators/Graph.triangles for the O(m^1.5) bound). Oracle builds the
    // same graph naively — banding is an identity, orientation is unwound by
    // the sorted-triple output
    "q_triangles" -> QueryEntry(
      fn = (spark, sfDir) =>
        graft.operators.Graph.triangles(coClickEdges(spark, sfDir))
          .orderBy("t1", "t2", "t3"),
      oracle = Some {
        val edgesSql =
          """SELECT DISTINCT x.user_id AS a, y.user_id AS b
             FROM (SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS m,
                          epoch_us(ts) AS t FROM events WHERE event_type = 'click') x
             JOIN (SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS m,
                          epoch_us(ts) AS t FROM events WHERE event_type = 'click') y
               ON x.m = y.m AND x.user_id < y.user_id
              AND abs(x.t - y.t) <= 1800000000"""
        graft.operators.Graph.duckTrianglesSql(edgesSql) + "\nORDER BY t1, t2, t3"
      }),

    // k-core peel over the co-click affinity graph (same edge family as
    // q_triangles, 4 h window so the fixture graph is sparse enough to
    // cascade): nodes surviving a degree-2 peel sit in tightly interlinked
    // click clusters — the engagement-ring / link-farm screen beside
    // triangles (density) and PageRank (centrality). Iterative semi-join
    // peeling with an edge-count fixpoint, one action per round (see
    // operators/Graph.kCore); oracle unrolls the same bounded peel stages
    "q_kcore" -> QueryEntry(
      fn = (spark, sfDir) => {
        val clicks = graft.core.Readers.fixture(spark, sfDir, "events")
          .filter(col("event_type") === "click")
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("m"),
            unix_micros(col("ts")).as("ts_us"))
        val edges = graft.operators.RangeJoin.withinIntervalPairs(
            clicks, "user_id", "m", "ts_us", tolerance = 14400000000L)
          .select(col("id_a").as("a"), col("id_b").as("b")).distinct()
        graft.operators.Graph.kCore(edges, k = 2).orderBy("node")
      },
      oracle = Some {
        val edgesSql =
          """SELECT DISTINCT x.user_id AS a, y.user_id AS b
             FROM (SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS m,
                          epoch_us(ts) AS t FROM events WHERE event_type = 'click') x
             JOIN (SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS m,
                          epoch_us(ts) AS t FROM events WHERE event_type = 'click') y
               ON x.m = y.m AND x.user_id < y.user_id
              AND abs(x.t - y.t) <= 14400000000"""
        graft.operators.Graph.duckKCoreSql(edgesSql, k = 2) + "\nORDER BY node"
      }),

    // neighbor-Jaccard similarity per co-click edge (same 30-min affinity
    // graph as q_triangles): |N(a)∩N(b)| / |N(a)∪N(b)| in integer micro-
    // units — tie-strength / link-prediction; curation reads a high-Jaccard
    // edge as templated behavior (near-identical click profiles), a low one
    // as a bridge. Common-neighbor counts ARE per-edge triangle counts, so
    // the plan is the degree-oriented triangle enumeration + one explode +
    // one map-side-combined count (see operators/Graph.nodeSimilarity) —
    // never a per-node adjacency-set intersection
    "q_node_similarity" -> QueryEntry(
      fn = (spark, sfDir) =>
        graft.operators.Graph.nodeSimilarity(coClickEdges(spark, sfDir))
          .orderBy("a", "b"),
      oracle = Some {
        val edgesSql =
          """SELECT DISTINCT x.user_id AS a, y.user_id AS b
             FROM (SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS m,
                          epoch_us(ts) AS t FROM events WHERE event_type = 'click') x
             JOIN (SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS m,
                          epoch_us(ts) AS t FROM events WHERE event_type = 'click') y
               ON x.m = y.m AND x.user_id < y.user_id
              AND abs(x.t - y.t) <= 1800000000"""
        graft.operators.Graph.duckNodeSimilaritySql(edgesSql) + "\nORDER BY a, b"
      }),

    // community detection by deterministic label propagation over the same
    // copresence graph q_node_similarity scores — DENSITY communities
    // (mode-of-neighbor-labels), the complement of dedup_clusters'
    // connectivity classes. 3 synchronous rounds, ties to the smaller
    // label; output also carries each community's size for readability
    "q_communities" -> QueryEntry(
      fn = (spark, sfDir) => {
        val (_, lp) = coClickLp(spark, sfDir)
        val sizes = lp.groupBy(col("community")).agg(count(lit(1)).as("community_size"))
        lp.join(sizes, "community")
          .select(col("node"), col("community"), col("community_size"))
          .orderBy("node")
      },
      oracle = Some {
        val pairsSql =
          """SELECT DISTINCT x.user_id AS a, y.user_id AS b
             FROM (SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS m,
                          epoch_us(ts) AS t FROM events WHERE event_type = 'click') x
             JOIN (SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS m,
                          epoch_us(ts) AS t FROM events WHERE event_type = 'click') y
               ON x.m = y.m AND x.user_id < y.user_id
              AND abs(x.t - y.t) <= 1800000000"""
        val edgesSql =
          s"""SELECT a AS src, b AS dst FROM ($pairsSql) p
             UNION ALL SELECT b, a FROM ($pairsSql) p2"""
        val (ctes, last) = graft.operators.Graph.duckLabelPropagationCtes(edgesSql, 3)
        s"""WITH $ctes,
             lp_sizes AS (SELECT label AS community, count(*) AS community_size
                          FROM $last GROUP BY label)
           SELECT l.node, l.label AS community, s.community_size
           FROM $last l JOIN lp_sizes s ON s.community = l.label
           ORDER BY l.node"""
      }),

    // modularity of the LPA partition — the standard community-quality
    // readout Q = Σ_c [intra_c/2m − (d_c/2m)²], in integer micro units
    // over the both-directions edge list (2m = |directed edges|): one
    // labels join, two community-sized aggregates. Q > 0 means the
    // partition beats random wiring; the number makes q_communities'
    // output judgeable instead of just well-formed
    "q_modularity" -> QueryEntry(
      fn = (spark, sfDir) => {
        // staged checkpoints replace the old per-query persist barriers
        val (edges, lp) = coClickLp(spark, sfDir)
        val m2 = edges.count()
        val lab = lp.select(col("node"), col("community"))
        val intra = edges
          .join(lab.select(col("node").as("src"), col("community").as("ca")), "src")
          .join(lab.select(col("node").as("dst"), col("community").as("cb")), "dst")
          .filter(col("ca") === col("cb"))
          .groupBy(col("ca").as("community")).agg(count(lit(1)).as("intra"))
        val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
          .join(lab, "node")
          .groupBy(col("community")).agg(sum(col("d")).as("dc"))
        deg.join(intra, Seq("community"), "left_outer")
          .select(col("community"), coalesce(col("intra"), lit(0L)).as("intra"), col("dc"))
          .withColumn("t1", expr(s"intra * 1000000 div ${m2}L"))
          .withColumn("t2", expr(s"((dc * 1000000 div ${m2}L) * (dc * 1000000 div ${m2}L)) div 1000000"))
          .agg(count(lit(1)).as("n_communities"),
            sum(expr("t1 - t2")).as("modularity_micro"))
      },
      oracle = Some {
        val pairsSql =
          """SELECT DISTINCT x.user_id AS a, y.user_id AS b
             FROM (SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS m,
                          epoch_us(ts) AS t FROM events WHERE event_type = 'click') x
             JOIN (SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS m,
                          epoch_us(ts) AS t FROM events WHERE event_type = 'click') y
               ON x.m = y.m AND x.user_id < y.user_id
              AND abs(x.t - y.t) <= 1800000000"""
        val edgesSql =
          s"""SELECT a AS src, b AS dst FROM ($pairsSql) p
             UNION ALL SELECT b, a FROM ($pairsSql) p2"""
        val (ctes, last) = graft.operators.Graph.duckLabelPropagationCtes(edgesSql, 3)
        s"""WITH $ctes,
             m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM lp_e),
             intra AS (SELECT la.label AS community, CAST(count(*) AS BIGINT) AS intra
                       FROM lp_e e
                       JOIN $last la ON la.node = e.src
                       JOIN $last lb ON lb.node = e.dst
                       WHERE la.label = lb.label GROUP BY 1),
             deg AS (SELECT l.label AS community, CAST(sum(d.d) AS BIGINT) AS dc
                     FROM (SELECT src AS node, count(*) AS d FROM lp_e GROUP BY src) d
                     JOIN $last l USING (node) GROUP BY 1),
             terms AS (SELECT deg.community,
                              coalesce(i.intra, 0) * 1000000 // m2.m2 AS t1,
                              ((deg.dc * 1000000 // m2.m2) * (deg.dc * 1000000 // m2.m2)) // 1000000 AS t2
                       FROM deg LEFT JOIN intra i USING (community), m2)
           SELECT count(*) AS n_communities,
                  CAST(sum(t1 - t2) AS BIGINT) AS modularity_micro
           FROM terms"""
      }),

    // repeat-purchase rate by market segment: customers with ≥2 orders as
    // a micro share of the segment's buyers — the loyalty headline that
    // pairs with RFM's tiers. Two user-keyed aggregates, the second over
    // ≤|segments| rows
    "q_repeat_rate" -> QueryEntry(
      fn = (spark, sfDir) => {
        val o = graft.core.Readers.fixture(spark, sfDir, "orders")
        val c = graft.core.Readers.fixture(spark, sfDir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val perCust = o.groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        perCust.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_buyers"),
            sum(when(col("n_orders") >= 2, 1L).otherwise(0L)).as("n_repeat"))
          .select(col("c_mktsegment"), col("n_buyers"), col("n_repeat"),
            expr("n_repeat * 1000000 div n_buyers").as("repeat_micro"))
          .orderBy("c_mktsegment")
      },
      oracle = Some("""
        WITH pc AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey),
        seg AS (SELECT c_mktsegment, pc.n_orders
                FROM pc JOIN customer ON o_custkey = c_custkey)
        SELECT c_mktsegment, count(*) AS n_buyers,
               CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat,
               CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 * 1000000 // count(*) AS repeat_micro
        FROM seg GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // revenue concentration (Herfindahl index) per region: Σ share² over
    // the region's nations, in integer micro (shares floored to micro
    // first, so the statistic is engine-exact) — 1e6 = one nation takes
    // everything, 1e6/n = perfectly even. The market-structure audit shape
    // on the TPC-H side of the house; ≤|nations| rows feed each region's
    // fold
    "q_revenue_hhi" -> QueryEntry(
      fn = (spark, sfDir) => {
        val o = graft.core.Readers.fixture(spark, sfDir, "orders")
        val c = graft.core.Readers.fixture(spark, sfDir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val n = graft.core.Readers.fixture(spark, sfDir, "nation")
          .select(col("n_nationkey"), col("n_regionkey"))
        val perNation = o.select(col("o_custkey"),
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_regionkey"), col("c_nationkey"))
          .agg(sum(col("cents")).as("cents"))
        val perRegion = perNation.groupBy(col("n_regionkey"))
          .agg(sum(col("cents")).as("total"))
        perNation.join(broadcast(perRegion), "n_regionkey")
          .select(col("n_regionkey"),
            expr("cents * 1000000 div total").as("share_micro"))
          .groupBy(col("n_regionkey"))
          .agg(count(lit(1)).as("n_nations"),
            expr("sum(share_micro * share_micro) div 1000000").as("hhi_micro"))
          .orderBy("n_regionkey")
      },
      oracle = Some("""
        WITH pn AS (SELECT n_regionkey, c_nationkey,
                           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
                    FROM orders JOIN customer ON o_custkey = c_custkey
                                JOIN nation ON c_nationkey = n_nationkey
                    GROUP BY n_regionkey, c_nationkey),
        pr AS (SELECT n_regionkey, CAST(sum(cents) AS BIGINT) AS total
               FROM pn GROUP BY n_regionkey),
        sh AS (SELECT pn.n_regionkey, pn.cents * 1000000 // pr.total AS share_micro
               FROM pn JOIN pr ON pn.n_regionkey = pr.n_regionkey)
        SELECT n_regionkey, count(*) AS n_nations,
               CAST(sum(share_micro * share_micro) AS BIGINT) // 1000000 AS hhi_micro
        FROM sh GROUP BY n_regionkey ORDER BY n_regionkey""")),

    // Pareto check: revenue share of the top spending quintile — "do 20%
    // of customers fund 80%" as one row (share in micro-units, integer
    // division last). ntile over the |customers| aggregate; the share is
    // two conditional sums
    "q_pareto_revenue" -> QueryEntry(
      fn = (spark, sfDir) => {
        val o = graft.core.Readers.fixture(spark, sfDir, "orders")
        val spend = o.groupBy(col("o_custkey"))
          .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
            .as("cents"))
        // distributed exact ntile(5) from global rank — never a
        // single-partition window over the |customers| table (Ranks)
        val ranked = graft.operators.Ranks.globalRank(
          spend, Seq(col("cents").desc, col("o_custkey").asc), "rnk")
        val nC = ranked.count()
        ranked.withColumn("tier", graft.operators.Ranks.ntileFromRank("rnk", nC, 5))
          .agg(count(lit(1)).as("n_customers"),
            sum(when(col("tier") === 1, 1L).otherwise(0L)).as("n_top"),
            sum(col("cents")).as("total_cents"),
            sum(when(col("tier") === 1, col("cents")).otherwise(0L)).as("top_cents"))
          .select(col("n_customers"), col("n_top"), col("total_cents"), col("top_cents"),
            expr("top_cents * 1000000 div total_cents").as("top_share_micro"))
      },
      oracle = Some("""
        WITH spend AS (SELECT o_custkey,
                              CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
                       FROM orders GROUP BY o_custkey),
        t AS (SELECT cents, ntile(5) OVER (ORDER BY cents DESC, o_custkey ASC) AS tier
              FROM spend)
        SELECT count(*) AS n_customers,
               CAST(sum(CASE WHEN tier = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               CAST(sum(CASE WHEN tier = 1 THEN cents ELSE 0 END) AS BIGINT) AS top_cents,
               CAST(sum(CASE WHEN tier = 1 THEN cents ELSE 0 END) AS BIGINT)
                 * 1000000 // CAST(sum(cents) AS BIGINT) AS top_share_micro
        FROM t""")),

    // trailing 7-day moving revenue: the RANGE-frame window (value-based
    // bounds over day offsets — the one frame type rowsBetween can't
    // express when days are missing: a gap must shrink the window, not
    // slide it). Daily cents first (≤|days| rows — the window never sees
    // the fact table), then sum/count over RANGE 6 days preceding;
    // the mean stays integer `div`
    "q_moving_revenue" -> QueryEntry(
      fn = (spark, sfDir) => {
        val o = graft.core.Readers.fixture(spark, sfDir, "orders")
        val daily = o.groupBy(unix_micros(
            date_trunc("day", col("o_orderdate").cast("timestamp"))).as("day_us"))
          .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
            .as("cents"))
        val DayUs = 86400000000L
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("day_us"))
          .rangeBetween(-6L * DayUs, 0L)
        daily
          .withColumn("cents_7d", sum(col("cents")).over(w))
          .withColumn("days_in_window", count(lit(1)).over(w))
          .select(col("day_us"), col("cents"), col("cents_7d"),
            col("days_in_window"),
            expr("cents_7d div days_in_window").as("mean_daily_cents"))
          .orderBy("day_us")
      },
      oracle = Some("""
        WITH daily AS (SELECT epoch_us(date_trunc('day', CAST(o_orderdate AS TIMESTAMP))) AS day_us,
                              CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
                       FROM orders GROUP BY 1)
        SELECT day_us, cents,
               CAST(sum(cents) OVER (ORDER BY day_us
                 RANGE BETWEEN 518400000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS cents_7d,
               CAST(count(*) OVER (ORDER BY day_us
                 RANGE BETWEEN 518400000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS days_in_window,
               CAST(sum(cents) OVER (ORDER BY day_us
                 RANGE BETWEEN 518400000000 PRECEDING AND CURRENT ROW) AS BIGINT)
                 // count(*) OVER (ORDER BY day_us
                 RANGE BETWEEN 518400000000 PRECEDING AND CURRENT ROW) AS mean_daily_cents
        FROM daily ORDER BY day_us""")),

    // correlated-aggregate shape (decorrelated): customers whose total
    // spend exceeds twice their NATION's mean per-customer spend — the
    // classic "compare each row to its group's aggregate" query, expressed
    // as a group-aggregate join (what a correlated subquery decorrelates
    // to; Catalyst plans one shuffle per aggregate + a broadcast of the
    // ≤|nations| totals). The comparison cross-multiplies instead of
    // dividing, so it is EXACT integer — no average is ever materialized
    "q_above_nation_avg" -> QueryEntry(
      fn = (spark, sfDir) => {
        val o = graft.core.Readers.fixture(spark, sfDir, "orders")
        val c = graft.core.Readers.fixture(spark, sfDir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val cents = (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        val spend = o.select(col("o_custkey"), cents.as("cents"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey"), col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cust_cents"))
        val nation = spend.groupBy(col("c_nationkey"))
          .agg(sum(col("cust_cents")).as("nat_cents"), count(lit(1)).as("n_cust"))
        spend.join(broadcast(nation), "c_nationkey")
          // cust_cents > 2 · nat_cents/n_cust  ⇔  cust_cents·n_cust > 2·nat_cents
          .filter(col("cust_cents") * col("n_cust") > lit(2L) * col("nat_cents"))
          .select(col("c_nationkey"), col("o_custkey"), col("n_orders"), col("cust_cents"))
          .orderBy("c_nationkey", "o_custkey")
      },
      oracle = Some("""
        WITH spend AS (SELECT c_nationkey, o_custkey, count(*) AS n_orders,
                              CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cust_cents
                       FROM orders JOIN customer ON o_custkey = c_custkey
                       GROUP BY c_nationkey, o_custkey),
        nation AS (SELECT c_nationkey, CAST(sum(cust_cents) AS BIGINT) AS nat_cents,
                          CAST(count(*) AS BIGINT) AS n_cust
                   FROM spend GROUP BY c_nationkey)
        SELECT s.c_nationkey, s.o_custkey, s.n_orders, s.cust_cents
        FROM spend s JOIN nation n ON s.c_nationkey = n.c_nationkey
        WHERE s.cust_cents * n.n_cust > 2 * n.nat_cents
        ORDER BY s.c_nationkey, s.o_custkey""")),

    // year-over-year growth: revenue cents per order year with the YoY
    // delta in micro-units (lag over the ≤|years| aggregate — the window
    // touches a handful of rows however large the fact table); first year
    // reports NULL growth rather than a fake zero
    "q_yearly_growth" -> QueryEntry(
      fn = (spark, sfDir) => {
        val o = graft.core.Readers.fixture(spark, sfDir, "orders")
        val perYear = o.groupBy(year(col("o_orderdate")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_orders"),
            sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
              .as("cents"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("yr"))
        perYear
          .withColumn("prev_cents", lag(col("cents"), 1).over(w))
          .select(col("yr"), col("n_orders"), col("cents"),
            expr("(cents - prev_cents) * 1000000 div prev_cents").as("yoy_micro"))
          .orderBy("yr")
      },
      oracle = Some("""
        WITH y AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                          count(*) AS n_orders,
                          CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
                   FROM orders GROUP BY 1)
        SELECT yr, n_orders, cents,
               (cents - lag(cents) OVER (ORDER BY yr)) * 1000000
                 // lag(cents) OVER (ORDER BY yr) AS yoy_micro
        FROM y ORDER BY yr""")),

    // spend quartiles via ntile: customers bucketed into 4 equal-count
    // tiers by total order value (integer cents), per-tier population and
    // spend — the "who funds the business" table and the remaining window
    // primitive (ntile) the registry didn't yet exercise. The global
    // ordering is |customers|-sized (not order rows); ntile ties resolve
    // by the order-by key alone, so the cents sort carries o_custkey as a
    // deterministic tiebreak on both engines
    "q_ntile_customers" -> QueryEntry(
      fn = (spark, sfDir) => {
        val o = graft.core.Readers.fixture(spark, sfDir, "orders")
        val spend = o.groupBy(col("o_custkey"))
          .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
            .as("cents"))
        // distributed exact ntile(4) from global rank (Ranks scaladoc)
        val ranked = graft.operators.Ranks.globalRank(
          spend, Seq(col("cents").desc, col("o_custkey").asc), "rnk")
        val nC = ranked.count()
        ranked.withColumn("tier", graft.operators.Ranks.ntileFromRank("rnk", nC, 4))
          .groupBy("tier")
          .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("cents"),
            min(col("cents")).as("tier_floor_cents"))
          .orderBy("tier")
      },
      oracle = Some("""
        WITH spend AS (SELECT o_custkey,
                              CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
                       FROM orders GROUP BY o_custkey),
        tiers AS (SELECT o_custkey, cents,
                         CAST(ntile(4) OVER (ORDER BY cents DESC, o_custkey ASC) AS BIGINT) AS tier
                  FROM spend)
        SELECT tier, count(*) AS n_customers, CAST(sum(cents) AS BIGINT) AS cents,
               CAST(min(cents) AS BIGINT) AS tier_floor_cents
        FROM tiers GROUP BY tier ORDER BY tier""")),

    // argmin join (TPC-H Q2's min-cost-supplier shape on this schema): per
    // part, the supplier offering the lowest lineitem price — ONE
    // map-side-combinable min over a (price, suppkey) struct, not a window
    // sort (lexicographic struct min is deterministic on the suppkey tie
    // and partial-aggregates; the windowed row_number form the oracle uses
    // shuffles and sorts every row per part). The 100 TB argmin recipe
    "q_argmin_supplier" -> QueryEntry(
      fn = (spark, sfDir) => {
        val li = graft.core.Readers.fixture(spark, sfDir, "lineitem")
        li.groupBy(col("l_partkey"))
          .agg(min(struct(col("l_extendedprice"), col("l_suppkey"))).as("m"),
            count(lit(1)).as("n_offers"))
          .select(col("l_partkey"),
            col("m.l_suppkey").as("cheapest_supp"),
            col("m.l_extendedprice").as("min_price"),
            col("n_offers"))
          .orderBy("l_partkey")
      },
      oracle = Some("""
        SELECT l_partkey, cheapest_supp, min_price, n_offers FROM (
          SELECT l_partkey, l_suppkey AS cheapest_supp,
                 l_extendedprice AS min_price,
                 count(*) OVER (PARTITION BY l_partkey) AS n_offers,
                 row_number() OVER (PARTITION BY l_partkey
                   ORDER BY l_extendedprice ASC, l_suppkey ASC) AS rn
          FROM lineitem) t
        WHERE rn = 1 ORDER BY l_partkey""")),

    // link prediction over the co-click graph: top non-adjacent user pairs
    // by common-neighbor count (hub centers excluded by the degree cap —
    // see operators/Graph.linkPrediction for why open wedges cannot reuse
    // the triangle orientation and why the cap is also the right
    // semantics) — the "same cluster, not yet linked" screen
    "q_link_prediction" -> QueryEntry(
      fn = (spark, sfDir) =>
        graft.operators.Graph.linkPrediction(coClickEdges(spark, sfDir),
          maxCenterDeg = 30, topN = 20),
      oracle = Some {
        val edgesSql =
          """SELECT DISTINCT x.user_id AS a, y.user_id AS b
             FROM (SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS m,
                          epoch_us(ts) AS t FROM events WHERE event_type = 'click') x
             JOIN (SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS m,
                          epoch_us(ts) AS t FROM events WHERE event_type = 'click') y
               ON x.m = y.m AND x.user_id < y.user_id
              AND abs(x.t - y.t) <= 1800000000"""
        graft.operators.Graph.duckLinkPredictionSql(edgesSql, maxCenterDeg = 30, topN = 20)
      }),

    // association rules at pair granularity (market-basket): brands bought
    // together in one order, with integer-micro confidence and lift — the
    // "customers who bought X also bought Y" primitive. The apriori
    // semi-join prune runs before the only quadratic step (the per-basket
    // pair self-join); see operators/Itemsets for the two-step lift that
    // stays in 64 bits through ~9e12 baskets
    "q_assoc_rules" -> QueryEntry(
      fn = (spark, sfDir) => {
        val li = graft.core.Readers.fixture(spark, sfDir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
        val p = graft.core.Readers.fixture(spark, sfDir, "part")
          .select(col("p_partkey"), col("p_brand"))
        val baskets = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
        graft.operators.Itemsets.pairRules(baskets, minSupport = 400L)
          .orderBy("item_a", "item_b")
      },
      oracle = Some(graft.operators.Itemsets.duckPairRules(
        """SELECT l_orderkey AS basket, p_brand AS item
           FROM lineitem JOIN part ON l_partkey = p_partkey""",
        minSupport = 400L) + "\nORDER BY item_a, item_b")),

    // semi/anti join surfaces as an explicit query: customer segments split
    // by order existence — the left_semi side never materializes order
    // columns, the left_anti is the NOT-IN scale shape (both shuffle only
    // the distinct key projection)
    "q_orders_semi_anti" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cust = graft.core.Readers.fixture(spark, sfDir, "customer")
        val okeys = graft.core.Readers.fixture(spark, sfDir, "orders")
          .select(col("o_custkey").as("c_custkey")).distinct()
        val withO = cust.join(okeys, Seq("c_custkey"), "left_semi")
          .select(col("c_mktsegment")).withColumn("has_orders", lit(true))
        val noO = cust.join(okeys, Seq("c_custkey"), "left_anti")
          .select(col("c_mktsegment")).withColumn("has_orders", lit(false))
        withO.unionByName(noO)
          .groupBy(col("c_mktsegment"), col("has_orders"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("c_mktsegment", "has_orders")
      },
      oracle = Some("""
        SELECT c_mktsegment, has_orders, count(*) AS n_customers FROM (
          SELECT c_mktsegment,
                 c_custkey IN (SELECT o_custkey FROM orders) AS has_orders
          FROM customer) t
        GROUP BY c_mktsegment, has_orders ORDER BY c_mktsegment, has_orders""")),

    // set operations: segments present in one nation's customers but not
    // another's (EXCEPT), plus their intersection counts
    "q_setops_segments" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cust = graft.core.Readers.fixture(spark, sfDir, "customer")
        val a = cust.filter(col("c_nationkey") === 1).select(col("c_mktsegment"))
        val b = cust.filter(col("c_nationkey") === 2).select(col("c_mktsegment"))
        a.distinct().exceptAll(b.distinct())
          .withColumn("op", lit("except"))
          .unionByName(a.intersect(b).withColumn("op", lit("intersect")))
          .orderBy("op", "c_mktsegment")
      },
      oracle = Some("""
        SELECT c_mktsegment, 'except' AS op FROM (
          SELECT DISTINCT c_mktsegment FROM customer WHERE c_nationkey = 1
          EXCEPT SELECT DISTINCT c_mktsegment FROM customer WHERE c_nationkey = 2) e
        UNION ALL
        SELECT c_mktsegment, 'intersect' AS op FROM (
          SELECT DISTINCT c_mktsegment FROM customer WHERE c_nationkey = 1
          INTERSECT SELECT DISTINCT c_mktsegment FROM customer WHERE c_nationkey = 2) i
        ORDER BY op, c_mktsegment""")),

    // Z-order layout audit: Morton-interleave (l_partkey, l_suppkey) into a
    // z-value, bucket by 256×256 key-plane tiles, report per-bucket min/max
    // spans — the per-file statistics a lakehouse scan prunes on. The output
    // is the locality PROOF: every bucket's bounding box stays tile-bounded
    // (span ≤ 255 on BOTH keys) no matter how large the table grows, where
    // row-order buckets would each span the full key domain. bits=21 covers
    // a 100× key-domain scale-up of sf0.1; pure shift/and/or bit lanes fold
    // into the scan's codegen stage, so the only shuffle is the bucket agg
    "q_zorder_layout" -> QueryEntry(
      fn = (spark, sfDir) => {
        val li = graft.core.Readers.fixture(spark, sfDir, "lineitem")
        graft.operators.Layout.zBucketStats(li, "l_partkey", "l_suppkey",
            bits = 21, tileShift = 16)
          .orderBy("bucket")
      },
      oracle = Some(graft.operators.Layout.duckZBucketStats(
        "lineitem", "l_partkey", "l_suppkey", bits = 21, tileShift = 16)))
      ,

    // Small-file compaction plan over the documents listing (source dir,
    // doc_id order, text length as the byte size): one window pass chunks
    // each directory's cumulative offset into ~4 KiB merge groups — the
    // lakehouse compactor's planning half, sibling to q_zorder_layout's
    // file-statistics half. Shuffles once by dir for the window; the group
    // aggregate reuses that partitioning (partial aggs, no second exchange)
    "q_compaction_bins" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = graft.core.Readers.fixture(spark, sfDir, "documents")
        graft.operators.Layout.compactionPlan(docs, "source", "doc_id",
            length(col("text")), targetBytes = 4096L)
          .orderBy("dir", "bin")
      },
      oracle = Some(graft.operators.Layout.duckCompactionPlan(
        "documents", "source", "doc_id", "length(text)", targetBytes = 4096L))),

    // Entity resolution: fuzzy-match customer names (levenshtein ≤ 1) inside
    // nation blocks without any O(n²) comparison — two blocked equi-joins
    // over disjoint digit windows of the name, UNION-deduplicated, distance
    // filtered inside the join tasks. Disjoint windows give pigeonhole-exact
    // recall for one-substitution typos on the fixed-width names, so the
    // window CHOICE only affects block sizes, never the result — both sit on
    // the trailing (high-entropy) digits because the leading digits of
    // zero-padded ids are near-constant and would degenerate the block join
    // toward per-nation O(n²) (see EntityResolution.scala)
    "q_entity_resolution" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cust = graft.core.Readers.fixture(spark, sfDir, "customer")
        graft.operators.EntityResolution.blockedFuzzyPairs(cust,
            "c_custkey", "c_name", "c_nationkey",
            winA = (14, 3), winB = (17, 2), maxDist = 1)
          .orderBy("id_a", "id_b")
      },
      oracle = Some(graft.operators.EntityResolution.duckBlockedFuzzyPairs(
        "customer", "c_custkey", "c_name", "c_nationkey",
        winA = (14, 3), winB = (17, 2), maxDist = 1)))
  )
}
