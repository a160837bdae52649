package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames — the PageRank family,
  * re-expressed as k rounds of (join rank to edges → integer-divide by
  * out-degree → sum inflow per destination). Complements the connected
  * components in [[DedupClusters]]: components answer "which near-dups group
  * together", centrality answers "which node represents the group / which
  * source carries weight" (link-graph centrality is a standard web-corpus
  * quality prior for training-data curation).
  *
  * All arithmetic is 64-bit integer micro-units: contributions are
  * `rank div outdeg`, damping is `(num * inflow) div den`. Integer sums are
  * exactly associative-commutative, so the result is bit-identical across
  * engines, partitionings, and aggregation orders — the same no-libm
  * discipline as the TF-IDF and cosine operators (truncation loss per
  * division is deliberate and identical on both sides).
  *
  * Scale shape per iteration: one equi-join of the edge list against the
  * |V|-sized rank frame (both shuffle on src — or co-locate when edges are
  * bucketed by src), one map-side-combined sum keyed on dst. State between
  * iterations is one persisted |V|-row frame; plans stay shallow because
  * each iteration materializes behind a persist barrier (the BPE-merge
  * lesson — k chained joins in one lazy plan re-evaluate exponentially).
  */
object Graph {

  /** `iters` damped PageRank rounds over directed `edges` (src, dst) —
    * multi-edges must be pre-deduplicated (out-degree counts distinct
    * targets). Returns (node, rank) in micro-units: rank_0 = unit;
    * rank' = (unit - unit·d) + d·inflow with d = dampNum/dampDen applied in
    * integer arithmetic. Dangling nodes (no out-edges) leak their mass —
    * acceptable for a RANKING (ordering is what downstream curation uses),
    * documented rather than patched because the redistribution term would
    * need a float-free global aggregate per round on both engines.
    */
  def pageRank(edges: DataFrame, iters: Int, unit: Long = 1000000L,
               dampNum: Long = 85L, dampDen: Long = 100L): DataFrame =
    pageRankImpl(edges, iters, unit, dampNum, dampDen, seeds = None)

  /** Personalized PageRank: teleport mass restricted to `seeds` (one column
    * `node`) — rank_0 = unit at seeds / 0 elsewhere, and the per-round base
    * term lands only on seeds, so mass diffuses OUT from the seed set and
    * the ranking reads "importance as seen from these trusted nodes". The
    * topic-/domain-focused twin of [[pageRank]] (same per-iteration scale
    * shape; the seed flag is one broadcastable semi-join annotation on the
    * node frame). Seeds outside the edge set contribute nothing (the node
    * frame is edge-derived), matching the oracle's IN-subquery semantics.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
                           unit: Long = 1000000L, dampNum: Long = 85L,
                           dampDen: Long = 100L): DataFrame =
    pageRankImpl(edges, iters, unit, dampNum, dampDen, Some(seeds))

  private def pageRankImpl(edges: DataFrame, iters: Int, unit: Long,
                           dampNum: Long, dampDen: Long,
                           seeds: Option[DataFrame]): DataFrame = {
    val base = unit - unit * dampNum / dampDen
    // degree via groupBy + join back, NOT a window over src: the window
    // shape would exchange AND sort the full edge list with a hub node's
    // whole edge set funneled through one window partition (AQE cannot
    // split skew inside windows), whereas the aggregate shuffles only
    // map-side-combined (src, count) partials and AQE's skew-join handling
    // applies to the join back. The caller's (arbitrarily expensive) edge
    // expression persists once and feeds degree, annotation, and node set
    val e = edges.persist()
    // EAGER localCheckpoint instead of persist for the two frames every
    // iteration re-reads (r14, VERDICT item 5 — outcome differs from the
    // hypothesis, measured + plan-verified): TRUE co-partitioning is not
    // achievable on this Spark build — neither a persisted frame's layout
    // (InMemoryTableScan under AQE, any canChangeCachedPlanOutputPartitioning
    // value) nor a checkpointed one (LogicalRDD records
    // UnknownPartitioning(0); an explicit repartition before the checkpoint
    // is therefore pure build-time cost) reaches the per-round join's
    // EnsureRequirements, so the |E|-frame exchange per round is a floor
    // (OPTIMIZATION_r14.md item 5 + plans/r14 dumps). What the checkpoint
    // DOES buy, and why it replaced persist: lineage truncation (final plan
    // 1347 → 654 lines — every barrier/result action re-analyzes a two-node
    // tree, the kCore lesson) and ACCURATE LogicalRDD stats for AQE's
    // per-round planning (OPTIMIZATION_r14.md item 5: fixture-scale edge
    // frames flip SMJ → BHJ on checkpointed inputs where the same persisted
    // frames stayed SMJ). Probed q_pagerank 3.07 → 2.46 s, q_ppr_seeds
    // 2.79 → 2.28 s min-of-3. The two independent eager materializations
    // overlap as Futures (§2.6).
    val withDegExpr = e
      .join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), Seq("src"))
    val nodeSet = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // seed flag as a node-frame annotation: uniform PageRank marks every
    // node a seed, so one code path serves both variants
    val nodesExpr = seeds match {
      case Some(s) => nodeSet.join(
          s.select(col("node")).distinct().withColumn("is_seed", lit(true)),
          Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
      case None => nodeSet.withColumn("is_seed", lit(true))
    }
    val (withDeg, nodes) = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val f1 = Future(withDegExpr.localCheckpoint())
      val f2 = Future(nodesExpr.localCheckpoint())
      (Await.result(f1, Duration.Inf), Await.result(f2, Duration.Inf))
    }
    e.unpersist(blocking = false)
    var rank = nodes.select(col("node"),
      when(col("is_seed"), lit(unit)).otherwise(lit(0L)).as("rank"))
    var barrier: Option[DataFrame] = None
    try {
      for (i <- 1 to iters) {
        val inflow = withDeg
          .join(rank.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
          .groupBy("node").agg(sum(col("c")).as("inflow"))
        rank = nodes.join(inflow, Seq("node"), "left_outer")
          .select(col("node"),
            (when(col("is_seed"), lit(base)).otherwise(lit(0L))
              + expr(s"$dampNum * coalesce(inflow, 0L) div $dampDen")).as("rank"))
        // each intermediate rank is consumed exactly ONCE (by the next
        // round), so rounds can chain lazily in one job — unlike the BPE
        // fold, nothing re-inlines. A periodic persist barrier still caps
        // plan depth (Catalyst analysis cost grows with the chain) without
        // paying a scheduler round-trip per iteration
        if (i % 5 == 0 && i < iters) {
          val p = rank.persist()
          p.count()
          barrier.foreach(_.unpersist(blocking = false))
          barrier = Some(p)
          rank = p
        }
      }
      // materialize the result BEFORE the finally releases the caches it
      // reads from — returned persisted, like every operator that must
      // outlive its inputs
      val result = rank.persist()
      result.count()
      result
    } finally {
      // deterministic release of the checkpointed co-partitioned frames
      // (Dataset.unpersist is a no-op on checkpoint blocks — the r11
      // finding; Staging.releaseFrame walks the LogicalRDD leaves)
      graft.core.Staging.releaseFrame(withDeg)
      graft.core.Staging.releaseFrame(nodes)
      barrier.foreach(_.unpersist(blocking = false))
    }
  }

  /** Triangle enumeration over an undirected graph given as CANONICAL edges
    * (a < b, deduplicated) — the clustering-coefficient / community-density
    * primitive beside components ([[DedupClusters]]) and centrality
    * ([[pageRank]]).
    *
    * Scale shape: the naive wedge join (every 2-path) fans out O(deg²) at
    * hub nodes. This is the degree-oriented ("compact-forward", Latapy 2008)
    * formulation: each edge is re-oriented from its LOWER-degree endpoint to
    * the higher (ties by id), wedges are built only between OUT-neighbors,
    * and the closing edge is an equi-join back to the canonical edge set.
    * Out-degree under this orientation is bounded by O(√m) regardless of hub
    * size, so wedge count is O(m^1.5) worst case — the standard distributed
    * triangle bound — and every triangle is emitted exactly once. All three
    * joins are equi-joins (shuffle- or broadcast-able); nothing is iterative.
    * Output: (t1, t2, t3), the triangle's nodes id-sorted ascending — order
    * restored with exact integer arithmetic (sum minus min/max extremes).
    */
  def triangles(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).persist()
    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val fromA = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(when(fromA, col("a")).otherwise(col("b")).as("src"),
        when(fromA, col("b")).otherwise(col("a")).as("dst"))
      .persist()
    oriented.count() // materialize before the wedge self-join reads it twice
    // wedge (v, w) at src with v < w matches the canonical closing edge
    // (a, b) = (v, w) directly — no per-row normalization in the join key
    val wedges = oriented.select(col("src"), col("dst").as("v"))
      .join(oriented.select(col("src"), col("dst").as("w")), Seq("src"))
      .filter(col("v") < col("w"))
    val result = wedges
      .join(e, wedges("v") === e("a") && wedges("w") === e("b"), "left_semi")
      .select(least(col("src"), col("v")).as("t1"),
        (col("src") + col("v") + col("w")
          - least(col("src"), col("v")) - greatest(col("src"), col("w"))).as("t2"),
        greatest(col("src"), col("w")).as("t3"))
      .persist()
    result.count()
    e.unpersist(blocking = false)
    oriented.unpersist(blocking = false)
    result
  }

  /** DuckDB twin of [[triangles]]: `edgesSql` must select canonical (a, b).
    * Same degree orientation, wedge join, and closing-edge semi-join.
    */
  def duckTrianglesSql(edgesSql: String): String =
    s"""WITH e AS ($edgesSql),
       deg AS (SELECT node, count(*) AS deg FROM (
                 SELECT a AS node FROM e UNION ALL SELECT b FROM e) n GROUP BY node),
       o AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                         THEN e.a ELSE e.b END AS src,
                    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                         THEN e.b ELSE e.a END AS dst
             FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b)
       SELECT least(w.src, w.v) AS t1,
              w.src + w.v + w.w - least(w.src, w.v) - greatest(w.src, w.w) AS t2,
              greatest(w.src, w.w) AS t3
       FROM (SELECT o1.src, o1.dst AS v, o2.dst AS w
             FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst) w
       WHERE EXISTS (SELECT 1 FROM e WHERE e.a = w.v AND e.b = w.w)"""

  /** Multi-source BFS levels over directed `edges` (src, dst): the minimum
    * hop count from any node in `sources` (one column `node`), up to
    * `maxDepth` hops — reachability with distance, the third leg of the
    * graph family beside components ([[DedupClusters]]) and centrality
    * ([[pageRank]]). Curation uses it as link-distance-from-seed-set: "keep
    * documents within k hops of a trusted seed domain" is a standard
    * web-corpus quality filter.
    *
    * Frontier-expansion shape (the textbook distributed BFS): each round
    * joins the CURRENT frontier (not the whole visited set) to the edge
    * list, then anti-joins against visited to keep first discoveries only.
    * Per-round cost is O(edges incident to the frontier) + one |visited|
    * anti-join shuffle; rounds stop early when a frontier empties (the
    * frontier count doubles as the persist barrier every round, so plans
    * stay one round deep — the BPE-merge lesson). Levels are exact small
    * integers: nothing here floats, so cross-engine equality is structural.
    */
  def bfsLevels(edges: DataFrame, sources: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"maxDepth=$maxDepth must be non-negative")
    // NOT co-partitioned (r14, measured): the per-round frontier join plans
    // as a BROADCAST of the (small) frontier — the edge side streams with
    // no distribution requirement, so a build-time repartition is pure
    // exchange cost (probed: 2.61 s -> 3.87 s min-of-3 WITH the repartition;
    // reverted)
    val e = edges.select(col("src"), col("dst")).persist()
    var visited = sources.select(col("node")).distinct()
      .withColumn("level", lit(0L)).persist()
    // `e` populates its cache lazily on the first round's join — each later
    // round then reads the materialized edges, so no eager count is needed
    var visitedSize = visited.count()
    var frontier = visited.select(col("node"))
    try {
      var depth = 0
      var frontierSize = visitedSize
      while (depth < maxDepth && frontierSize > 0) {
        depth += 1
        val next = frontier
          .join(e, frontier("node") === e("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .withColumn("level", lit(depth.toLong))
        val grown = visited.unionByName(next).persist()
        // ONE action per round: the union's count materializes the new
        // frontier's join+anti-join as part of the union, and the frontier
        // size is the count delta — no separate count job on `next`
        val grownSize = grown.count()
        frontierSize = grownSize - visitedSize
        visitedSize = grownSize
        visited.unpersist(blocking = false)
        visited = grown
        // read the new frontier back OUT OF the persisted union (a slice of
        // the cache), not from the `next` plan — referencing `next` here
        // would re-run its join + anti-join next round
        frontier = grown.filter(col("level") === depth.toLong).select(col("node"))
      }
      visited
    } finally e.unpersist(blocking = false)
  }

  /** DuckDB twin of [[bfsLevels]] as unrolled frontier CTEs (bounded depth,
    * so no recursion needed — the same unroll pattern as the PageRank twin).
    * `sourcesSql` must select one column `node`.
    */
  def duckBfsLevelsSql(edgesSql: String, sourcesSql: String, maxDepth: Int): String = {
    val head =
      s"""e AS ($edgesSql),
         v0 AS (SELECT DISTINCT node, CAST(0 AS BIGINT) AS level FROM ($sourcesSql) s)"""
    val steps = (1 to maxDepth).map { i =>
      s"""f$i AS (SELECT DISTINCT e.dst AS node
             FROM e JOIN v${i - 1} v ON e.src = v.node AND v.level = ${i - 1}
             WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} x WHERE x.node = e.dst)),
         v$i AS (SELECT node, level FROM v${i - 1}
                 UNION ALL SELECT node, CAST($i AS BIGINT) FROM f$i)"""
    }
    s"WITH ${(head +: steps).mkString(",\n")}\nSELECT node, level FROM v$maxDepth"
  }

  /** k-core: the maximal subgraph in which every node has degree ≥ k, over
    * undirected CANONICAL edges (a < b, deduplicated) — the cohesive-subgraph
    * primitive beside [[triangles]] (local density) and [[pageRank]]
    * (centrality). Curation reads it as a farm detector: an account or
    * domain that survives a high-k peel sits inside a tightly interlinked
    * cluster (link farms, engagement rings), where organic nodes fall out
    * after a round or two of cascade.
    *
    * Peeling shape: each round computes degrees (one map-side-combined
    * aggregate over both edge endpoints), keeps nodes with deg ≥ k, and
    * semi-joins the edge list down to edges whose BOTH endpoints survive.
    * Removal cascades — dropping a node lowers its neighbors' degrees — so
    * rounds repeat until an edge-count fixpoint (the count doubles as the
    * one action per round, the BFS lesson). Per-round cost is two shuffles
    * of the CURRENT edge set, which only shrinks; convergence needs at most
    * as many rounds as the longest removal cascade. A non-convergence past
    * `maxRounds` throws loudly (the oracle unrolls exactly `maxRounds`
    * identity-stable stages, so an early Spark exit cannot drift from it).
    *
    * Returns (node, deg): the k-core members with their within-core degree
    * — exact small integers, structurally hash-comparable across engines.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 16): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(maxRounds >= 1, s"maxRounds=$maxRounds must be >= 1")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    // localCheckpoint, NOT persist: each round references `cur` THREE times
    // (both arms of the degree union + the edge filter), so the ANALYZED
    // plan would grow 3^rounds — the mmrRerank lesson; persist caches data
    // but Catalyst still re-analyzes the full logical tree per action. The
    // eager checkpoint truncates lineage AND doubles as the one
    // materializing action per round (its count is then cache-local).
    var cur = edges.select(col("a"), col("b")).localCheckpoint(true)
    var curCount = cur.count()
    var rounds = 0
    var converged = curCount == 0L
    while (!converged) {
      rounds += 1
      val keep = degrees(cur).filter(col("deg") >= k).select(col("node"))
      val next = cur
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(true)
      val nextCount = next.count()
      // edge-count fixpoint == degree fixpoint: an unchanged edge set means
      // every endpoint already had deg >= k, so the next keep-set is total
      converged = nextCount == curCount
      // the throw counts SHRINK rounds, not iterations: the oracle's
      // maxRounds unrolled stages express up to maxRounds shrinks (identity
      // stages are no-ops), and Spark needs one extra identity round to
      // OBSERVE the fixpoint — so a cascade of exactly maxRounds converges
      // on both engines, and only a shrink in round maxRounds+1 (an edge
      // set the oracle can no longer peel) is the genuine divergence
      if (!converged && rounds > maxRounds)
        throw new IllegalStateException(
          s"kCore(k=$k) still shrinking after $maxRounds peel rounds — raise maxRounds " +
            "(the oracle unrolls exactly that many stages, so a silent early stop is not an option)")
      cur = next
      curCount = nextCount
    }
    degrees(cur)
  }

  /** DuckDB twin of [[kCore]] as `maxRounds` unrolled peel stages (identity
    * once the fixpoint is reached, so Spark's early exit cannot drift).
    * `edgesSql` must select canonical (a, b).
    */
  def duckKCoreSql(edgesSql: String, k: Int, maxRounds: Int = 16): String = {
    // MATERIALIZED: DuckDB inlines plain CTEs, and every round references
    // its predecessor three times — un-materialized, the chain re-expands
    // 3^rounds (the recorded MMR-twin lesson)
    val head = s"e0 AS MATERIALIZED ($edgesSql)"
    val steps = (1 to maxRounds).map { i =>
      s"""d$i AS (SELECT node, count(*) AS deg FROM (
             SELECT a AS node FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) n
           GROUP BY node),
         k$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $k),
         e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
                 WHERE a IN (SELECT node FROM k$i) AND b IN (SELECT node FROM k$i))"""
    }
    s"""WITH ${(head +: steps).mkString(",\n")}
       SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         SELECT a AS node FROM e$maxRounds UNION ALL SELECT b FROM e$maxRounds) n
       GROUP BY node"""
  }

  /** Neighbor-Jaccard similarity per EDGE over undirected canonical edges
    * (a < b, deduplicated): for each existing edge, the Jaccard overlap of
    * its endpoints' neighborhoods — |N(a)∩N(b)| / |N(a)∪N(b)| in integer
    * micro-units. The structural link-prediction / tie-strength primitive
    * beside [[triangles]] (global density) and [[kCore]] (cohesion):
    * curation reads a high-Jaccard edge as a redundant or templated link
    * (two accounts clicking near-identical item sets, two domains with
    * near-identical link profiles), a low-Jaccard edge as a bridge.
    *
    * Scale shape: common-neighbor counts are exactly per-edge triangle
    * counts, so the computation IS [[triangles]] (degree-oriented,
    * O(m^1.5) wedges, equi-joins only) followed by an explode of each
    * triangle into its three edges and one map-side-combined count — no
    * new join shapes, no per-node neighbor-set materialization (the naive
    * N(a)∩N(b) set intersection would shuffle full adjacency lists and
    * fan out O(deg²) at hubs). Jaccard denominator da + db − common is
    * exact: deg counts distinct neighbors because edges are canonical and
    * deduplicated, and common ≤ min(da, db) − 1 keeps it ≥ 2 (no division
    * guard needed). All arithmetic is 64-bit integer `div` — bit-identical
    * across engines, the house no-libm discipline.
    *
    * Returns (a, b, common, jac_micro) — one row per input edge, edges
    * with no shared neighbor scoring 0.
    */
  def nodeSimilarity(edges: DataFrame, unit: Long = 1000000L): DataFrame = {
    val e = edges.select(col("a"), col("b")).persist()
    val tri = triangles(e) // returns persisted (t1 < t2 < t3)
    val triEdges = tri.select(col("t1").as("a"), col("t2").as("b"))
      .unionAll(tri.select(col("t1").as("a"), col("t3").as("b")))
      .unionAll(tri.select(col("t2").as("a"), col("t3").as("b")))
    val common = triEdges.groupBy("a", "b").agg(count(lit(1)).as("common"))
    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val result = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .join(common, Seq("a", "b"), "left_outer")
      .select(col("a"), col("b"),
        coalesce(col("common"), lit(0L)).as("common"),
        expr(s"coalesce(common, 0L) * $unit div (da + db - coalesce(common, 0L))")
          .as("jac_micro"))
      .persist()
    result.count()
    tri.unpersist(blocking = false)
    e.unpersist(blocking = false)
    result
  }

  /** Link prediction by common-neighbor count: the top `topN` NON-adjacent
    * pairs sharing the most neighbors — the "accounts that behave like an
    * existing cluster but aren't linked yet" recommendation/screen, the
    * open-wedge complement of [[nodeSimilarity]] (which scores existing
    * edges).
    *
    * Open wedges CANNOT reuse the triangle degree orientation: a common
    * neighbor c of (v, w) is only enumerated there when c precedes both v
    * and w in the orientation order — guaranteed for triangles (the minimal
    * vertex centers an enumerated wedge; the closing edge completes it) but
    * not for open pairs, which the oriented form silently undercounts. So
    * this enumerates wedges at EVERY center — O(Σ deg²), a hub blowup —
    * bounded by `maxCenterDeg`: centers wider than the cap are excluded
    * wholesale (Σ_{deg≤D} deg² ≤ D·m, so the wedge count is linear in edges
    * at fixed cap). That is also the right SEMANTICS for curation: a
    * 100k-degree hub says nothing about any specific pair (the wide-basket
    * fan-out guard's rationale, applied to graphs); the cap is mirrored in
    * the oracle, so a capped run can never silently drift.
    *
    * Returns (a, b, common) for non-edges, common desc / a asc / b asc,
    * limited to `topN` (TakeOrdered — no global sort materializes).
    */
  def linkPrediction(edges: DataFrame, maxCenterDeg: Int, topN: Int): DataFrame = {
    require(maxCenterDeg >= 2, s"maxCenterDeg=$maxCenterDeg must be >= 2")
    require(topN >= 1, s"topN=$topN must be >= 1")
    val e = edges.select(col("a"), col("b")).persist()
    val adj = e.select(col("a").as("c"), col("b").as("n"))
      .unionAll(e.select(col("b").as("c"), col("a").as("n")))
    val deg = adj.groupBy("c").agg(count(lit(1)).as("deg"))
    val capped = adj.join(deg.filter(col("deg") <= maxCenterDeg), Seq("c"))
    val wedges = capped.select(col("c"), col("n").as("v"))
      .join(capped.select(col("c"), col("n").as("w")), Seq("c"))
      .filter(col("v") < col("w"))
    val common = wedges.groupBy(col("v").as("a"), col("w").as("b"))
      .agg(count(lit(1)).as("common"))
    val result = common.join(e, Seq("a", "b"), "left_anti")
      .orderBy(col("common").desc, col("a").asc, col("b").asc)
      .limit(topN)
      .persist()
    result.count()
    e.unpersist(blocking = false)
    result
  }

  /** DuckDB twin of [[linkPrediction]]: `edgesSql` must select canonical
    * (a, b). Same degree cap, full wedge enumeration, anti-join, top-N.
    */
  def duckLinkPredictionSql(edgesSql: String, maxCenterDeg: Int, topN: Int): String =
    s"""WITH e AS MATERIALIZED ($edgesSql),
       adj AS (SELECT a AS c, b AS n FROM e UNION ALL SELECT b, a FROM e),
       deg AS (SELECT c, count(*) AS deg FROM adj GROUP BY c),
       capped AS (SELECT adj.c, adj.n FROM adj JOIN deg ON adj.c = deg.c
                  WHERE deg.deg <= $maxCenterDeg),
       w AS (SELECT x.n AS a, y.n AS b FROM capped x JOIN capped y
             ON x.c = y.c AND x.n < y.n),
       cm AS (SELECT a, b, count(*) AS common FROM w GROUP BY a, b)
       SELECT cm.a, cm.b, cm.common FROM cm
       WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = cm.a AND e.b = cm.b)
       ORDER BY cm.common DESC, cm.a ASC, cm.b ASC LIMIT $topN"""

  /** DuckDB twin of [[nodeSimilarity]]: `edgesSql` must select canonical
    * (a, b). Same degree orientation, triangle closure, per-edge explode,
    * and integer micro-Jaccard.
    */
  def duckNodeSimilaritySql(edgesSql: String, unit: Long = 1000000L): String =
    s"""WITH e AS MATERIALIZED ($edgesSql),
       deg AS (SELECT node, count(*) AS deg FROM (
                 SELECT a AS node FROM e UNION ALL SELECT b FROM e) n GROUP BY node),
       o AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                         THEN e.a ELSE e.b END AS src,
                    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                         THEN e.b ELSE e.a END AS dst
             FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b),
       tri AS (SELECT least(w.src, w.v) AS t1,
                      w.src + w.v + w.w - least(w.src, w.v) - greatest(w.src, w.w) AS t2,
                      greatest(w.src, w.w) AS t3
               FROM (SELECT o1.src, o1.dst AS v, o2.dst AS w
                     FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst) w
               WHERE EXISTS (SELECT 1 FROM e WHERE e.a = w.v AND e.b = w.w)),
       te AS (SELECT t1 AS a, t2 AS b FROM tri
              UNION ALL SELECT t1, t3 FROM tri
              UNION ALL SELECT t2, t3 FROM tri),
       cm AS (SELECT a, b, count(*) AS common FROM te GROUP BY a, b)
       SELECT a, b, common, jac_micro FROM (
         SELECT e.a AS a, e.b AS b, CAST(coalesce(cm.common, 0) AS BIGINT) AS common,
                CAST(coalesce(cm.common, 0) * $unit
                     // (da.deg + db.deg - coalesce(cm.common, 0)) AS BIGINT) AS jac_micro
         FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
         LEFT JOIN cm ON cm.a = e.a AND cm.b = e.b) q"""

  /** DuckDB twin of [[pageRank]] as unrolled CTE stages (the KMeans-twin
    * pattern): `edgesSql` must select (src, dst). Returns the CTE chain and
    * the name of the final rank relation.
    */
  def duckPageRankCtes(edgesSql: String, iters: Int, unit: Long = 1000000L,
                       dampNum: Long = 85L, dampDen: Long = 100L,
                       seedsSql: Option[String] = None): (String, String) = {
    val base = unit - unit * dampNum / dampDen
    // uniform PageRank = every node a seed (same identity as the Spark side)
    val seedCte = seedsSql match {
      case Some(s) => s"seeds AS (SELECT DISTINCT node FROM ($s) s),"
      case None => "seeds AS (SELECT node FROM nodes),"
    }
    def seedCase(expr: String, ref: String) =
      s"CASE WHEN $ref IN (SELECT node FROM seeds) THEN $expr ELSE 0 END"
    val head =
      s"""e AS ($edgesSql),
         nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
         deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         $seedCte
         r0 AS (SELECT node, CAST(${seedCase(unit.toString, "node")} AS BIGINT) AS rank FROM nodes)"""
    val steps = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS node, CAST(sum(r.rank // d.outdeg) AS BIGINT) AS inflow
             FROM e JOIN deg d ON e.src = d.src JOIN r${i - 1} r ON r.node = e.src
             GROUP BY e.dst),
         r$i AS (SELECT n.node,
                        CAST(${seedCase(base.toString, "n.node")} + ($dampNum * coalesce(c$i.inflow, 0)) // $dampDen AS BIGINT) AS rank
                 FROM nodes n LEFT JOIN c$i ON n.node = c$i.node)"""
    }
    ((head +: steps).mkString(",\n"), s"r$iters")
  }

  /** Synchronous label-propagation communities (Raghavan et al. '07), the
    * DETERMINISTIC variant: labels start as node ids; every round each node
    * takes the MODE of its neighbors' labels, ties broken by the smaller
    * label (the original breaks ties randomly — useless for a verifiable
    * engine). `edges` must carry BOTH directions of each undirected edge;
    * nodes whose neighborhood is empty keep their label. Returns
    * (node, community) after `iters` rounds.
    *
    * Per-round plan: edges ⋈ labels (shuffle on the node key) →
    * (node, neighbor-label) map-side-combined count → per-node argmax (the
    * same top-1 shape as every argmax here). State between rounds is ONE
    * label per node; hubs skew the count like any degree-heavy aggregate
    * and split under AQE. Unlike min-label components this converges to
    * DENSITY communities, not connectivity classes — the complementary
    * graph clustering the family lacked.
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct().persist()
    val fin = (1 to iters).foldLeft(nodes.withColumn("label", col("node"))) {
      (labels, _) =>
        val neigh = edges
          .join(labels.select(col("node").as("dst"), col("label")), "dst")
          .groupBy(col("src").as("node"), col("label"))
          .agg(count(lit(1)).as("n"))
        val top = neigh.withColumn("rn", row_number().over(
            Window.partitionBy(col("node"))
              .orderBy(col("n").desc, col("label").asc)))
          .filter(col("rn") === 1)
          .select(col("node"), col("label").as("new_label"))
        // localCheckpoint per round: the kCore lesson — an iterated
        // join-under-window plan otherwise grows multiplicatively
        labels.select(col("node"), col("label"))
          .join(top, Seq("node"), "left_outer")
          .select(col("node"), coalesce(col("new_label"), col("label")).as("label"))
          .localCheckpoint()
    }
    fin.select(col("node"), col("label").as("community"))
  }

  /** DuckDB twin of [[labelPropagation]]: rounds unrolled as CTE stages
    * (the pageRank/KMeans pattern). Returns (ctes, finalCteName).
    */
  def duckLabelPropagationCtes(edgesSql: String, iters: Int): (String, String) = {
    val head =
      s"""lp_e AS ($edgesSql),
         lp_nodes AS (SELECT DISTINCT node FROM (
           SELECT src AS node FROM lp_e UNION ALL SELECT dst FROM lp_e) u),
         lp0 AS (SELECT node, node AS label FROM lp_nodes)"""
    val steps = (1 to iters).map { i =>
      s"""lpn$i AS (SELECT e.src AS node, l.label, count(*) AS n
             FROM lp_e e JOIN lp${i - 1} l ON l.node = e.dst
             GROUP BY 1, 2),
         lpt$i AS (SELECT node, label FROM (
             SELECT node, label, row_number() OVER (PARTITION BY node
               ORDER BY n DESC, label ASC) AS rn FROM lpn$i) q WHERE rn = 1),
         lp$i AS (SELECT p.node, coalesce(t.label, p.label) AS label
             FROM lp${i - 1} p LEFT JOIN lpt$i t USING (node))"""
    }
    ((head +: steps).mkString(",\n"), s"lp$iters")
  }

  /** HyperANF-style neighborhood function: per hop count t = 0..`iters`, the
    * number of (node, reachable-node) pairs within distance t, estimated by
    * propagating HLL registers along edges — node state is ≤256 register
    * rows FOREVER, so the t-hop reach of every node costs O(iters·|E|·256)
    * with no ball ever materialized (the Boldi/Vigna HyperANF shape; balls
    * themselves are worst-case quadratic). Register max is associative,
    * commutative, and idempotent, so propagated registers equal the
    * registers OF the ball members exactly — which is what the oracle
    * computes (explicit ≤2-hop path closure, fixture-scale only) before
    * applying the identical integer estimator; the two agree bit-for-bit.
    * Each round materializes behind a persist barrier (plan-depth
    * discipline of [[pageRank]]).
    *
    * Output: (t, n_nodes, reach_pairs_est) — the distance distribution /
    * effective-diameter readout used for connectivity audits of link or
    * copurchase graphs.
    */
  def reachHll(edges: DataFrame, iters: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val M = 256
    // NOT co-partitioned (r14, measured): callers pass an already-staged
    // (localCheckpoint-ed) edge frame, and inserting a repartition+persist
    // in front of it probed SLOWER (2.09 s -> 2.78 s min-of-3) — the
    // per-round exchange it would save is a 32-partition shuffle of a
    // small frame, cheaper than the extra cache layer
    val nodes = edges.select(col("src").as("node")).distinct()
    val (reg, rho) = Sketches.hllRhoCols(col("node"))
    // packed state: ONE row per node, a dense array<smallint> of 256 max
    // ranks — the neighbor join then moves |E| rows of ~512 B instead of
    // |E|·256 register rows (measured 19.4 s → packed form on the sf0.1
    // affinity graph), and the element-wise max merges map-side through
    // the typed reduceGroups partial aggregate
    val own = nodes
      .select(col("node").cast("long").as("node"), reg.cast("int").as("r"),
        rho.cast("int").as("q"))
      .as[(Long, Int, Int)]
      .map { case (n, r, q) =>
        val a = new Array[Short](M); a(r) = q.toShort; (n, a)
      }
    var packed = own.toDF("node", "regs").persist()
    var snaps = Vector(packed.withColumn("t", lit(0L)))
    for (t <- 1 to iters) {
      val viaNbr = edges
        .join(packed.withColumnRenamed("node", "mid"), col("dst") === col("mid"))
        .select(col("src").as("node"), col("regs"))
      val next = packed.unionByName(viaNbr)
        .as[(Long, Array[Short])]
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          val r = new Array[Short](M)
          var i = 0
          while (i < M) { r(i) = if (a._2(i) >= b._2(i)) a._2(i) else b._2(i); i += 1 }
          (a._1, r)
        }
        .map(_._2)
        .toDF("node", "regs").persist()
      snaps :+= next.withColumn("t", lit(t.toLong))
      packed = next
    }
    Sketches.hllEstimateFromRegArrays(snaps.reduce(_ unionByName _), "regs")
      .groupBy("t")
      .agg(count(lit(1)).as("n_nodes"), sum(col("est")).as("reach_pairs_est"))
      .orderBy("t")
  }

  /** DuckDB twin of [[reachHll]]: materializes each ≤t-hop ball as an
    * explicit path union (member duplication is harmless — register max is
    * idempotent), then runs the shared grouped HLL estimator with (t, node)
    * packed into one group key. Fixture-scale only by construction.
    */
  def duckReachHllSql(edgesSql: String, iters: Int): String = {
    val e = s"($edgesSql)"
    def pathSelect(t: Int, k: Int): String =
      if (k == 0)
        s"SELECT $t AS t, node, node AS member FROM " +
          s"(SELECT DISTINCT src AS node FROM $e en) nn"
      else {
        val joins = (1 until k)
          .map(i => s"JOIN $e e${i + 1} ON e$i.dst = e${i + 1}.src").mkString(" ")
        s"SELECT $t AS t, e1.src AS node, e$k.dst AS member FROM $e e1 $joins"
      }
    val balls = (0 to iters)
      .flatMap(t => (0 to t).map(k => pathSelect(t, k)))
      .mkString("(", " UNION ALL ", ") balls")
    val inner = Sketches.duckHllByGroup(balls, "t * 1000000000 + node", "member")
    s"""SELECT grp // 1000000000 AS t, count(*) AS n_nodes,
              CAST(sum(est) AS BIGINT) AS reach_pairs_est
       FROM ($inner) q
       GROUP BY 1 ORDER BY t"""
  }
}
