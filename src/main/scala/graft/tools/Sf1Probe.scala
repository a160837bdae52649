package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ExactSubstr, Graph, MinHashLSH, Similarity}

/** 10× (sf1-equivalent) scale points for the heavy operator families —
  * pagerank, IVF-PQ, substring dedup, incremental ingest dedup — measured
  * against the same families at 1× so BASELINE.md can record observed
  * exponents, not just plan-shape arguments.
  *
  * The 10× inputs are staged from sf0.1 with per-copy key offsets, and (for
  * text) a per-copy token suffix: replicating IDENTICAL documents would make
  * every copy a near-dup of its 9 siblings and quadratically explode the
  * candidate-pair count — a 100× measurement artifact, not a 10× corpus.
  * Embedding copies perturb one coordinate so exact-duplicate centroids
  * don't degenerate k-means. Both stagings preserve the intra-copy
  * duplication structure exactly.
  *
  * Usage: sbt "runMain graft.tools.Sf1Probe /root/testdata/sf0.1 /tmp/sf1probe"
  */
object Sf1Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = args.drop(1).headOption.getOrElse("/tmp/sf1probe")
    // optional: replication factor (default 10) and a comma-list family
    // filter — `... 100 boilerplate,lsh_stream` stages ×100 docs and runs
    // only the text families (the ×100 point is a state-size probe; the
    // join-heavy families would dominate the wall-clock without adding
    // information)
    val mult = args.drop(2).headOption.map(a => a.toIntOption.getOrElse(
      sys.error(s"third arg is the replication factor (an integer), got '$a' — " +
        "the family filter goes fourth: Sf1Probe <sfDir> <workDir> [mult] [families]")))
      .getOrElse(10)
    val onlyFamilies: Option[Set[String]] =
      args.drop(3).headOption.map(_.split(",").toSet)
    def enabled(name: String): Boolean =
      onlyFamilies.forall(fs => fs.exists(name.startsWith))
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def timed(name: String)(f: => Long): Unit = if (enabled(name)) {
      val label = name.replace("10x", s"${mult}x")
      val t0 = System.nanoTime()
      val n = f
      println(f"[sf1] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s  (rows=$n)")
    }

    def fixture(t: String): DataFrame = graft.core.Readers.fixture(spark, sfDir, t)

    // -- staging ------------------------------------------------------------
    val copies = spark.range(mult).select(col("id").cast("int").as("copy"))
    val keyOff = 100000000L

    def staged(name: String)(make: => DataFrame): DataFrame = {
      val path = s"$work/$name.parquet"
      if (!new java.io.File(path).exists()) make.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }

    lazy val docs10 = staged(s"documents_x$mult") {
      fixture("documents").crossJoin(broadcast(copies))
        .select((col("doc_id") + col("copy") * keyOff).as("doc_id"),
          // per-copy token suffix: kills cross-copy shingle/span matches,
          // keeps every within-copy duplicate relationship intact
          regexp_replace(col("text"), lit("(\\S+)"), concat(lit("$1c"), col("copy"))).as("text"),
          col("lang"), col("source"), col("n_chars"))
    }
    lazy val emb10 = staged(s"embeddings_x$mult") {
      fixture("embeddings").crossJoin(broadcast(copies))
        .select((col("vec_id") + col("copy") * keyOff).as("vec_id"),
          transform(col("embedding"), (v, i) =>
            when(i === 0, v + col("copy").cast("float") * lit(0.001f)).otherwise(v))
            .as("embedding"),
          col("label"))
    }
    lazy val orders10 = staged(s"orders_x$mult") {
      fixture("orders").crossJoin(broadcast(copies))
        .select((col("o_orderkey") + col("copy") * keyOff).as("o_orderkey"),
          (col("o_custkey") + col("copy") * keyOff).as("o_custkey"))
    }
    lazy val li10 = staged(s"lineitem_x$mult") {
      fixture("lineitem").crossJoin(broadcast(copies))
        .select((col("l_orderkey") + col("copy") * keyOff).as("l_orderkey"),
          (col("l_suppkey") + col("copy") * keyOff).as("l_suppkey"))
    }
    if (onlyFamilies.isEmpty)
      println(s"[sf1] staged: docs=${docs10.count()} emb=${emb10.count()} " +
        s"orders=${orders10.count()} lineitem=${li10.count()}")

    // -- pagerank (q_pagerank shape: affinity graph from lineitem ⋈ orders) --
    def pagerank(li: DataFrame, o: DataFrame): Long = {
      val cs = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = cs.unionByName(cs.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pageRank(edges, iters = 3).count()
    }
    timed("pagerank 1x") { pagerank(
      fixture("lineitem").select("l_orderkey", "l_suppkey"),
      fixture("orders").select("o_orderkey", "o_custkey")) }
    timed("pagerank 10x") { pagerank(li10, orders10) }

    // -- IVF-PQ (sim_ivfpq shape; probe set stays 8 queries at both scales) --
    def ivfpq(e: DataFrame): Long =
      Similarity.ivfPqTopK(e, col("vec_id") % keyOff < 8, k = 10, kc = 8,
        nprobe = 2, m = 4, dims = 64, codebook = 8, iters = 1).count()
    timed("ivfpq 1x") { ivfpq(fixture("embeddings")) }
    timed("ivfpq 10x") { ivfpq(emb10) }

    // -- substring dedup, bloom scan-local path (dedup_substring_bloom) -----
    timed("substring_bloom 1x") {
      ExactSubstr.coverageBloom(fixture("documents"), "doc_id", "text", 8).count()
    }
    timed("substring_bloom 10x") {
      ExactSubstr.coverageBloom(docs10, "doc_id", "text", 8).count()
    }

    // -- exact prefix-filter Jaccard join (dedup_jaccard_prefix shape) ------
    // the per-copy token suffix keeps the pair population exactly 10 copies
    // of the 1x pairs: candidate growth is linear unless prefix buckets
    // degrade, which is precisely what this point watches
    timed("prefix_jaccard 1x") {
      graft.operators.PrefixJaccard.pairs(
        fixture("documents"), "doc_id", "text", 3, 1, 2).count()
    }
    timed("prefix_jaccard 10x") {
      graft.operators.PrefixJaccard.pairs(docs10, "doc_id", "text", 3, 1, 2).count()
    }

    // -- incremental ingest dedup (dedup_incremental shape, 1/10 delta) -----
    def incremental(docs: DataFrame): Long = {
      val sigsNew = MinHashLSH.signaturesFromShingles(
        MinHashLSH.shingled(docs.filter(col("doc_id") % 10 === 9), "doc_id", "text", 3), 16)
      val sigsIdx = MinHashLSH.signaturesFromShingles(
        MinHashLSH.shingled(docs.filter(col("doc_id") % 10 =!= 9), "doc_id", "text", 3), 16)
      MinHashLSH.incrementalCandidates(sigsNew, sigsIdx, 16, 4).count()
    }
    timed("incremental_dedup 1x") { incremental(fixture("documents")) }
    timed("incremental_dedup 10x") { incremental(docs10) }

    // -- shared dedup staging (the DedupStaging shape, r12) -----------------
    // the family-wide memo's two cost classes, measured separately: the
    // ONE-TIME staged build (shingle + 16-perm sign, checkpointed) must scale
    // ~linearly with the corpus, and the RECURRING per-detector cost off the
    // staged frames must exclude re-tokenization entirely — three detector
    // passes (two bandings + the exact prefix join) re-read only checkpoint
    // blocks, so consumer wall tracks candidate work, not corpus passes
    def stagedBuild(docs: DataFrame): (DataFrame, DataFrame) = {
      val sh = MinHashLSH.shingled(docs, "doc_id", "text", 3).localCheckpoint()
      val sigs = MinHashLSH.signaturesFromShingles(sh, 16).localCheckpoint()
      (sh, sigs)
    }
    // consumers = three banded candidate generations off the staged frames
    // (the DedupStaging recurring-cost class; the exact PPJoin has its own
    // family probe above). Untimed tiny-input warmup first — the whole
    // point is the RECURRING cost, not first-run codegen/JIT
    def stagedConsumers(sigs: DataFrame): Long =
      Seq(2, 4, 8).map(b =>
        MinHashLSH.candidatePairsFromSignatures(sigs, 16, b).count()).sum
    if (enabled("staged_")) {
      val warm = stagedBuild(fixture("documents").limit(64))
      stagedConsumers(warm._2)
    }
    lazy val staged1x = stagedBuild(fixture("documents"))
    lazy val staged10x = stagedBuild(docs10)
    timed("staged_build 1x") { staged1x._2.count() }
    timed("staged_build 10x") { staged10x._2.count() }
    timed("staged_consumers 1x") { stagedConsumers(staged1x._2) }
    timed("staged_consumers 10x") { stagedConsumers(staged10x._2) }

    // -- staged similarity structures (SimilarityStaging shape, r13) --------
    // the trained-index memo's two cost classes: the ONE-TIME train
    // (k-means k=8/iters=2 + full ranked assignment, checkpointed — the
    // artifact writeIvfIndex persists) vs the RECURRING probe cost, three
    // IVF searches at nprobe 1/2/4 off the staged assignment. Consumers
    // re-read only checkpoint blocks: recurring wall tracks probe work and
    // excludes re-training entirely — the train-once/probe-many contract
    // the registered sim family now runs on
    def simStagedBuild(e: DataFrame): DataFrame = {
      val cent = graft.operators.KMeans.train(e, k = 8, iters = 2).localCheckpoint()
      Similarity.assignRanked(e, cent).localCheckpoint()
    }
    def simStagedConsumers(ranked: DataFrame): Long =
      Seq(1, 2, 4).map(np =>
        Similarity.searchRanked(ranked, col("vec_id") % keyOff < 8, 10, np).count()).sum
    if (enabled("sim_staged_")) {
      val warm = simStagedBuild(fixture("embeddings").limit(64))
      simStagedConsumers(warm)
    }
    lazy val simStaged1x = simStagedBuild(fixture("embeddings"))
    lazy val simStaged10x = simStagedBuild(emb10)
    timed("sim_staged_build 1x") { simStaged1x.count() }
    timed("sim_staged_build 10x") { simStaged10x.count() }
    timed("sim_staged_consumers 1x") { simStagedConsumers(simStaged1x) }
    timed("sim_staged_consumers 10x") { simStagedConsumers(simStaged10x) }

    // -- boilerplate span removal (dedup_boilerplate shape) -----------------
    // per-copy suffixed tokens keep each copy's within-source repetition; the
    // (src, h) boilerplate groupBy sees 10x cells of the same per-cell size
    timed("boilerplate 1x") {
      ExactSubstr.boilerplate(fixture("documents"), "doc_id", "text",
        "source", k = 4, minDocs = 2).count()
    }
    timed("boilerplate 10x") {
      ExactSubstr.boilerplate(docs10, "doc_id", "text",
        "source", k = 4, minDocs = 2).count()
    }

    // -- association rules (q_assoc_rules shape) ----------------------------
    // baskets scale 10x while the item vocabulary stays constant — the
    // realistic transactions-grow-catalog-doesn't shape: supports scale with
    // mult (minSupport scales to keep selectivity fixed), the pair space and
    // the broadcastable frequent-item side do not
    lazy val li10p = staged(s"lineitem_pk_x$mult") {
      fixture("lineitem").crossJoin(broadcast(copies))
        .select((col("l_orderkey") + col("copy") * keyOff).as("l_orderkey"),
          col("l_partkey"))
    }
    def assoc(li: DataFrame, minSupport: Long): Long = {
      val p = fixture("part").select(col("p_partkey"), col("p_brand"))
      val baskets = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
      graft.operators.Itemsets.pairRules(baskets, minSupport).count()
    }
    timed("assoc_rules 1x") {
      assoc(fixture("lineitem").select("l_orderkey", "l_partkey"), 400L)
    }
    timed("assoc_rules 10x") { assoc(li10p, 400L * mult) }

    // -- k-core peel (q_kcore shape) ----------------------------------------
    // per-copy user AND item offsets stage 10 disjoint copies of the click
    // graph: the peel's per-round shuffles see 10x edges with identical
    // cascade depth — the linear-in-edges claim, isolated from graph-shape
    // drift
    lazy val clicks10 = staged(s"clicks_x$mult") {
      fixture("events").filter(col("event_type") === "click")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("m"),
          unix_micros(col("ts")).as("ts_us"))
        .crossJoin(broadcast(copies))
        .select((col("user_id") + col("copy") * keyOff).as("user_id"),
          (col("m") + col("copy") * keyOff).as("m"), col("ts_us"))
    }
    def kcore(clicks: DataFrame): Long = {
      val edges = graft.operators.RangeJoin.withinIntervalPairs(
          clicks, "user_id", "m", "ts_us", tolerance = 14400000000L)
        .select(col("id_a").as("a"), col("id_b").as("b")).distinct()
      Graph.kCore(edges, k = 2).count()
    }
    timed("kcore 1x") { kcore(
      fixture("events").filter(col("event_type") === "click")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("m"),
          unix_micros(col("ts")).as("ts_us"))) }
    timed("kcore 10x") { kcore(clicks10) }

    // -- neighbor-Jaccard tie strength (q_node_similarity shape) ------------
    // same disjoint-copy click graph as kcore: the triangle enumeration and
    // per-edge explode see mult× edges with an identical degree profile —
    // the O(m^1.5)-worst-case / linear-here claim, isolated from shape drift
    def nodeSim(clicks: DataFrame): Long = {
      val edges = graft.operators.RangeJoin.withinIntervalPairs(
          clicks, "user_id", "m", "ts_us", tolerance = 1800000000L)
        .select(col("id_a").as("a"), col("id_b").as("b")).distinct()
      val r = Graph.nodeSimilarity(edges)
      val n = r.count()
      r.unpersist(blocking = false)
      n
    }
    timed("node_sim 1x") { nodeSim(
      fixture("events").filter(col("event_type") === "click")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("m"),
          unix_micros(col("ts")).as("ts_us"))) }
    timed("node_sim 10x") { nodeSim(clicks10) }

    // -- JL sketch shortlist + exact rerank (sim_jl_recall shape) -----------
    // probes stay 8 per run (vec_id % keyOff < 8 matches each copy's probe
    // block in the staged input — same convention as ivfpq): the scan side
    // grows mult×, the shortlist and rerank stay shortlist-bound
    def jlRerank(e: DataFrame): Long = {
      val signs = Similarity.planes(32, 64)
      val proj = Similarity.jlProject(e, "vec_id", "embedding", signs).persist()
      val shortlist = Similarity.jlTopK(
        proj.filter(col("vec_id") % keyOff < 8), proj, 50)
      val n = Similarity.rerankExact(shortlist, e, 10).count()
      proj.unpersist(blocking = false)
      n
    }
    timed("jl_rerank 1x") { jlRerank(fixture("embeddings")) }
    timed("jl_rerank 10x") { jlRerank(emb10) }

    // -- per-user window family (ev_sessionize / ev_transitions shape) ------
    // disjoint user copies: 10× users with the SAME per-user event counts,
    // so the gap-rule window and the lead() pass see 10× partitions of
    // unchanged width — the claim that per-user windows scale with users,
    // not with any single partition
    lazy val events10 = staged(s"events_x$mult") {
      fixture("events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .crossJoin(broadcast(copies))
        .select((col("user_id") + col("copy") * keyOff).as("user_id"),
          (col("event_id") + col("copy") * keyOff).as("event_id"),
          col("event_type"), col("ts_us"))
    }
    def windowFamily(ev: DataFrame): Long = {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val gap = 30L * 60 * 1000000
      val sessions = ev
        .withColumn("is_new",
          when(col("ts_us") - lag(col("ts_us"), 1).over(byUser) > gap
            || lag(col("ts_us"), 1).over(byUser).isNull, 1L).otherwise(0L))
        .withColumn("session_idx", sum(col("is_new")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_ev"))
      val transitions = ev
        .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type"), col("to_type")).agg(count(lit(1)).as("n"))
      sessions.count() + transitions.count()
    }
    timed("window_family 1x") { windowFamily(
      fixture("events").select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))) }
    timed("window_family 10x") { windowFamily(events10) }

    // -- CMS join-size estimate (q_join_size_cms shape) ----------------------
    // disjoint-copy keys: the exact join grows mult× and so does the
    // estimate; the SKETCH state stays depth·width regardless — the
    // constant-state claim, measured. Estimate remains one-sided (>= exact)
    // at every scale by construction.
    // width scales WITH the data (the AMS sizing rule: per-lane collision
    // error is ‖A‖₁·‖B‖₁/width, so holding RELATIVE error needs width ∝
    // the L1 product): measured at fixed 64k width the overestimate grew
    // 3.3× → 24× from 1× to 10× data; with width ∝ mult it stays ~3×
    // while the sketch remains kilobytes against terabytes
    def joinSize(o: DataFrame, l: DataFrame, width: Int): Long = {
      import graft.operators.Sketches
      val depth = 4
      val est = Sketches.cmsInnerProduct(
        Sketches.cmsCounters(o, col("o_orderkey"), depth, width),
        Sketches.cmsCounters(l, col("l_orderkey"), depth, width))
        .head().getLong(0)
      val exact = o.join(l, col("o_orderkey") === col("l_orderkey")).count()
      require(est >= exact, s"CMS inner product underestimated: $est < $exact")
      println(f"[sf1]   join_size est=$est exact=$exact over=${est.toDouble / exact}%.3f")
      est
    }
    timed("join_size 1x") { joinSize(
      fixture("orders").select(col("o_orderkey")),
      fixture("lineitem").select(col("l_orderkey")), 65536) }
    timed("join_size 10x") { joinSize(
      orders10.select(col("o_orderkey")), li10.select(col("l_orderkey")),
      65536 * mult) }

    // -- streaming LSH ingest (dedup_lsh_stream shape, single-batch replay) --
    def lshStream(docs: DataFrame): Long = {
      val dir = java.nio.file.Files.createTempDirectory("graft-sf1-lsh")
      docs.select("doc_id", "text").coalesce(4)
        .write.mode("overwrite").parquet(dir.toString)
      val pairs = graft.streaming.IngestStreams.lshCandidates(
        graft.streaming.IngestStreams.bandRows(
          graft.streaming.IngestStreams.readDocuments(spark, dir.toString),
          "doc_id", "text", 3, 16, 4))
      graft.streaming.EventStreams.runToBatch(pairs.toDF(),
        s"sf1_lsh_${System.nanoTime()}",
        org.apache.spark.sql.streaming.OutputMode.Append)
        .select("doc_a", "doc_b").distinct().count()
    }
    timed("lsh_stream 1x") { lshStream(fixture("documents")) }
    timed("lsh_stream 10x") { lshStream(docs10) }

    // -- content-defined chunking (dedup_cdc shape): both cut kernels -------
    // scan-shaped (position hash + per-doc lag window + chunk-hash groupBy);
    // the rolling kernel's advantage should HOLD at 10x — it is per-row
    // compute, not a join — and chunk counts scale linearly with the corpus
    def cdc(docs: DataFrame, rolling: Boolean): Long = {
      val ch = if (rolling)
        graft.operators.Cdc.chunksRolling(docs, "doc_id", "text", 16, 64)
      else graft.operators.Cdc.chunks(docs, "doc_id", "text", 16, 64)
      ch.groupBy(col("ch")).agg(count(lit(1))).count()
    }
    timed("cdc_md5 1x") { cdc(fixture("documents"), rolling = false) }
    timed("cdc_md5 10x") { cdc(docs10, rolling = false) }
    timed("cdc_rolling 1x") { cdc(fixture("documents"), rolling = true) }
    timed("cdc_rolling 10x") { cdc(docs10, rolling = true) }

    // -- streaming CDC chunk index (dedup_cdc_stream shape, single-batch
    // replay): state = one bit per DISTINCT chunk — this measures the
    // index build wall-clock and the emitted (first-arrival) row count as
    // the corpus scales
    def cdcStream(docs: DataFrame): Long = {
      val dir = java.nio.file.Files.createTempDirectory("graft-sf1-cdc")
      docs.select("doc_id", "text").coalesce(4)
        .write.mode("overwrite").parquet(dir.toString)
      val idx = graft.streaming.IngestStreams.cdcChunkIndex(
        graft.streaming.IngestStreams.readDocuments(spark, dir.toString),
        "doc_id", "text", 16, 64)
      graft.streaming.EventStreams.runToBatch(idx.toDF(),
        s"sf1_cdc_${System.nanoTime()}",
        org.apache.spark.sql.streaming.OutputMode.Append).count()
    }
    timed("cdc_stream 1x") { cdcStream(fixture("documents")) }
    timed("cdc_stream 10x") { cdcStream(docs10) }

    // -- DSIR scoring (corpus_dsir shape): explode + 1024-bucket histogram +
    // broadcast llr + per-doc sum — should scale with corpus tokens, the
    // bucket table being size-constant by construction
    def dsir(docs: DataFrame): Long =
      // force the SCORES, not just the row count — a bare count() lets the
      // optimizer skip the scoring sum entirely (measured 0.4 s for x100,
      // an artifact, not a result)
      graft.operators.Selection.dsirWeights(docs, "doc_id", "text",
        col("lang") === "en", 1024)
        .agg(sum(col("dsir_micro")), count(lit(1))).head().getLong(1)
    timed("dsir 1x") { dsir(fixture("documents")) }
    timed("dsir 10x") { dsir(docs10) }

    // -- drift-stats family (ev_user_entropy + ev_psi_weekly shape) ---------
    // disjoint user copies: mult× users, same per-user distributions — the
    // entropy bands replicate with count×mult and PSI's cells stay
    // |weeks|·|types| regardless, so wall-clock should track the one
    // events scan + per-user aggregate
    def driftStats(ev: DataFrame): Long = {
      import graft.operators.Selection.lnMicroSparkSql
      val cells = ev.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("ln_n", expr(lnMicroSparkSql("n")))
      val perUser = cells.groupBy("user_id")
        .agg(sum(col("n")).as("nn"), sum(expr("n * ln_n")).as("s"))
        .withColumn("ln_nn", expr(lnMicroSparkSql("nn")))
        .select(greatest(col("ln_nn") - expr("s div nn"), lit(0L)).as("h_micro"))
      perUser.groupBy(expr("h_micro div 10000")).count().count()
    }
    timed("drift_stats 1x") { driftStats(
      fixture("events").select(col("user_id"), col("event_type"))) }
    timed("drift_stats 10x") { driftStats(
      events10.select(col("user_id"), col("event_type"))) }

    // -- HLL reach (q_reach_hll shape) --------------------------------------
    // disjoint graph copies: mult× nodes and edges, per-node balls
    // unchanged — the register join is O(|E|·256) per round and should
    // scale linearly in edges; state per node stays ≤256 rows at any mult
    def reach(o: DataFrame, l: DataFrame): Long = {
      val cs = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = cs.unionByName(cs.select(col("dst").as("src"), col("src").as("dst")))
      Graph.reachHll(edges, iters = 2)
        .agg(sum(col("reach_pairs_est"))).head().getLong(0)
    }
    timed("reach_hll 1x") { reach(
      fixture("orders").select(col("o_orderkey"), col("o_custkey")),
      fixture("lineitem").select(col("l_orderkey"), col("l_suppkey"))) }
    timed("reach_hll 10x") { reach(orders10, li10) }

    // -- CUSUM change-point (ev_cusum shape) --------------------------------
    // disjoint user copies share event types and days: the (type, day) grid
    // is CONSTANT at any mult (cell counts scale, cell COUNT doesn't) —
    // wall-clock should track the one events scan; window state stays
    // |types|·|days| regardless of mult
    def cusum(ev: DataFrame): Long = {
      val cells = ev.select(expr("ts_us div 86400000000").as("day"), col("event_type"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
      graft.queries.DriftQueries.cusumFromCells(cells).count()
    }
    timed("cusum 1x") { cusum(
      fixture("events").select(col("event_type"), unix_micros(col("ts")).as("ts_us"))) }
    timed("cusum 10x") { cusum(events10) }

    // -- CMS heavy-change (ev_heavy_change shape) ---------------------------
    // the two half-stream sketches stay 4×512 counters at ANY mult — the
    // constant-state claim; the exact side (per-user counts + top-20) scales
    // with users. Probe rows are the top-20 join, fixed size at both scales
    def heavyChange(ev: DataFrame): Long = {
      import graft.operators.Sketches
      val D = 4; val W = 512
      val bounds = ev.agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
        .select(expr("(mn + mx + 1) div 2").as("mid"))
      val tagged = ev.crossJoin(broadcast(bounds))
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
        .join(pb, col("user_id") === pb("key")).drop("key").count()
    }
    timed("heavy_change 1x") { heavyChange(
      fixture("events").select(col("user_id"), unix_micros(col("ts")).as("ts_us"))) }
    timed("heavy_change 10x") { heavyChange(events10) }

    // -- KS length drift (corpus_ks_length shape) ---------------------------
    // per-copy token suffixes don't touch n_chars/source, so the
    // (source, length) grid is CONSTANT and only cell counts grow — the
    // ECDF windows and |sources|² pair join are mult-independent
    def ks(docs: DataFrame): Long =
      graft.queries.DriftQueries.ksFromCells(
        docs.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))).count()
    timed("ks_length 1x") { ks(fixture("documents")) }
    timed("ks_length 10x") { ks(docs10) }

    // -- binned KS stream state (corpus_ks_stream shape, round 11) ----------
    // the state-clamp claim in numbers: complete-mode cells keyed on
    // (source, log2 length bin) — the rows metric IS the streaming state
    // size, which must stay ≤ sources×64 at ANY mult while the fold's wall
    // stays flat (the raw-length key would grow the grid with the distinct
    // length domain)
    def ksBinned(docs: DataFrame): Long = {
      val cells = docs.groupBy(col("source"),
          (length(bin(greatest(col("n_chars"), lit(1L)))) - 1)
            .cast("long").as("len_bin"))
        .agg(count(lit(1)).as("c")).persist()
      val state = cells.count()
      graft.queries.DriftQueries.ksFromCells(cells, valueCol = "len_bin").count()
      cells.unpersist(blocking = false)
      state
    }
    timed("ks_binned_state 1x") { ksBinned(fixture("documents")) }
    timed("ks_binned_state 10x") { ksBinned(docs10) }

    // -- embcos degraded path (the round-11 guard's scale fallback) ---------
    // past the budget-derived brute-force limit dedup_embcos runs the
    // multi-probe sign-LSH candidate path; this measures that path at ×10.
    // Staging multiplies each copy by its own pseudo-random ±1 sign pattern
    // (bit `copy` of i·K, K odd): intra-copy cosines are EXACTLY preserved
    // (both sides flip the same dims, s²=1) while cross-copy cosines
    // decorrelate to ~0 — the embedding analogue of the per-copy token
    // suffix. (A dim ROTATION was tried first and under-decorrelated: the
    // synthetic embeddings are rotationally self-similar — same output as
    // the flips but for the wrong reason.) Output at ×10 is dominated by
    // the random-cosine tail, BY CONSTRUCTION of any ×10 staging: at 64
    // dims random cosines are ~N(0, 1/64), the 0.45 threshold sits at
    // 3.6σ, and ~1.25e9 scrambled cross pairs yield thousands of chance
    // matches (0.70 — 5.6σ — yields 2, but also sits above the fixture's
    // planted dups). The claim this probe makes is therefore about WALL,
    // not output: ~130× more qualifying pairs for ~2× wall, because
    // candidates stay bucket-local — the guard's degraded path absorbs a
    // heavy output term without going cartesian.
    lazy val embFlip10 = staged(s"embeddings_flip_x$mult") {
      fixture("embeddings").crossJoin(broadcast(copies))
        .select((col("vec_id") + col("copy") * keyOff).as("vec_id"),
          expr("transform(embedding, (x, i) -> " +
            "IF(((CAST(i AS BIGINT) * 2654435761) div " +
            "shiftleft(CAST(1 AS BIGINT), copy)) % 2 = 1, -x, x))")
            .as("embedding"))
    }
    def embLsh(e: DataFrame): Long =
      Similarity.embCosPairsGuarded(e, thresholdMicro = 450000L,
        bruteForceRowLimit = 0L).count()
    timed("embcos_lsh 1x") { embLsh(fixture("embeddings")) }
    timed("embcos_lsh 10x") { embLsh(embFlip10) }

    // -- k-anonymity audit (ev_k_anonymity shape) ---------------------------
    // disjoint user copies: mult× users with identical per-user profiles —
    // the user-partitioned windows see mult× partitions of unchanged width,
    // and every copy of a user lands in the SAME equivalence class, so the
    // class-size histogram shifts to s·mult with the same class count
    def kAnon(ev: DataFrame): Long = {
      import org.apache.spark.sql.expressions.Window
      val e = ev.select(col("user_id"), col("event_type"),
        expr("(ts_us div 3600000000) % 24").as("hod"))
      val modal = e.groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(Window.partitionBy("user_id")
          .orderBy(col("n").desc, col("event_type").asc)))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("modal_type"))
      val peak = e.groupBy("user_id", "hod").agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(Window.partitionBy("user_id")
          .orderBy(col("n").desc, col("hod").asc)))
        .filter(col("rn") === 1)
        .select(col("user_id"), expr("hod div 6").as("peak_quarter"))
      val activity = e.groupBy("user_id").agg(count(lit(1)).as("total"))
        .select(col("user_id"), length(bin(col("total"))).cast("long").as("act_band"))
      modal.join(peak, "user_id").join(activity, "user_id")
        .groupBy("modal_type", "peak_quarter", "act_band")
        .agg(count(lit(1)).as("s"))
        .groupBy("s").agg(count(lit(1)).as("n_classes"))
        .count()
    }
    timed("k_anon 1x") { kAnon(
      fixture("events").select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))) }
    timed("k_anon 10x") { kAnon(events10) }

    // -- paragraph ingest gate (dedup_paragraph_incremental probe shape) ----
    // index build and probe timed SEPARATELY: the paragraph signature index
    // amortizes across daily ingests (built once, served from parquet), so
    // the recurring 100 TB cost is the probe — delta paragraphs shingled +
    // banded against index rows, corpus text never re-read. The delta stays
    // 1/10 of each staging, so probe growth tracks index size, the term a
    // daily gate cannot amortize away.
    val newPred = col("doc_id") % 10 === 9
    def paraIdx(tag: String, d: DataFrame): DataFrame = staged(s"parasig_$tag") {
      MinHashLSH.paragraphSigs(d.filter(!newPred), "doc_id", "text",
        paraTokens = 10, shingleN = 3, numPerm = 16)
    }
    def paraProbe(d: DataFrame, idx: DataFrame): Long =
      MinHashLSH.paragraphDedupFromIndex(d.filter(newPred), idx,
        "doc_id", "text", paraTokens = 10, shingleN = 3, numPerm = 16,
        numBands = 4, minMatching = 12, dropRatioMicro = 600000L).count()
    timed("para_index_build 1x") { paraIdx("1x", fixture("documents")).count() }
    timed("para_index_build 10x") { paraIdx(s"x$mult", docs10).count() }
    timed("paragraph_gate 1x") {
      paraProbe(fixture("documents"), paraIdx("1x", fixture("documents"))) }
    timed("paragraph_gate 10x") { paraProbe(docs10, paraIdx(s"x$mult", docs10)) }

    // -- incremental IVF probe (sim_ivf_incremental shape) ------------------
    // same amortization split: k-means training + corpus cell assignment
    // persist once (the writeIvfIndex workflow); the recurring cost is the
    // new batch's O(delta·k) centroid ranking + cell-bounded rerank. Delta
    // is 1/10 of each staging, cells grow 10× in occupancy, not in count.
    def ivfStage(tag: String, e: DataFrame): (DataFrame, DataFrame) = {
      val centPath = s"$work/ivfcent_$tag.parquet"
      val idxPath = s"$work/ivfidx_$tag.parquet"
      if (!new java.io.File(centPath).exists()) {
        val corpus = e.filter(col("vec_id") % 10 =!= 9)
        graft.operators.KMeans.train(corpus, k = 8, iters = 2)
          .write.mode("overwrite").parquet(centPath)
        Similarity.assignRanked(corpus, spark.read.parquet(centPath))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("embedding"), col("cent_id"))
          .write.mode("overwrite").parquet(idxPath)
      }
      (spark.read.parquet(idxPath), spark.read.parquet(centPath))
    }
    def ivfProbe(e: DataFrame, tag: String): Long = {
      val (idx, cent) = ivfStage(tag, e)
      Similarity.ivfIncrementalTopK(e.filter(col("vec_id") % 10 === 9),
        idx, cent, k = 10, nprobe = 2).count()
    }
    if (enabled("ivf_incremental")) { // build both indexes untimed
      ivfStage("1x", fixture("embeddings")); ivfStage(s"x$mult", emb10)
    }
    timed("ivf_incremental 1x") { ivfProbe(fixture("embeddings"), "1x") }
    timed("ivf_incremental 10x") { ivfProbe(emb10, s"x$mult") }

    // -- distributed global rank (Ranks.globalRank vs the global window) ----
    // the scale claim in wall-clock form: the partition-less window funnels
    // every row through ONE task, so its cost grows with the full table on
    // a single thread; the range+offset rank keeps both shuffles parallel.
    // Ranked table: every event row (the frame that grows with the corpus
    // — the DSIR top-slice / recency-rank shape — unlike a per-user rollup
    // whose size is bounded by the user population).
    def rankInput(ev: DataFrame): DataFrame =
      ev.select(col("event_id"), col("user_id"))
    def viaWindow(ev: DataFrame): Long = {
      import org.apache.spark.sql.expressions.Window
      rankInput(ev).withColumn("rnk", row_number().over(
          Window.orderBy(col("event_id").desc, col("user_id").asc)))
        .agg(max(col("rnk")).cast("long")).head().getLong(0)
    }
    def viaRanks(ev: DataFrame): Long = {
      val r = graft.operators.Ranks.globalRank(
        rankInput(ev), Seq(col("event_id").desc, col("user_id").asc), "rnk")
      val n = r.count()
      r.unpersist(blocking = false)
      n
    }
    timed("rank_window 1x") { viaWindow(fixture("events")) }
    timed("rank_window 10x") { viaWindow(events10) }
    timed("rank_distributed 1x") { viaRanks(fixture("events")) }
    timed("rank_distributed 10x") { viaRanks(events10) }

    // -- logreg filter training (LogReg.stage + Staged.trainWeights) ---------
    // scale claim: one staging shuffle of the feature frame, then per GD
    // step one aggregate job over the staged per-doc records; weight state
    // constant at 1025 longs however large the corpus. Expect ~linear wall
    // growth, zero state growth.
    def lrTrainOn(x: DataFrame, n: Long, steps: Int,
                  init: Option[Array[Long]]): Array[Long] = {
      import graft.operators.LogReg
      val staged = LogReg.stage(x, 1024)
      try staged.trainWeights(n, steps, 2L, 1L,
        init = init.orElse(Some(staged.nbInit())))
      finally staged.close()
    }
    def lrFeatures(docs: DataFrame): DataFrame =
      graft.operators.LogReg.features(docs, "doc_id", "text", col("lang") === "en", 1024)
    def lrTrain(docs: DataFrame): Long =
      // nonzero weights: bounded by 1025 at any scale
      lrTrainOn(lrFeatures(docs), docs.count(), 5, None).count(_ != 0L).toLong
    timed("logreg_train 1x") { lrTrain(fixture("documents")) }
    timed("logreg_train 10x") { lrTrain(docs10) }

    // ingest split for the persisted-model workflow: base train is the
    // amortized cost (once), the delta fine-tune is what every ingest pays
    // — it must scale with the DELTA, not the corpus
    def lrSplit(docs: DataFrame): (DataFrame, DataFrame) =
      (docs.filter(col("doc_id") % 10 =!= 9), docs.filter(col("doc_id") % 10 === 9))
    def lrBase(docs: DataFrame): Array[Long] = {
      val (base, _) = lrSplit(docs)
      lrTrainOn(lrFeatures(base), base.count(), 5, None)
    }
    var lrModel: Array[Long] = null
    timed("lr_base_train 1x") { lrModel = lrBase(fixture("documents")); 1025L }
    timed("lr_delta_tune 1x") {
      val (_, delta) = lrSplit(fixture("documents"))
      lrTrainOn(lrFeatures(delta), delta.count(), 2, Some(lrModel))
        .count(_ != 0L).toLong
    }
    // multimodal ingest screens: index build (amortized) vs delta probe
    // (recurring) for the pHash and landmark matchers
    def mmSplit(docs: DataFrame): (DataFrame, DataFrame) =
      (docs.filter(col("doc_id") % 10 =!= 9), docs.filter(col("doc_id") % 10 === 9))
    def phashProbe(docs: DataFrame, tag: String): Long = {
      import graft.operators.{Multimodal, SimHash}
      val imgs = docs.select(col("doc_id"),
        substring(col("text"), 1, 32).cast("binary").as("img"))
      val (base, delta) = mmSplit(imgs)
      def ph(d: DataFrame) = Multimodal.extractMeta(d, "doc_id", "img")
        .select(col("doc_id").as("id"), Multimodal.phash(col("feat")).as("ph"))
      val path = s"$work/phidx_$tag"
      SimHash.writeHashIndex(ph(base), "id", "ph", path)
      SimHash.incrementalNearPairs(ph(delta),
        SimHash.readHashIndex(spark, path).withColumnRenamed("sh", "ph"),
        "id", "ph").count()
    }
    def audioProbe(docs: DataFrame, tag: String, bandDiv: Long): Long = {
      import graft.operators.Multimodal
      val clips = docs.select(col("doc_id"), unhex(md5(col("text"))).as("pcm"))
      val (base, delta) = mmSplit(clips)
      val path = s"$work/lmidx_${tag}_$bandDiv"
      Multimodal.writeLandmarkIndex(
        Multimodal.audioLandmarks(base, "doc_id", "pcm", 6, 4, bandDiv),
        6, 4, bandDiv, path)
      Multimodal.audioFingerprintIncremental(delta,
        Multimodal.readLandmarkIndex(spark, path, 6, 4, bandDiv),
        "doc_id", "pcm", 6, 4, bandDiv, minShared = 3).count()
    }
    timed("phash_gate 1x") { phashProbe(fixture("documents"), "1x") }
    timed("phash_gate 10x") { phashProbe(docs10, s"x$mult") }
    // bandDiv is the landmark-space width — THE scale lever of an inverted
    // index matcher: the coarse 1024 quantization collapses the synthetic
    // energies into ~2 bands (hot buckets → near-cartesian fan-out), the
    // fine 16 quantization spreads them over ~100
    timed("audio_gate_coarse 1x") { audioProbe(fixture("documents"), "1x", 1024L) }
    timed("audio_gate_coarse 10x") { audioProbe(docs10, s"x$mult", 1024L) }
    timed("audio_gate_fine 1x") { audioProbe(fixture("documents"), "1x", 16L) }
    timed("audio_gate_fine 10x") { audioProbe(docs10, s"x$mult", 16L) }
    def videoProbe(docs: DataFrame, tag: String): Long = {
      import graft.operators.Multimodal
      val clips = docs.select(col("doc_id"), unhex(md5(col("text"))).as("vid"))
      val (base, delta) = mmSplit(clips)
      val path = s"$work/vsidx_$tag"
      Multimodal.writeFrameSigIndex(
        Multimodal.videoFrameSigs(base, "doc_id", "vid", 1), 1, path)
      Multimodal.videoNearDupIncremental(delta,
        Multimodal.readFrameSigIndex(spark, path, 1),
        "doc_id", "vid", 1, minShared = 2).count()
    }
    timed("video_gate 1x") { videoProbe(fixture("documents"), "1x") }
    timed("video_gate 10x") { videoProbe(docs10, s"x$mult") }

    timed("lr_base_train 10x") { lrModel = lrBase(docs10); 1025L }
    timed("lr_delta_tune 10x") {
      val (_, delta) = lrSplit(docs10)
      lrTrainOn(lrFeatures(delta), delta.count(), 2, Some(lrModel))
        .count(_ != 0L).toLong
    }

    spark.stop()
  }
}
