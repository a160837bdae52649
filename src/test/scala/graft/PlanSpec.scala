package graft

/** Plan-shape assertions (SURVEY.md §5: test the plan, not SQL text):
  * column pruning reaches the parquet scan, small dimensions broadcast,
  * hot paths stay inside whole-stage codegen.
  */
class PlanSpec extends SparkSpec {

  private def physicalPlan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q1 scan is pruned to the referenced lineitem columns") {
    val plan = physicalPlan("q1_pricing")
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse(fail(s"no FileScan in:\n$plan"))
    // 5 of 11 lineitem columns are referenced; the scan must not read more
    assert(scanCols.split(",").length == 5, scanCols)
    assert(!scanCols.contains("l_shipdate"), scanCols)
    assert(scanCols.contains("l_returnflag"), scanCols)
  }

  test("q1 aggregates map-side (partial) before the shuffle and codegens") {
    val plan = physicalPlan("q1_pricing")
    assert(plan.contains("partial_sum"), plan)
    val codegen = SparkEntry.queries("q1_pricing")(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"))
  }

  test("q3 broadcasts the customer dimension") {
    val plan = physicalPlan("q3_topk_orders")
    assert(plan.contains("BroadcastHashJoin"), plan.linesIterator.take(20).mkString("\n"))
  }

  test("q3 pushes the date filters into the scans") {
    val plan = physicalPlan("q3_topk_orders")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate")
      || plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan)
  }

  test("q3 plans the top-10 as TakeOrderedAndProject, not a global sort") {
    assert(physicalPlan("q3_topk_orders").contains("TakeOrderedAndProject"))
  }

  test("similarity top-k broadcasts the query side (in the staging build); " +
    "the registered query reads the checkpoint") {
    // r13: the exact scan moved into SimilarityStaging's ONE-TIME build —
    // the broadcast pin holds on the fresh formulation, and the registered
    // query must be a slice of the checkpointed staging frame (no rescan)
    import org.apache.spark.sql.functions.col
    val e = graft.core.Readers.fixture(spark, sfDir, "embeddings")
    val fresh = graft.operators.Similarity.topK(e.filter(col("vec_id") < 8), e, 10)
    assert(fresh.queryExecution.executedPlan.toString.contains("Broadcast"))
    val registered = physicalPlan("sim_topk")
    assert(registered.contains("Scan ExistingRDD"), registered)
    assert(!registered.contains("FileScan"), registered)
  }

  test("decontamination broadcasts the eval shingle set (no big-side shuffle)") {
    assert(physicalPlan("corpus_decontaminate").contains("BroadcastHashJoin"))
  }

  test("top-ngrams plans the top-20 as TakeOrderedAndProject, not a global sort") {
    assert(physicalPlan("text_topngrams").contains("TakeOrderedAndProject"))
  }

  test("tf-idf aggregates map-side before both shuffles (tf and df)") {
    val plan = physicalPlan("text_tfidf")
    // two aggregation chains (per-doc tf, per-term df) → two partial stages;
    // a single match would pass with the df combine regressed
    val partials = "partial_count".r.findAllIn(plan).size
    assert(partials >= 2, s"$partials partial_count stages in:\n" +
      plan.linesIterator.filter(_.contains("HashAggregate")).mkString("\n"))
  }

  test("sequence-packing window is partitioned (no single-partition global cumsum)") {
    val plan = physicalPlan("corpus_pack_sequences")
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, plan)
    assert(windows.forall(_.contains("stratum")),
      s"cumsum window must partition by (stratum, shard):\n${windows.mkString("\n")}")
  }

  test("quantized top-k broadcasts the query side") {
    assert(physicalPlan("sim_topk_int8").contains("Broadcast"))
  }

  test("salted join keeps the replicated small side broadcastable") {
    // salt×|supplier| is still dimension-sized — a sort-merge join here would
    // mean salting defeated the broadcast and added a fact-side shuffle
    assert(physicalPlan("q_salted_join").contains("BroadcastHashJoin"))
  }

  test("semantic dedup pair join is cluster-bounded (hash join on cent_id, no cartesian)") {
    val plan = physicalPlan("dedup_semantic")
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(25).mkString("\n"))
    // the centroid list is tiny → assignment broadcasts; the within-cluster
    // self-join keys on cent_id (equi-join, never an all-pairs product)
    assert(plan.contains("Broadcast"), plan.linesIterator.take(25).mkString("\n"))
  }

  test("column diff is one PK-keyed join carrying canonical strings, no cartesian") {
    val plan = physicalPlan("pv_diff_columns")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("o_orderkey"), plan)
  }

  test("stats digest is one pruned scan + partial agg — no sort, no join, one exchange") {
    import graft.core.{Fingerprints, Fixtures, Readers, VerifyConfig}
    val li = Readers.fixture(spark, sfDir, "lineitem")
    val spec = Fixtures.specs("lineitem")
    val cfg = VerifyConfig()
    val byName = li.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = graft.canon.Canon.hashColumnOrder(Fingerprints.hashableColumns(li, spec))
    val pieces = cols.flatMap { name =>
      import org.apache.spark.sql.functions._
      val canon = graft.canon.Canon.canonText(col(name), byName(name), cfg.tsPrecision)
      Seq(lit("|" + name + "|"), count(col(name)).cast("string"),
        lit("|"), coalesce(min(canon), lit("")), lit("|"), coalesce(max(canon), lit("")))
    }
    import org.apache.spark.sql.functions._
    val agg = li.agg(count(lit(1)).as("n"), md5(concat(pieces: _*)).as("fp"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("partial_min"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Sort "), plan)
    assert("Exchange".r.findAllIn(plan).length == 1, plan) // SinglePartition combine only
  }

  test("PQ/ADC scoring joins the code scan against a BROADCAST lookup table") {
    val plan = physicalPlan("sim_pq_topk")
    // big side = (vec_id, sub, code) scan; LUT = |queries|·m·codebook rows
    assert(plan.contains("BroadcastHashJoin"), plan.linesIterator.take(25).mkString("\n"))
    // the ADC sum combines map-side before the (query, vector) shuffle
    assert(plan.contains("partial_sum"), plan.linesIterator.take(25).mkString("\n"))
  }

  test("IVF-PQ gates and scores through broadcast joins with map-side sums") {
    val plan = physicalPlan("sim_ivfpq")
    // probed-cells gate, per-query LUT, and centroid joins all broadcast;
    // the big side is only ever the (vec_id, sub, code) scan
    assert(plan.contains("BroadcastHashJoin"), plan.linesIterator.take(25).mkString("\n"))
    assert(!plan.contains("SortMergeJoin"), plan.linesIterator.take(25).mkString("\n"))
    assert(plan.contains("partial_sum"), plan.linesIterator.take(25).mkString("\n"))
  }

  test("substring dedup broadcasts the dup-hash set; no all-pairs product") {
    val plan = physicalPlan("dedup_substring")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("CMS point queries broadcast the counter table; scans prune to the key") {
    val plan = physicalPlan("ev_topk_cms")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("FileScan parquet [user_id"), plan) // key-only scan
  }

  test("chunking shuffles nothing but the output order") {
    val plan = physicalPlan("corpus_chunk")
    assert(!plan.contains("Join"), plan)
    // the only exchange is the registered query's deterministic orderBy
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("rangepartitioning"), plan)
  }

  test("z-order layout is one pruned scan + partial agg; interleave stays in codegen") {
    val plan = physicalPlan("q_zorder_layout")
    // only the two interleaved keys are read from the 11-column table
    assert(plan.contains("FileScan parquet [l_partkey,l_suppkey]")
      || plan.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_min")
      || plan.contains("Partial"), plan)
    assert(!plan.contains("Join"), plan)
    // the bit lanes fold into whole-stage codegen over the scan
    val codegen = SparkEntry.queries("q_zorder_layout")(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"))
  }

  test("triangle enumeration is equi-joins only — no cartesian, no nested loop") {
    val plan = physicalPlan("q_triangles")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
    assert(plan.contains("LeftSemi"), plan) // closing edge is a semi-join
  }

  test("node similarity stays equi-join: triangle closure + count, no adjacency cartesian") {
    val plan = physicalPlan("q_node_similarity")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
    assert(plan.contains("LeftSemi"), plan) // the closing-edge semi-join survives
  }

  test("JL recall broadcasts the probe sketches and reranks only the shortlist") {
    val plan = physicalPlan("sim_jl_recall")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      plan.linesIterator.take(25).mkString("\n"))
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(25).mkString("\n"))
  }

  test("join-size estimate joins two broadcast-sized counter tables, never the raw sides") {
    val plan = physicalPlan("q_join_size_cms")
    // the sketch-side join must be broadcast (counters are depth·width rows);
    // the single permitted nested-loop is the 1-row × 1-row (est, exact)
    // scalar combine — a second one would mean a raw-side blowup
    assert(plan.contains("BroadcastHashJoin"), plan.linesIterator.take(25).mkString("\n"))
    assert(!plan.contains("CartesianProduct"), plan)
    val nlj = "BroadcastNestedLoop".r.findAllIn(plan).size
    assert(nlj <= 1, s"$nlj nested-loop joins (only the scalar combine is allowed):\n$plan")
  }

  test("PQ rerank scores only the shortlist: raw-vector side joins a BROADCAST pair set") {
    val plan = physicalPlan("sim_pq_rerank")
    assert(plan.contains("BroadcastHashJoin"), plan.linesIterator.take(25).mkString("\n"))
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(25).mkString("\n"))
  }

  test("compaction plan prunes the scan and reuses the window's partitioning") {
    val plan = physicalPlan("q_compaction_bins")
    // only (source, doc_id, text) leave the 5-column documents scan
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>"), plan)
    assert(plan.contains("Window"), plan)
    assert(plan.contains("Partial") || plan.contains("partial_count"), plan)
    assert(!plan.contains("Join"), plan)
    // one data shuffle: the group-by reuses the window's hash(dir)
    // partitioning (the only other exchange is the final ORDER BY's range)
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"want 1 hash exchange, got $exchanges:\n$plan")
  }

  test("entity resolution is blocked equi-joins; distance filters inside the join tasks") {
    val plan = physicalPlan("q_entity_resolution")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
    // blocking keys are the join keys; levenshtein is pushed into each
    // join's post-condition (never the lookup key), so the dedup exchange
    // above the Union shuffles only matching pairs
    val joinLines = plan.linesIterator.filter(_.contains("HashJoin")).toSeq
    assert(joinLines.size == 2 && joinLines.forall(_.contains("levenshtein")), plan)
    assert(plan.contains("Union"), plan)
  }

  test("multi-touch attribution joins on user only — no cartesian, narrow rollup") {
    val plan = physicalPlan("ev_attribution_multi")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
    assert(plan.contains("Window"), plan)
    assert(plan.contains("Partial") || plan.contains("partial_count"), plan)
  }

  test("priority sampling plans as TakeOrdered partials, not a global sort") {
    val plan = physicalPlan("corpus_sample_weighted")
    // per-partition top-k partials: only k rows per partition cross the wire
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("incremental dedup is banded equi-joins only; no full-corpus cartesian") {
    val plan = physicalPlan("dedup_incremental")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
    // candidate generation joins band tuples (band_idx, band_hash) — the
    // narrow index relation — never raw text or signature arrays
    assert(plan.contains("band_hash"), plan)
  }

  test("operators carry no global sort (ordering is the registered query's job)") {
    import org.apache.spark.sql.functions.{col, unix_micros}
    import graft.core.Readers
    import graft.operators.{MinHashLSH, RangeJoin, SimHash, Vocab}
    // global=true Sort nodes only: window ranks legitimately plan
    // partition-LOCAL sorts (global=false), which shuffle nothing extra
    def assertNoGlobalSort(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val sorts = df.queryExecution.optimizedPlan.collect {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global => s
      }
      assert(sorts.isEmpty, s"$what plans a global Sort: ${sorts.mkString("; ")}")
    }
    val docs = Readers.fixture(spark, sfDir, "documents").limit(200)
    assertNoGlobalSort(MinHashLSH.candidatePairs(docs, "doc_id", "text", 3, 16, 4),
      "LSH candidates")
    assertNoGlobalSort(SimHash.nearPairs(
      SimHash.simhashDf(docs, "doc_id", "text"), "id", "simhash"), "SimHash pairs")
    val ev = Readers.fixture(spark, sfDir, "events").limit(500)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
    assertNoGlobalSort(
      RangeJoin.withinIntervalPairs(ev, "event_id", "user_id", "ts_us", 300000000L),
      "range-join pairs")
    assertNoGlobalSort(Vocab.tfIdfTopK(docs, "doc_id", "text", 3), "tf-idf top-k")
    assertNoGlobalSort(Vocab.invertedIndex(docs, "doc_id", "text"), "inverted index")
    val pairs = MinHashLSH.candidatePairs(docs, "doc_id", "text", 3, 16, 4)
      .filter(col("est_jaccard") >= 0.5).select("doc_a", "doc_b")
    assertNoGlobalSort(graft.operators.DedupClusters.propagate(pairs), "label propagation")
  }

  test("bucketed co-located join runs exchange-free (the 100 TB co-location path)") {
    // the claim every repartition/bucketing note in the operator docs leans
    // on, pinned for real: two tables bucketed on the join key by the SAME
    // bucket count join without ANY shuffle exchange — at cluster scale this
    // is the difference between moving both fact tables and moving nothing
    import org.apache.spark.sql.functions.col
    import graft.core.Readers
    val wh = java.nio.file.Files.createTempDirectory("graft-bucketed")
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Readers.fixture(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_quantity").write
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/li").mode("overwrite").saveAsTable("b_li")
      Readers.fixture(spark, sfDir, "orders")
        .select("o_orderkey", "o_custkey").write
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/ord").mode("overwrite").saveAsTable("b_ord")
      val joined = spark.table("b_li")
        .join(spark.table("b_ord"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      // and the co-located plan computes the same join as the plain one
      val expect = Readers.fixture(spark, sfDir, "lineitem")
        .join(Readers.fixture(spark, sfDir, "orders"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
      spark.sql("DROP TABLE IF EXISTS b_li")
      spark.sql("DROP TABLE IF EXISTS b_ord")
    }
  }

  test("boilerplate screen is equi-joins on (src, h) — no all-pairs product") {
    val plan = physicalPlan("dedup_boilerplate")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("temperature mix attaches keep rates through broadcast joins") {
    // the single-row wsum fold crossJoins a broadcast 1-row frame (planned
    // as a broadcast nested loop of one row — fine); the doc-side rate
    // attach must be a BroadcastHashJoin, never a shuffle of the corpus
    val plan = physicalPlan("corpus_mix_temperature")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled for a #sources-row join:\n$plan")
  }

  test("best-rep selection joins components to scores without a cartesian") {
    val plan = physicalPlan("dedup_best_rep")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("partitioned fact scan dynamic-prunes from the dim filter (the DPP path)") {
    // the partition-pruning claim pinned end-to-end: a fact table laid out
    // with directory partitions, joined on the partition column against a
    // FILTERED small side, must plan a DynamicPruning subquery on the fact
    // scan — at 100 TB this is the difference between listing every
    // partition and touching only the months the dim filter selects
    import org.apache.spark.sql.functions.{col, crc32, date_format}
    import graft.core.Readers
    val wh = java.nio.file.Files.createTempDirectory("graft-dpp")
    try {
      Readers.fixture(spark, sfDir, "orders")
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .write.partitionBy("o_month")
        .option("path", s"$wh/fact").mode("overwrite").saveAsTable("dpp_fact")
      val nMonths = spark.table("dpp_fact").select("o_month").distinct().count()
      assert(nMonths > 3, s"fixture spans only $nMonths months; DPP test needs several")
      // dim: every month tagged, filter selects exactly one tag
      spark.table("dpp_fact").select("o_month").distinct()
        .withColumn("tag", (crc32(col("o_month")) % 2).cast("int"))
        .write.option("path", s"$wh/dim").mode("overwrite").saveAsTable("dpp_dim")
      // filter on the NON-join column: a filter on o_month itself would
      // constant-propagate through the join equality and prune STATICALLY —
      // only a runtime subquery can prune from the tag filter
      val joined = spark.table("dpp_fact")
        .join(spark.table("dpp_dim").filter(col("tag") === 1), "o_month")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"), plan)
      // and the pruned plan still computes the right rows
      val keepMonths = spark.table("dpp_dim").filter(col("tag") === 1)
        .select("o_month").collect().map(_.getString(0)).toSet
      val expect = spark.table("dpp_fact")
        .filter(col("o_month").isin(keepMonths.toSeq: _*)).count()
      assert(keepMonths.nonEmpty && joined.count() == expect)
    } finally {
      spark.sql("DROP TABLE IF EXISTS dpp_fact")
      spark.sql("DROP TABLE IF EXISTS dpp_dim")
    }
  }

  test("prefix-filter Jaccard join stays equi-join — no cartesian, no all-pairs") {
    val plan = physicalPlan("dedup_jaccard_prefix")
    // candidate generation must key on the prefix token (inverted-index
    // equi-join); only the brute-force ORACLE is allowed to touch all pairs
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("PPJoin guard: broadcast under the measured byte budget, shuffle-hash past it") {
    // the embcos-guard convention, plan-pinned for BOTH paths: the prefix
    // index broadcasts only when its MEASURED size fits the budget — at
    // 100 TB the index is corpus-sized and must hash-shuffle, never sort
    // and never broadcast (pre-r12 the broadcast came from a Catalyst
    // stats underestimate)
    import graft.operators.PrefixJaccard
    import graft.queries.DedupStaging
    // the registered dedup_jaccard_prefix persist()s its pair frame; drop it
    // or the CacheManager substitutes that cached plan for both paths here
    spark.catalog.clearCache()
    val docs = DedupStaging.prefixDocs(spark, sfDir)
    def candJoinLine(plan: String, marker: String): Boolean =
      plan.linesIterator.exists(l => l.contains(marker) && l.contains("pt#"))
    val under = PrefixJaccard.pairsFromDocs(docs, 1, 2, budgetBytes = Long.MaxValue)
    val pUnder = under.queryExecution.executedPlan.toString
    assert(candJoinLine(pUnder, "BroadcastHashJoin"),
      s"expected the candidate self-join on pt to broadcast under budget:\n$pUnder")
    val over = PrefixJaccard.pairsFromDocs(docs, 1, 2, budgetBytes = 0L)
    val pOver = over.queryExecution.executedPlan.toString
    assert(candJoinLine(pOver, "ShuffledHashJoin"),
      s"expected the candidate self-join on pt to hash-shuffle past budget:\n$pOver")
    assert(!pOver.contains("BroadcastNestedLoop") && !pOver.contains("CartesianProduct"), pOver)
    // both paths stay value-identical (the guard is a plan choice, never a
    // semantic one)
    assert(under.collect().toSet == over.collect().toSet)
  }

  test("selective shuffle join injects a runtime bloom filter on the big side") {
    // the row-group-skipping sibling of the DPP pin: when the build side of
    // a shuffle join is selective, Spark's runtime filter should stamp a
    // BloomFilterMightContain predicate onto the probe-side scan — at
    // 100 TB that's the difference between shuffling every lineitem row and
    // shuffling only rows whose key can possibly join. Broadcast is
    // disabled and the injection thresholds dropped to fixture scale; the
    // assertion is on the PLAN (the feature wiring), values re-checked
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      import org.apache.spark.sql.functions.col
      import graft.core.Readers
      val li = Readers.fixture(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
      val sel = Readers.fixture(spark, sfDir, "orders")
        .filter(col("o_totalprice") > 100000.0).select("o_orderkey")
      val joined = li.join(sel, li("l_orderkey") === sel("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("BloomFilter"), plan)
      assert(joined.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("footer-stats aggregate pushdown: min/max/count answered from parquet metadata") {
    // the pv_stats scale note pinned for real: a bare min/max/count over a
    // parquet scan can be answered from row-group FOOTER statistics without
    // decoding a single data page (the V2 read path) — at 100 TB the stats
    // screen then costs a metadata pass, not a table scan
    val conf = spark.conf
    val saved = Seq("spark.sql.parquet.aggregatePushdown",
      "spark.sql.sources.useV1SourceList").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.parquet.aggregatePushdown", "true")
      // parquet must leave the V1 list for the V2 pushdown rule to apply
      conf.set("spark.sql.sources.useV1SourceList",
        "avro,csv,json,kafka,orc,text")
      import org.apache.spark.sql.functions.{col, count, max, min}
      val agg = spark.read.parquet(s"$sfDir/orders.parquet")
        .agg(min(col("o_orderkey")), max(col("o_orderkey")), count(col("o_orderkey")))
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation"), plan)
      val r = agg.head()
      assert(r.getLong(0) < r.getLong(1) && r.getLong(2) > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("association rules: apriori-pruned basket pairs stay equi-join, map-side counts") {
    import org.apache.spark.sql.functions.col
    import graft.core.Readers
    val li = Readers.fixture(spark, sfDir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val p = Readers.fixture(spark, sfDir, "part").select(col("p_partkey"), col("p_brand"))
    val baskets = li.join(org.apache.spark.sql.functions.broadcast(p),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
    val df = graft.operators.Itemsets.pairRules(baskets, minSupport = 5L)
    val plan = df.queryExecution.executedPlan.toString
    // the only permitted product is the broadcast of the 1-row basket count;
    // the pair step is a basket-keyed aggregate + in-task HOF pair
    // generation (r13: replaced the basket self-join), so no join in the
    // plan may be a product and counts must stay map-side partial
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
  }

  test("k-core peel round is semi-joins + a partial-combined degree count") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val core = graft.operators.Graph.kCore(edges, k = 2)
    val plan = core.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("profiler is one stacked aggregate pair — no join back to the base table") {
    val plan = physicalPlan("pv_profile")
    // figures and mode both derive from the persisted (col_name, value)
    // counts frame — visible as InMemoryTableScans on BOTH consumers — so
    // the base table feeds exactly one Generate+aggregate chain (plan-text
    // scan counting is unreliable under AQE's initial-plan copies; the
    // cache reuse is the structural witness)
    assert(plan.contains("Generate explode"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert("InMemoryTableScan \\[col_name".r.findAllIn(plan).length >= 2, plan)
  }

  test("dim stats is a single narrow aggregate — no join, no window, no global sort") {
    import org.apache.spark.sql.functions.col
    import graft.core.Readers
    val df = graft.operators.Similarity.dimStats(
      Readers.fixture(spark, sfDir, "embeddings").limit(100))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("partial_sum"), plan)
    val sorts = df.queryExecution.optimizedPlan.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global => s
    }
    assert(sorts.isEmpty, s"dimStats plans a global Sort: $sorts")
  }

  test("DSIR scoring joins the llr table BROADCAST and partial-sums per doc") {
    // pin the OPERATOR plan, not the registered query: corpus_dsir_weights
    // serves the per-fixture-dir checkpointed table (a plain RDD scan), so
    // the shape being pinned lives in Selection.dsirWeights itself
    import org.apache.spark.sql.functions.col
    import graft.core.Readers
    val df = graft.operators.Selection.dsirWeights(
      Readers.fixture(spark, sfDir, "documents"), "doc_id", "text",
      col("lang") === "en", 1024, carryCols = Seq("lang"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_sum") || plan.contains("partial_count"), plan)
    // candidate generation must never cartesian the corpus
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("heavy-change probes broadcast both sketches; no cartesian anywhere") {
    val plan = physicalPlan("ev_heavy_change")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("KS pair join is keyed on the grid value, never a source cartesian") {
    val plan = physicalPlan("corpus_ks_length")
    // the |sources|² fan-out must ride the n_chars equi-join
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
  }

  test("entropy bands aggregate map-side; no window over raw events") {
    val df = SparkEntry.queries("ev_user_entropy")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"entropy should need no window: $windows")
  }

  test("reachHll estimates stay in one row per node (no register explode downstream)") {
    val df = SparkEntry.queries("q_reach_hll")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the estimator must run as HOF expressions over the packed array —
    // a Generate (explode) would mean the 256-way row blowup came back
    assert(!plan.contains("Generate explode"), plan)
  }

  test("rolling CDC plans the codegen kernel, not a position explode") {
    val rolling = physicalPlan("dedup_cdc_rolling")
    assert(rolling.contains("graft_cdc_cuts"), rolling)
    // the md5-window form pays a position-sequence explode the kernel doesn't
    assert(!rolling.contains("sequence("), rolling)
    val md5Form = physicalPlan("dedup_cdc_savings")
    assert(md5Form.contains("sequence("), md5Form)
  }

  test("paragraph dedup stays banded equi-join at paragraph granularity — no all-pairs") {
    // the two-pass recipe multiplies the unit count (~tokens/paraTokens) —
    // a cartesian anywhere would be quadratically worse than at doc
    // granularity, so the no-all-pairs pin matters MORE here
    val plan = physicalPlan("dedup_paragraph")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.linesIterator.take(30).mkString("\n"))
  }

  test("incremental paragraph gate stays banded — no all-pairs at ingest either") {
    // the ingest twin multiplies unit count the same way AND runs daily —
    // a cartesian here would be a recurring cost, not a one-off
    val plan = physicalPlan("dedup_paragraph_incremental")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.linesIterator.take(30).mkString("\n"))
  }

  test("globalRank plans only partition-local windows — no single-partition sort") {
    // the scale property of the DSIR-selection rank rewrite, asserted on
    // the plan: every Window node must carry a partition spec (an empty
    // one means Spark funnels the whole table through one task)
    import org.apache.spark.sql.functions.col
    import graft.core.Readers
    val scored = Readers.fixture(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"))
    // ascending order + 16 partitions: deliberately DISTINCT from the
    // OperatorSpec equality fixture so no cached rank frame from another
    // suite can be cache-substituted over this plan (which would swallow
    // the Window node this test inspects)
    val (lazyOut, ranged) = graft.operators.Ranks.globalRankLazy(
      scored, Seq(col("n_chars").asc, col("doc_id").asc), "rnk", 16)
    try {
      val wins = lazyOut.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(wins.nonEmpty, "rank frame lost its Window node")
      assert(wins.forall(_.partitionSpec.nonEmpty),
        "a Window node has no partition spec — single-partition global sort")
    } finally ranged.unpersist(blocking = false)
  }

  test("incremental IVF probe joins cell-bounded: index side hash-joins the broadcast probe set") {
    // the O(delta·k + cell-bounded probe) claim in plan form: the scoring
    // join must key on cent_id (cell-bounded candidates), and the corpus
    // side must never cartesian against the new batch
    val plan = physicalPlan("sim_ivf_incremental")
    val keys = "BroadcastHashJoin \\[(\\w+)#".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(keys.contains("cent_id"), s"no cell-keyed broadcast join in $keys:\n" +
      plan.linesIterator.take(30).mkString("\n"))
  }

  test("language classifiers broadcast HASHED feature tables, never a vocabulary-sized side") {
    // the r9 verdict's last two mandatory-broadcast hazards: both supervised
    // language classifiers must key their scoring join on the hashed bucket
    // column `f` (the DSIR feature-hashing trick) so the broadcast side is
    // ≤ buckets × classes rows at ANY corpus vocabulary. The pin: every
    // BroadcastHashJoin in both plans joins on `f` — a regression back to
    // raw-token keys would surface as a join on `t`
    for (q <- Seq("text_lang_classifier", "text_nb_langid")) {
      val plan = physicalPlan(q)
      val joins = "BroadcastHashJoin \\[(\\w+)#".r.findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(joins.contains("f"), s"$q: no bucket-keyed broadcast join in keys $joins:\n$plan")
      assert(!joins.contains("t"), s"$q: vocabulary-keyed broadcast is back: $joins")
    }
    // the boundedness guarantee itself, exercised past fixture scale: a
    // 100k-distinct-token vocabulary still collapses to ≤ LangFeatureBuckets
    // features — the property that makes the broadcast safe at web scale
    import org.apache.spark.sql.functions._
    val distinctF = spark.range(100000)
      .select(queries.TextQueries.langFeature(
        concat(lit("tok"), col("id").cast("string"))).as("f"))
      .distinct().count()
    assert(distinctF <= queries.TextQueries.LangFeatureBuckets,
      s"hashed feature space leaked past the bucket bound: $distinctF")
  }

  test("LR scorecard scores staged records: no join, no raw-bigram shuffle") {
    // the trained weights (1025 longs) ship to the scoring tasks, which
    // read the staged per-document feature records: the plan joins
    // nothing (never a vocabulary-sized side) and nothing in it may
    // shuffle on a raw-token column
    val plan = physicalPlan("text_lr_scorecard")
    assert(plan.contains("Scan ExistingRDD") && !plan.contains("Join"),
      plan.linesIterator.take(30).mkString("\n"))
    assert(!plan.contains("hashpartitioning(bg#") && !plan.contains("hashpartitioning(g#"),
      "scoring shuffles on a raw-bigram column")
  }

  test("margin mining plans the top-20 as TakeOrderedAndProject, not a global sort") {
    val plan = physicalPlan("text_lr_margin_mining")
    assert(plan.contains("TakeOrderedAndProject"),
      plan.linesIterator.take(20).mkString("\n"))
  }

  test("the collected sorted pass plans no exchange over the kept projection") {
    // a spread input: the projection's own plan holds the spread's exchange,
    // and the pass that reads the kept rows must add none (no range
    // sampling, no shuffle, no global sort) — only a per-partition sort
    import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.functions.{col, concat, lit}
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.core.{Fingerprints, Readers, TableSpec, TestModes, VerifyConfig}
    val collected = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "collect") collected.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val big = spark.range(0, 200000, 1, 1).select(col("id"), concat(lit("p"), col("id")).as("s"))
    assert(!(Readers.spread(big, col("id")) eq big))
    spark.listenerManager.register(listener)
    try {
      Fingerprints.runModes(TestModes.All, big, TableSpec("t", Seq("id")), VerifyConfig())
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val plans = scala.jdk.CollectionConverters.CollectionHasAsScala(collected).asScala.toSeq
    assert(plans.size == 1, plans.mkString("\n\n"))
    val plan = plans.head
    assert(plan.find(_.isInstanceOf[RDDScanExec]).nonEmpty, plan) // the kept rows
    assert(plan.find(_.isInstanceOf[SortExec]).nonEmpty, plan)
    // AdaptiveSparkPlanExec would hide an exchange from `find`; neither may appear
    assert(plan.find(p => p.isInstanceOf[Exchange] || p.isInstanceOf[AdaptiveSparkPlanExec]).isEmpty,
      plan)
  }
}
