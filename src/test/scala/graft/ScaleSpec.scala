package graft

import org.apache.spark.sql.functions._

import graft.core.Readers
import graft.operators.SkewJoin

/** Scale-pattern demonstrations: salted skew joins equal plain joins, and
  * bucketed tables co-locate joins (no shuffle exchange on the join keys).
  */
class ScaleSpec extends SparkSpec {

  test("salted join equals the plain join on a skewed key distribution") {
    import spark.implicits._
    // 90% of rows share one key — the classic hot-key shape
    val large = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 7L, s"v$i"))
      .toDF("k", "v")
    val small = (1 to 300).map(i => (i.toLong, s"dim$i")).toDF("k", "d")
    val plain = large.join(small, "k")
    val salted = SkewJoin.saltedJoin(large, small, "k", salt = 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("with broadcast joins off, the salted join shuffles and equals the plain join") {
    import spark.implicits._
    // salting exists for the shuffle join on a hot key; with broadcasts off
    // it must stay a shuffle join (the salt is not planned away) and agree
    // with the plain shuffle join row for row
    val large = (1 to 2000).map(i => (if (i % 2 == 0) 0L else i.toLong % 100, i.toLong))
      .toDF("k", "x")
    val small = (0 until 100).map(i => (i.toLong, s"dim-$i")).toDF("k", "d")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val plain = large.join(small, "k")
      val salted = SkewJoin.saltedJoin(large, small, "k", salt = 8)
      assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
      salted.collect()
      val plan = salted.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin") && plan.contains("SortMergeJoin"), plan)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("bucketed tables join without a shuffle exchange") {
    // tables land in ./spark-warehouse (gitignored); warehouse.dir is static.
    // DROP only clears the in-memory catalog — a previous JVM's directories
    // survive on disk and CTAS refuses to overwrite them, so remove both.
    val orders = Readers.fixture(spark, sfDir, "orders")
    val lineitem = Readers.fixture(spark, sfDir, "lineitem")
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    Seq("li_bucketed", "ord_bucketed").foreach { t =>
      val dir = new java.io.File(wh, t)
      if (dir.exists()) {
        dir.listFiles().foreach(_.delete()); dir.delete()
      }
    }
    lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_bucketed")
    val joined = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")))
    val plan = joined.queryExecution.executedPlan.toString
    // co-located: neither join side may shuffle on the join key
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"), plan)
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey"), plan)
    assert(joined.count() > 0)
  }

  test("csv/json export dumps verify as full targets against the parquet warehouse") {
    import graft.core.{FileTarget, ParquetTarget, TableSpec, VerifyRun, VerifyConfig}
    // stage csv AND json dumps of two fixture tables, schema sidecars
    // attached (the engine-produced-export contract), then run the actual
    // multi-target verifier: parquet vs csv vs json must agree on every
    // mode, and a perturbed csv row must flip csv against the other two
    val dump = java.nio.file.Files.createTempDirectory("graft-dump").toString
    def stage(table: String, tweak: Boolean = false): Unit = {
      val df0 = Readers.fixture(spark, sfDir, table)
      val df = if (tweak) df0.withColumn("r_name",
        when(col("r_regionkey") === 1, lit("TWEAKED")).otherwise(col("r_name"))) else df0
      def one(fmt: String, write: (org.apache.spark.sql.DataFrame, String) => Unit): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory("graft-one").toString
        write(df.coalesce(1), tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.endsWith(s".$fmt")).get
        val outDir = new java.io.File(s"$dump/$fmt"); outDir.mkdirs()
        java.nio.file.Files.move(part.toPath,
          new java.io.File(outDir, s"$table.$fmt").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.writeString(
          new java.io.File(outDir, s"$table.schema.json").toPath, df.schema.json)
      }
      one("csv", (d, p) => d.write.mode("overwrite").option("header", "true").csv(p))
      one("json", (d, p) => d.write.mode("overwrite").json(p))
    }
    stage("region")
    stage("nation")
    val targets = Seq(
      ParquetTarget("warehouse", sfDir),
      FileTarget("csvdump", s"$dump/csv", "csv"),
      FileTarget("jsondump", s"$dump/json", "json"))
    val specs = Map("region" -> TableSpec("region", Seq("r_regionkey")),
      "nation" -> TableSpec("nation", Seq("n_nationkey")))
    val cfg = VerifyConfig()
    val results = VerifyRun.run(spark, targets, specs, cfg,
      includeTables = Seq("region", "nation"))
    assert(results.count() == 2 * cfg.modes.size * targets.size)
    assert(VerifyRun.inconsistencies(results, targets.size).count() == 0)

    // perturb one csv value: csv must now disagree with parquet+json on
    // region (hash modes), while nation stays clean
    stage("region", tweak = true)
    val results2 = VerifyRun.run(spark, targets, specs, cfg,
      includeTables = Seq("region", "nation"))
    val bad = VerifyRun.inconsistencies(results2, targets.size)
      .select("table").collect().map(_.getString(0)).toSet
    assert(bad.exists(_.equalsIgnoreCase("region")), bad.toString)
    assert(!bad.exists(_.equalsIgnoreCase("nation")), bad.toString)

    // no-sidecar fallback: header+inference on int/string tables must still
    // verify clean against parquet (canon absorbs int-vs-long inference
    // drift); restage region clean first
    stage("region")
    Seq("csv", "json").foreach { fmt =>
      java.nio.file.Files.delete(
        new java.io.File(s"$dump/$fmt/region.schema.json").toPath)
      java.nio.file.Files.delete(
        new java.io.File(s"$dump/$fmt/nation.schema.json").toPath)
    }
    val results3 = VerifyRun.run(spark, targets, specs, cfg,
      includeTables = Seq("region", "nation"))
    assert(VerifyRun.inconsistencies(results3, targets.size).count() == 0,
      "inference fallback diverged from the sidecar schema")
  }

  test("csv and json sources fingerprint identically to parquet (format-independent canon)") {
    import graft.core.{Fingerprints, TableSpec, VerifyConfig}
    val cfg = VerifyConfig()
    val spec = TableSpec("documents", Seq("doc_id"))
    val parquetDigest = Fingerprints.fullDigest(
      Readers.fixture(spark, sfDir, "documents"), spec, cfg)
    val tmp = java.nio.file.Files.createTempDirectory("graft-fmt")
    val docs = Readers.fixture(spark, sfDir, "documents")
    docs.write.mode("overwrite").json(s"$tmp/json")
    val viaJson = spark.read.schema(docs.schema).json(s"$tmp/json")
    assert(Fingerprints.fullDigest(viaJson, spec, cfg) == parquetDigest)
  }

  test("the spread gate reads the planned scan: split counts without starting a job") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // a single-file fixture scan: the planned split count is the scan's own
    val orders = Readers.fixture(spark, sfDir, "orders")
    assert(Readers.plannedPartitions(orders.queryExecution.sparkPlan) ==
      orders.rdd.getNumPartitions)
    // a frame with an exchange, over the spread floor: learning its
    // partitioning must not run the shuffle stages (df.rdd would, under
    // adaptive execution) or any job
    val shuffled = spark.range(0, 500000, 1, 1).repartition(3)
      .groupBy((col("id") % 7).as("g")).count()
    assert(Readers.inputBytes(shuffled) >= Readers.SpreadFloorBytes)
    assert(shuffled.queryExecution.sparkPlan.exists(_.isInstanceOf[ShuffleExchangeLike]))
    val (spreadDf, jobs) = jobsOf(Readers.spread(shuffled, col("g")))
    assert(jobs.isEmpty, jobs)
    assert(spreadDf.collect().length == 7)
  }

  test("the spread rule counts the partitions that hold rows") {
    import org.apache.spark.sql.DataFrame
    val n = spark.sparkContext.defaultParallelism
    val tmp = java.nio.file.Files.createTempDirectory("graft-spread").toString
    // hex digests barely compress: about 72 bytes a row on disk
    def rows(k: Long) = spark.range(0, k, 1, 1).select(col("id"), sha2(col("id").cast("string"), 256).as("h"))
    def parts(df: DataFrame) = Readers.plannedPartitions(df.queryExecution.executedPlan)
    def scanSplits(df: DataFrame) = df.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.inputRDD.getNumPartitions
    }.get
    rows(20000).coalesce(1).write.parquet(s"$tmp/one_group")
    rows(20000).coalesce(1).write.option("parquet.block.size", 128 * 1024).parquet(s"$tmp/many_groups")
    rows(8500).coalesce(1).write.parquet(s"$tmp/single_split")
    spark.conf.set("spark.sql.files.maxPartitionBytes", 256 * 1024)
    try {
      // one row group cut into several byte ranges: only the split holding
      // its midpoint delivers rows, so the scan is as serial as one split
      val one = spark.read.parquet(s"$tmp/one_group")
      assert(scanSplits(one) >= 2 && parts(one) == 1)
      assert(!(Readers.spread(one, col("id")) eq one))
      // the same rows with a row group per split already arrive in parallel
      val many = spark.read.parquet(s"$tmp/many_groups")
      assert(parts(many) * 2 >= n, parts(many))
      assert(Readers.spread(many, col("id")) eq many)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    // one split of about 600 KB: over the floor, so it fans out to every core
    val single = spark.read.parquet(s"$tmp/single_split")
    assert(Readers.inputBytes(single) >= Readers.SpreadFloorBytes)
    assert(scanSplits(single) == 1)
    assert(Readers.spread(single, col("id")).rdd.getNumPartitions == n)
    // an explicit repartition(n) is fixed and counts; the exchange adaptive
    // execution may coalesce counts as one partition
    val fixed = rows(200000).repartition(n)
    assert(parts(fixed) == n && (Readers.spread(fixed, col("id")) eq fixed))
    assert(parts(rows(200000).repartition(col("id"))) == 1)
    val grouped = rows(200000).groupBy(col("h")).count()
    assert(parts(grouped) == 1 && !(Readers.spread(grouped, col("h")) eq grouped))
  }

  test("full mode auto-degrades to the Merkle digest above fullModeRowLimit") {
    import graft.core.{Fingerprints, TableSpec, TestModes, VerifyConfig}
    val spec = TableSpec("orders", Seq("o_orderkey"))
    val orders = Readers.fixture(spark, sfDir, "orders")
    val small = VerifyConfig(fullModeRowLimit = 10L, merkleBuckets = 16)
    val big = small.copy(fullModeRowLimit = Long.MaxValue)
    val degraded = Fingerprints.runModes(Seq(TestModes.Full), orders, spec, small)(TestModes.Full)
    val exact = Fingerprints.runModes(Seq(TestModes.Full), orders, spec, big)(TestModes.Full)
    // past the limit the output IS the Merkle digest, not the exact chain
    assert(degraded == Fingerprints.merkleDigest(orders, spec, small, buckets = 16))
    assert(exact == Fingerprints.fullDigest(orders, spec, big))
    assert(degraded != exact)
    // the single-mode path degrades IDENTICALLY to the multi-mode path: the
    // same VerifyConfig must never yield different "full" outputs depending
    // on call path (fullDigest is what runMode and the pv_report_* single-mode
    // dispatch hit)
    assert(Fingerprints.fullDigest(orders, spec, small) == degraded)
    assert(Fingerprints.runMode(TestModes.Full, orders, spec, small) == degraded)
  }

  test("exact digest streams past streamingCollectRowLimit with an unchanged hash") {
    import graft.core.{Fingerprints, TableSpec, TestModes, VerifyConfig}
    val spec = TableSpec("orders", Seq("o_orderkey"))
    val orders = Readers.fixture(spark, sfDir, "orders")
    // force the toLocalIterator path (limit below the row count) on every
    // digest call site that can know its count: the digest is defined as the
    // ordered MD5 chain, so streaming must be byte-identical to collect
    val streaming = VerifyConfig(streamingCollectRowLimit = 10L)
    val collecting = VerifyConfig(streamingCollectRowLimit = Long.MaxValue)
    assert(orders.count() > 10)
    assert(Fingerprints.fullDigest(orders, spec, streaming) ==
      Fingerprints.fullDigest(orders, spec, collecting))
    val viaStream = Fingerprints.runModes(
      Seq(TestModes.Full, TestModes.Sparse), orders, spec, streaming)
    val viaCollect = Fingerprints.runModes(
      Seq(TestModes.Full, TestModes.Sparse), orders, spec, collecting)
    assert(viaStream == viaCollect)
    assert(viaStream.values.forall(v => v != Fingerprints.Err))
  }

  test("k-means ordered-fold mean auto-degrades to native avg above the row limit") {
    import graft.operators.KMeans
    val emb = Readers.fixture(spark, sfDir, "embeddings")
    val assigned = KMeans.assign(emb, KMeans.initCentroids(emb, 4)).persist()
    try {
      def collectCv(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
        df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val guarded = collectCv(KMeans.meanCentroidsGuarded(assigned, nRows = emb.count(), limit = 1L))
      val viaAvg = collectCv(KMeans.meanCentroidsAvg(assigned))
      val fold = collectCv(KMeans.meanCentroids(assigned))
      // past the limit the output IS the native-avg variant...
      assert(guarded == viaAvg)
      // ...and numerically equivalent to the parity fold (ulp-level drift only)
      assert(guarded.keySet == fold.keySet)
      for ((k, vs) <- guarded; (v, f) <- vs.zip(fold(k)))
        assert(math.abs(v - f) <= 1e-9 * math.max(1.0, math.abs(f)), s"cent $k: $v vs $f")
    } finally assigned.unpersist(blocking = false)
  }

  test("grouped quantiles degrade to the t-digest sketch above the hottest-group limit") {
    import spark.implicits._
    import graft.operators.Quantiles
    // one hot group (150 values) and one cold (10) — the guard keys on the
    // hottest group, not the total, because per-group buffering is the hazard
    val df = ((1 to 150).map(i => ("hot", i.toDouble)) ++
      (1 to 10).map(i => ("cold", i.toDouble))).toDF("g", "v")
    val ps = Seq("p50" -> 0.5, "p90" -> 0.9)
    val (exactDf, d1) = Quantiles.groupedWithMode(df, "g", "v", ps, exactGroupRowLimit = 1000)
    assert(!d1, "below the limit must stay on the exact path")
    val (sketchDf, d2) = Quantiles.groupedWithMode(df, "g", "v", ps, exactGroupRowLimit = 100)
    assert(d2, "a 150-row hottest group must trip a limit of 100")
    // schema is pinned across modes (the cast in the operator)
    assert(sketchDf.schema == exactDf.schema)
    // exact path interpolates: median of 1..150 is 75.5
    val exact = exactDf.filter($"g" === "hot").select("p50").as[Double].head()
    assert(exact == 75.5)
    // sketch path returns a real element near the rank (tight at this n)
    val approx = sketchDf.filter($"g" === "hot").select("p50").as[Double].head()
    assert(math.abs(approx - 75.5) <= 1.5, s"sketch median drifted: $approx")
    // the degraded plan really is the sketch aggregate, not exact percentile
    val plan = sketchDf.queryExecution.analyzed.toString
    assert(plan.contains("approx_percentile"), plan)
    // empty input: no groups, no degrade, empty result
    val (emptyDf, d3) = Quantiles.groupedWithMode(
      df.filter($"g" === "nope"), "g", "v", ps, exactGroupRowLimit = 100)
    assert(!d3 && emptyDf.count() == 0)
  }
}
