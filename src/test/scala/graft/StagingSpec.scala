package graft

import org.apache.spark.sql.functions.col

import graft.core.Readers
import graft.operators.{MinHashLSH, SimHash}
import graft.queries.DedupStaging

/** The shared dedup staging memo (r12): the staged shingle/signature/simhash
  * frames must be value-identical to freshly-computed ones (the memo is a
  * performance device, never a semantic one), and the explicit release hook
  * must actually drop the checkpoint blocks — the staging-cache lifecycle
  * contract the r11 verdict asked to pin.
  */
class StagingSpec extends SparkSpec {

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select("doc_a", "doc_b", "n_matching").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("staged signatures are value-identical to a fresh signature pass") {
    val docs = Readers.fixture(spark, sfDir, "documents")
    val fresh = MinHashLSH.signatures(docs, "doc_id", "text",
      DedupStaging.ShingleN, DedupStaging.NumPerm)
    def sigSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getLong(0), r.getSeq[Long](1).toList)
      }.toSet
    val staged = DedupStaging.signatures(spark, sfDir)
    assert(sigSet(staged) == sigSet(fresh))
    fresh.unpersist(blocking = false)
  }

  test("staged candidate pairs equal the from-text pipeline's") {
    val docs = Readers.fixture(spark, sfDir, "documents")
    val fresh = MinHashLSH.candidatePairs(docs, "doc_id", "text",
      DedupStaging.ShingleN, DedupStaging.NumPerm, DedupStaging.NumBands)
    assert(pairSet(DedupStaging.candidatePairs(spark, sfDir)) == pairSet(fresh))
  }

  test("staged simhash frame is value-identical to a fresh pass") {
    val docs = Readers.fixture(spark, sfDir, "documents")
    def shSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "simhash").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shSet(DedupStaging.simhashes(spark, sfDir)) ==
      shSet(SimHash.simhashDf(docs, "doc_id", "text")))
  }

  test("staged clusters equal a fresh closure over the same gated candidates") {
    val fresh = graft.operators.DedupClusters.components(
      DedupStaging.candidatePairs(spark, sfDir)
        .filter(col("est_jaccard") >= 0.5).select("doc_a", "doc_b"))
    def compSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(compSet(DedupStaging.clusters(spark, sfDir)) == compSet(fresh))
  }

  test("release() drops the checkpoint blocks deterministically; next access rebuilds") {
    // force the staging (clusters memo included) to exist, then snapshot
    // the RDD-level persists
    DedupStaging.clusters(spark, sfDir).count()
    val nDocs = DedupStaging.signatures(spark, sfDir).count()
    val withStaging = spark.sparkContext.getPersistentRDDs.size
    DedupStaging.release(sfDir)
    val afterRelease = spark.sparkContext.getPersistentRDDs.size
    assert(afterRelease < withStaging,
      s"release() must unpersist the staged blocks ($withStaging -> $afterRelease)")
    // the memo rebuilds on next access and stays value-correct
    assert(DedupStaging.signatures(spark, sfDir).count() == nDocs)
    assert(DedupStaging.shingles(spark, sfDir)
      .filter(col("id") === 0L).count() == 1L)
  }

  test("Staging releases blocks via the staged frames' own RDD handles, " +
    "walking case classes and collections") {
    // r12 advisor items: no global getPersistentRDDs snapshot diff (a
    // concurrent persist can never be captured), and a replaced entry's
    // blocks are dropped — pinned here on the generic utility every memo
    // now runs on
    case class Staged2(a: org.apache.spark.sql.DataFrame,
                       bs: Seq[org.apache.spark.sql.DataFrame], n: Long)
    val memo = new graft.core.Staging[Staged2]()((s, _) =>
      Staged2(s.range(10).toDF("x").localCheckpoint(),
        Seq(s.range(4).toDF("y").localCheckpoint()), 7L))
    val before = spark.sparkContext.getPersistentRDDs.size
    val st = memo(spark, "staging-spec-key")
    assert(st.a.count() == 10 && st.bs.head.count() == 4)
    assert(spark.sparkContext.getPersistentRDDs.size == before + 2,
      "two localCheckpoints must add exactly two RDD-level persists")
    assert(memo(spark, "staging-spec-key").a eq st.a, "same session must hit")
    memo.release("staging-spec-key")
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "release must drop exactly the staged frames' checkpoint blocks")
    // rebuild after release stays value-correct
    assert(memo(spark, "staging-spec-key").a.count() == 10)
    memo.release("staging-spec-key")
  }

  test("a memo rebuilds when a file under its directory is rewritten") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-staging-fresh")
    val file = dir.resolve("t.txt")
    Files.writeString(file, "abc")
    // the staged frame holds one row per byte of the file
    val memo = new graft.core.Staging[org.apache.spark.sql.DataFrame]()((s, d) =>
      s.range(Files.size(java.nio.file.Paths.get(d, "t.txt"))).toDF("x").localCheckpoint())
    val before = spark.sparkContext.getPersistentRDDs.size
    val st = memo(spark, dir.toString)
    assert(st.count() == 3 && (memo(spark, dir.toString) eq st), "unchanged files must hit")
    Files.writeString(file, "abcdefg")
    val rebuilt = memo(spark, dir.toString)
    assert(!(rebuilt eq st) && rebuilt.count() == 7, "a rewritten file must rebuild")
    assert(spark.sparkContext.getPersistentRDDs.size == before + 1,
      "the rebuild must release the stale value's checkpoint blocks")
    memo.release(dir.toString)
  }

  test("session-independent Staging serves temp-dir memos without a session") {
    var builds = 0
    val memo = new graft.core.Staging[String](sessionScoped = false)({ (_, k) =>
      builds += 1; s"dir-for-$k"
    })
    assert(memo("a") == "dir-for-a" && memo("a") == "dir-for-a" && builds == 1)
    val scoped = new graft.core.Staging[String]()((_, k) => k)
    intercept[IllegalArgumentException](scoped("a"))
  }

  test("staged exact top-k slices are value-identical to fresh topK runs") {
    import graft.operators.Similarity
    import graft.queries.SimilarityStaging
    val e = Readers.fixture(spark, sfDir, "embeddings")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cos_micro", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the narrow consumer slice (k=10, queries<8) must equal a fresh direct
    // topK — ranks are per-query, so slicing preserves membership AND ranks
    val fresh = Similarity.topK(e.filter(col("vec_id") < 8), e, 10)
    assert(rows(SimilarityStaging.exactTopK(spark, sfDir, 10, 8)) == rows(fresh))
    // the widest slice too (k=20, queries<32)
    val fresh20 = Similarity.topK(e.filter(col("vec_id") < 32), e, 20)
    assert(rows(SimilarityStaging.exactTopK(spark, sfDir, 20, 32)) == rows(fresh20))
    intercept[IllegalArgumentException](
      SimilarityStaging.exactTopK(spark, sfDir, 21, 8))
  }

  test("staged trained structures are value-identical to fresh training") {
    import graft.operators.{KMeans, Similarity}
    import graft.queries.SimilarityStaging
    val e = Readers.fixture(spark, sfDir, "embeddings")
    // centroids: same deterministic trainer, same params
    def centSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toSet
    val freshCent = KMeans.train(e, SimilarityStaging.TrainK, SimilarityStaging.TrainIters)
    assert(centSet(SimilarityStaging.centroids(spark, sfDir)) == centSet(freshCent))
    // the staged-assignment IVF search equals the fresh-centroid form
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cos_micro", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val freshIvf = Similarity.ivfTopKWithCentroids(e, freshCent,
      col("vec_id") < 8, 10, nprobe = 2)
    val stagedIvf = Similarity.searchRanked(
      SimilarityStaging.rankedTrained(spark, sfDir), col("vec_id") < 8, 10, 2)
    assert(rows(stagedIvf) == rows(freshIvf))
    // PQ: staged subspaces produce the same ADC ranking as a fresh train
    val freshPq = Similarity.pqTopK(e, col("vec_id") < 8, 10,
      SimilarityStaging.PqM, SimilarityStaging.Dims,
      SimilarityStaging.PqCodebook, SimilarityStaging.PqIters)
    val stagedPq = Similarity.pqTopKWithSubs(
      SimilarityStaging.pqSubs(spark, sfDir), e.filter(col("vec_id") < 8), 10,
      SimilarityStaging.Dims / SimilarityStaging.PqM)
    def pqRows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "adc_micro", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(pqRows(stagedPq) == pqRows(freshPq))
  }

  test("staged IVF-PQ probe is value-identical to the fresh train+probe") {
    import graft.operators.Similarity
    import graft.queries.SimilarityStaging
    val e = Readers.fixture(spark, sfDir, "embeddings")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "score_micro", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val fresh = Similarity.ivfPqTopK(e, col("vec_id") < 8, 10,
      kc = SimilarityStaging.IvfPqKc, nprobe = 2, m = SimilarityStaging.PqM,
      dims = SimilarityStaging.Dims, codebook = SimilarityStaging.PqCodebook,
      iters = SimilarityStaging.IvfPqIters)
    val (cent, codesHomed, subs) = SimilarityStaging.ivfPqIndex(spark, sfDir)
    val staged = Similarity.ivfPqProbeTopK(cent, codesHomed, subs,
      e.filter(col("vec_id") < 8), 10, nprobe = 2,
      subDims = SimilarityStaging.Dims / SimilarityStaging.PqM)
    assert(rows(staged) == rows(fresh))
  }

  test("SimilarityStaging.release drops the staged blocks; next access rebuilds") {
    import graft.queries.SimilarityStaging
    val n = SimilarityStaging.jl32(spark, sfDir).count()
    SimilarityStaging.centroids(spark, sfDir).count()
    val withStaging = spark.sparkContext.getPersistentRDDs.size
    SimilarityStaging.release(sfDir)
    assert(spark.sparkContext.getPersistentRDDs.size < withStaging)
    assert(SimilarityStaging.jl32(spark, sfDir).count() == n)
    SimilarityStaging.release(sfDir)
  }

  test("r13 staged stages are value-identical to their fresh formulations") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis.tokens
    // LM cross-entropy table == a fresh Vocab.lmXent pass
    val docs = Readers.fixture(spark, sfDir, "documents")
    def xentSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_bigrams", "mean_xent_micro").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(xentSet(graft.queries.TextQueries.lmXentShared(spark, sfDir)) ==
      xentSet(graft.operators.Vocab.lmXent(docs, "doc_id", "text")))
    // source head-term counts == the fresh explode + top-50 + counts
    val ex = docs.filter(col("source").isNotNull)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
    val freshHead = ex.groupBy("term").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term").asc).limit(50).select("term")
    val freshSt = ex.join(broadcast(freshHead), "term")
      .groupBy("source", "term").agg(count(lit(1)).as("n"))
    val (st, head) = graft.queries.TextQueries.srcHeadTerms(spark, sfDir)
    def stSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(stSet(st) == stSet(freshSt))
    assert(head.collect().map(_.getString(0)).toSet ==
      freshHead.collect().map(_.getString(0)).toSet)
    // co-click LPA labels == a fresh propagation over a fresh edge list
    val clicks = Readers.fixture(spark, sfDir, "events")
      .filter(col("event_type") === "click")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("m"),
        unix_micros(col("ts")).as("ts_us"))
    val freshPairs = graft.operators.RangeJoin.withinIntervalPairs(
        clicks, "user_id", "m", "ts_us", tolerance = 1800000000L)
      .select(col("id_a").as("src"), col("id_b").as("dst")).distinct()
    val freshEdges = freshPairs.unionByName(
      freshPairs.select(col("dst").as("src"), col("src").as("dst")))
    val freshLp = graft.operators.Graph.labelPropagation(freshEdges, iters = 3)
    val (_, lp) = graft.queries.AnalyticsQueries.coClickLp(spark, sfDir)
    def lpSet(df: org.apache.spark.sql.DataFrame) =
      df.select("node", "community").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lpSet(lp) == lpSet(freshLp))
  }

  test("staged paragraph units/signatures are value-identical to fresh passes") {
    import org.apache.spark.sql.functions._
    val docs = Readers.fixture(spark, sfDir, "documents")
    val P = DedupStaging.ParaTokens
    // full two-pass off the staged frames == the from-text operator
    def docSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_paras", "n_dup_paras", "dup_ratio_micro")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val fresh = MinHashLSH.paragraphDedup(docs, "doc_id", "text", P,
      DedupStaging.ShingleN, DedupStaging.NumPerm, DedupStaging.NumBands,
      minMatching = 12, dropRatioMicro = 600000L)
    val staged = MinHashLSH.paragraphDedupFromStaged(
      DedupStaging.paraUnits(spark, sfDir), DedupStaging.paraSigs(spark, sfDir),
      DedupStaging.NumPerm, DedupStaging.NumBands,
      minMatching = 12, dropRatioMicro = 600000L)
    assert(docSet(staged) == docSet(fresh))
    // the incremental twin's corpus index: staged-slice == fresh build
    def sigSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    val sliced = DedupStaging.paraSigs(spark, sfDir)
      .filter(expr(s"(id div ${MinHashLSH.ParaStride}) % 10") =!= 9)
    val freshCorpus = MinHashLSH.paragraphSigs(
      docs.filter(col("doc_id") % 10 =!= 9), "doc_id", "text", P,
      DedupStaging.ShingleN, DedupStaging.NumPerm)
    assert(sigSet(sliced) == sigSet(freshCorpus))
  }

  test("staged LR base model equals a fresh base-slice train") {
    import org.apache.spark.sql.functions._
    import graft.operators.LogReg
    import graft.queries.TextQueries
    val x = LogReg.stage(TextQueries.lrFeatures(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 9), TextQueries.LrBuckets)
    val fresh = x.trainWeights(
      Readers.fixture(spark, sfDir, "documents")
        .filter(col("doc_id") % 10 =!= 9).count(),
      TextQueries.LrSteps, TextQueries.LrNum,
      TextQueries.LrDen, init = Some(x.nbInit()))
    x.close()
    assert(TextQueries.lrBaseTrained(spark, sfDir).toSeq == fresh.toSeq)
  }

  test("purchaseEdges release hook drops the staged edge list") {
    // a prior suite in this JVM may have staged it already — start clean
    graft.queries.AnalyticsQueries.releasePurchaseEdges(sfDir)
    // compare RDD ids, not the global count: earlier suites' asynchronous
    // cleanup can drop unrelated RDDs while this test runs
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    val edges = graft.queries.AnalyticsQueries.purchaseEdges(spark, sfDir)
    val n = edges.count()
    assert(n > 0)
    val staged = persisted -- before
    assert(staged.size == 1, staged)
    graft.queries.AnalyticsQueries.releasePurchaseEdges(sfDir)
    assert((persisted & staged).isEmpty, staged)
    // rebuilds on next access
    assert(graft.queries.AnalyticsQueries.purchaseEdges(spark, sfDir).count() == n)
  }

  test("waterfall gate-7 device: staged LR feature slice == fresh featurization of the slice") {
    // featurization is per-doc-local (tokenize -> bigram -> bucket -> per-doc
    // counts + one bias row), so slicing the staged full-corpus feature
    // frame by doc id must equal featurizing the sliced docs directly --
    // the equivalence corpus_waterfall's gate 7 relies on (r14)
    import graft.operators.LogReg
    import graft.queries.TextQueries
    val docs = Readers.fixture(spark, sfDir, "documents")
    val subset = docs.filter(col("doc_id") % 3 === 1)
    val fresh = LogReg.features(subset, "doc_id", "text",
      col("lang") === "en", TextQueries.LrBuckets)
    val sliced = TextQueries.lrFeatures(spark, sfDir)
      .join(subset.select(col("doc_id")), Seq("doc_id"), "left_semi")
    def featSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(featSet(sliced) == featSet(fresh))
  }

  test("waterfall gate-3 device: staged shingle slice decontamination == contaminatedIds") {
    // a doc's shingle set depends only on its own text, so the staged
    // full-corpus shingle frame sliced by doc id drives the same
    // eval-overlap decision as re-shingling the survivor slice (r14)
    import org.apache.spark.sql.functions.{broadcast, explode}
    val docs = Readers.fixture(spark, sfDir, "documents")
    val isEval = col("doc_id") % 100 === 7
    val train = docs.filter(!isEval)
    val eval_ = docs.filter(isEval)
    val fresh = graft.operators.Corpus.contaminatedIds(
      train, eval_, "doc_id", "text", shingleN = DedupStaging.ShingleN)
      .collect().map(_.getLong(0)).toSet
    val stagedSh = DedupStaging.shingles(spark, sfDir)
    val evalShingles = stagedSh
      .join(eval_.select(col("doc_id").as("id")), Seq("id"), "left_semi")
      .select(explode(col("sh")).as("shingle")).distinct()
    val sliced = stagedSh
      .join(train.select(col("doc_id").as("id")), Seq("id"), "left_semi")
      .select(col("id"), explode(col("sh")).as("shingle"))
      .join(broadcast(evalShingles), Seq("shingle"), "left_semi")
      .select(col("id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(sliced == fresh)
  }

  test("BPE prefix stability: first k merges of a longer training == k-iteration training") {
    // greedy BPE computes merge i+1 from merges 1..i with a deterministic
    // argmax, so a longer-trained merge table's prefix IS the shorter
    // training -- the equivalence the staged 4-iter segmentation relies on
    // when it applies the staged 8-merge table's first 4 rows (r14)
    import graft.operators.Vocab
    val docs = Readers.fixture(spark, sfDir, "documents")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("it").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val long = rows(Vocab.bpeMerges(docs, "text", iters = 6)).take(3)
    val short = rows(Vocab.bpeMerges(docs, "text", iters = 3))
    assert(long == short)
  }

  test("staged BPE segmentation (merge-prefix apply) == fresh 4-iteration bpeSegment") {
    import graft.operators.Vocab
    import graft.queries.TextQueries
    val docs = Readers.fixture(spark, sfDir, "documents")
    def segSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val fresh = segSet(Vocab.bpeSegment(docs, "doc_id", "text", iters = 4))
    val staged = segSet(TextQueries.bpeSegShared(spark, sfDir))
    assert(staged == fresh)
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("checkpoint release logs no truncated-lineage warning; Curate and Cli leave no persisted RDD") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-release-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, Level.WARN, null)
    ctx.updateLoggers()
    val before = persisted
    try {
      val out = java.nio.file.Files.createTempDirectory("graft-release-curate").toString
      assert(Curate.run(spark, Curate.Config(docsDir = sfDir, outDir = out)).toMap.apply("written") > 0)
      val cfg = Cli.parse(Seq("--include-tables", "nation,orders", "--aliases", "a,b",
        sfDir, sfDir)).toOption.get
      assert(Cli.run(spark, cfg, new java.io.StringWriter) == 0)
    } finally {
      root.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
    val warned = scala.jdk.CollectionConverters.CollectionHasAsScala(lines).asScala
      .filter(_.contains("was locally checkpointed"))
    assert(warned.isEmpty, warned.mkString("\n"))
    assert((persisted -- before).isEmpty, persisted -- before)
  }

  test("corpus_waterfall releases its gate checkpoints and the lmXent/dsirWeights caches") {
    // the staged signature memo gate 2 slices is shared with other queries:
    // it belongs to the baseline
    DedupStaging.signatures(spark, sfDir)
    val before = persisted
    val rows = SparkEntry.queries("corpus_waterfall")(spark, sfDir).collect()
    assert(rows.length == 8, rows.toSeq)
    assert((persisted -- before).isEmpty, persisted -- before)
  }

  test("doremiWeights keeps only its per-domain checkpoint, not lmXent's cache") {
    // a slice no other caller trains on: an identical plan cached elsewhere
    // (the staged lmXentShared memo) would be reused, not cached anew
    val docs = Readers.fixture(spark, sfDir, "documents").filter(col("doc_id") % 3 =!= 1)
    val before = persisted
    val w = graft.operators.Corpus.doremiWeights(docs, "doc_id", "text", "source")
    assert(w.count() > 0)
    val checkpoint = w.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    assert(checkpoint.size == 1 && persisted -- before == checkpoint, persisted -- before)
    graft.core.Staging.releaseFrame(w)
    assert((persisted -- before).isEmpty, persisted -- before)
  }

  test("doremiWeights leaves a cache of lmXent's plan that another owner made") {
    import graft.core.Staging
    import graft.operators.{Corpus, Vocab}
    val docs = Readers.fixture(spark, sfDir, "documents").filter(col("doc_id") % 3 =!= 2)
    // another owner's lmXent over the same documents caches the bigram plan
    // first; doremiWeights reuses that cache and must not drop it
    val owned = Vocab.lmXent(docs, "doc_id", "text")
    try {
      assert(owned.count() > 0)
      val before = persisted
      val w = Corpus.doremiWeights(docs, "doc_id", "text", "source")
      assert(w.count() > 0)
      assert(Staging.isCached(Vocab.lmBigrams(docs, "doc_id", "text")))
      Staging.releaseFrame(w)
      assert(persisted == before, s"before $before, after $persisted")
    } finally Staging.releaseCaches(owned)
    assert(!Staging.isCached(Vocab.lmBigrams(docs, "doc_id", "text")))
  }
}
