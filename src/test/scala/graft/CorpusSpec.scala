package graft

import org.apache.spark.sql.functions._

import graft.core.Readers
import graft.operators.{Corpus, KMeans}

/** Invariants of the corpus-management and centroid-training operators that
  * the DuckDB oracle's value-compare can't express directly.
  */
class CorpusSpec extends SparkSpec {

  test("integer micro-ln tracks Math.log within 2e-5 across 12 orders of magnitude") {
    import graft.operators.Selection
    val spark2 = spark; import spark2.implicits._
    val xs = Seq(1L, 2L, 3L, 5L, 7L, 10L, 64L, 100L, 12345L, 1048576L,
      987654321L, 999999999999L)
    val got = xs.toDF("x").withColumn("ln", expr(Selection.lnMicroSparkSql("x")))
      .select("x", "ln").as[(Long, Long)].collect().toMap
    xs.foreach { x =>
      val want = math.log(x.toDouble) * 1e6
      assert(math.abs(got(x) - want) <= math.max(20.0, want * 2e-5),
        s"lnMicro($x) = ${got(x)}, true ${want.toLong}")
    }
    // exact anchor points: ln(1) = 0 and powers of two are pure b·ln2
    assert(got(1L) == 0L)
    assert(got(1048576L) == 20L * Selection.Ln2Micro)
    // the driver-side Scala mirror computes the IDENTICAL integer — it
    // supplies frozen-scorer constants, so any drift would silently skew
    // streamed scores vs the batch oracle
    xs.foreach(x => assert(Selection.lnMicroLong(x) == got(x),
      s"Scala mirror diverged at $x: ${Selection.lnMicroLong(x)} vs ${got(x)}"))
  }

  test("DSIR weights separate target-domain docs from raw docs") {
    import graft.operators.Selection
    val spark2 = spark; import spark2.implicits._
    val docs = Readers.fixture(spark, sfDir, "documents")
    val w = Selection.dsirWeights(docs, "doc_id", "text",
      col("lang") === "en", 1024, carryCols = Seq("lang"))
    val means = w.groupBy(col("lang") === "en")
      .agg(avg(col("dsir_micro")).as("m"))
      .as[(Boolean, Double)].collect().toMap
    // target members must score strictly higher on average than raw docs —
    // the standard DSIR self-check (a broken hash, smoothing, or sign error
    // collapses or inverts the separation)
    assert(means(true) > means(false) + 500000.0,
      s"no target/raw separation: target ${means(true)}, raw ${means(false)}")
    // zero-bigram docs (if any) score exactly 0, not null
    assert(w.filter(col("n_bigrams") === 0 && col("dsir_micro") =!= 0).isEmpty)
  }

  test("hash split partitions the corpus and is stable under corpus growth") {
    val docs = Readers.fixture(spark, sfDir, "documents")
    val withSplit = docs.select(col("doc_id"),
      Corpus.splitAssign(col("doc_id"), 90, 5).as("split")).persist()
    assert(withSplit.count() == docs.count())
    assert(withSplit.select("split").distinct().count() <= 3)
    // id-keyed, not position-keyed: a subset's assignments match the full run
    val subset = docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"),
      Corpus.splitAssign(col("doc_id"), 90, 5).as("split2"))
    assert(withSplit.join(subset, "doc_id")
      .filter(col("split") =!= col("split2")).count() == 0)
  }

  test("stratified sampling keeps roughly 1/rate per stratum, deterministically") {
    val docs = Readers.fixture(spark, sfDir, "documents")
    val rates = Map("en" -> 2)
    val kept = docs.filter(Corpus.stratifiedKeep(col("doc_id"), col("lang"), rates, 10))
    val kept2 = docs.filter(Corpus.stratifiedKeep(col("doc_id"), col("lang"), rates, 10))
    assert(kept.exceptAll(kept2).isEmpty) // same sample every run
    val en = docs.filter(col("lang") === "en").count()
    val enKept = kept.filter(col("lang") === "en").count()
    assert(enKept > 0 && math.abs(enKept.toDouble / en - 0.5) < 0.25)
  }

  test("weighted mix: budget >= source total keeps all of it, half-budget samples, weight-0 drops") {
    val docs = Readers.fixture(spark, sfDir, "documents")
    val src0Docs = docs.filter(col("source") === "src0")
    val src0Tokens = src0Docs
      .select(sum(size(graft.operators.TextAnalysis.tokens(col("text")))).cast("long"))
      .head().getLong(0)
    // budget above the source's own mass → fraction caps at 1: every src0
    // doc kept, every unweighted source dropped
    val all = Corpus.weightedMix(docs, "doc_id", "source", "text",
      Map("src0" -> 1), budgetTokens = src0Tokens * 2).persist()
    assert(all.count() == src0Docs.count())
    assert(all.filter(col("source") =!= "src0").count() == 0)
    // half the budget → a strict, deterministic, nonempty subset
    val half = Corpus.weightedMix(docs, "doc_id", "source", "text",
      Map("src0" -> 1), budgetTokens = src0Tokens / 2).persist()
    val n = half.count()
    assert(n > 0 && n < src0Docs.count())
    val again = Corpus.weightedMix(docs, "doc_id", "source", "text",
      Map("src0" -> 1), budgetTokens = src0Tokens / 2)
    assert(half.exceptAll(again).isEmpty)
  }

  test("temperature mix keep rate survives 100 TB-scale budgets (no 64-bit wrap)") {
    import spark.implicits._
    // budget 1e14 with w/wsum ~ 1/3: the old decimal-`div` path wrapped the
    // intermediate quotient (~3e19 > Long.MAX) and silently dropped most
    // documents; the BigInt path must saturate keep_micro at 1e6 and keep all
    val docs = Seq(
      (1L, (1 to 100).map(i => s"a$i").mkString(" "), "en", "srcA"),
      (2L, (1 to 400).map(i => s"b$i").mkString(" "), "en", "srcB"))
      .toDF("doc_id", "text", "lang", "source")
    val kept = Corpus.temperatureMix(docs, "doc_id", "source", "text", 100000000000000L)
    assert(kept.count() == 2, "a saturating budget must keep every document")
  }

  test("priority sampling is weight-biased, exact-k, and partitioning-invariant") {
    import spark.implicits._
    val docs = Readers.fixture(spark, sfDir, "documents")
      .select(col("doc_id"), (length(col("text")) + 1).cast("long").as("wt"))
    val k = 40
    val sample = Corpus.prioritySample(docs, "doc_id", col("wt"), k)
    val got = sample.select(col("doc_id"), col("w")).as[(Long, Long)].collect().toSeq.sorted
    assert(got.size == k)
    // the bias property the sampler exists for: keep probability scales
    // with weight, so the sample's mean weight exceeds the population's
    val sampleMean = got.map(_._2).sum.toDouble / k
    val popMean = docs.agg(avg(col("wt"))).head().getDouble(0)
    assert(sampleMean > popMean,
      s"sample mean $sampleMean should exceed population mean $popMean")
    // deterministic: hash keys don't depend on physical layout
    val got2 = Corpus.prioritySample(docs.repartition(13), "doc_id", col("wt"), k)
      .select(col("doc_id"), col("w")).as[(Long, Long)].collect().toSeq.sorted
    assert(got == got2)
    // zero/negative weights are excluded, never sampled: `x div 0` is NULL
    // in Spark and NULLs sort first ascending — without the guard a
    // zero-weight row would WIN the sample
    val zeroed = docs.withColumn("wt",
      when(col("doc_id") % 3 === 0, 0L).otherwise(col("wt")))
    val gotZ = Corpus.prioritySample(zeroed, "doc_id", col("wt"), k)
      .select(col("doc_id")).as[Long].collect().toSeq
    assert(gotZ.size == k && gotZ.forall(_ % 3 != 0), s"zero-weight row sampled: $gotZ")
  }

  test("decontamination output excludes the eval slice and contaminated train docs") {
    import scala.jdk.CollectionConverters._
    val docs = Readers.fixture(spark, sfDir, "documents")
    val out = SparkEntry.queries("corpus_decontaminate")(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val evalIds = docs.filter(col("doc_id") % 100 === 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.intersect(evalIds).isEmpty, "eval docs must never appear in the clean corpus")
    assert(out.subsetOf(allIds -- evalIds))
    // an exact duplicate of an eval doc is by definition contaminated: plant
    // one by checking any eval text that also appears under a train id
    val evalTexts = docs.filter(col("doc_id") % 100 === 7).select("text")
      .collect().map(_.getString(0)).toSet
    val dupTrainIds = docs.filter(col("doc_id") % 100 =!= 7)
      .filter(col("text").isin(evalTexts.toSeq: _*))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dupTrainIds.intersect(out).isEmpty, "exact duplicates of eval docs must be dropped")
  }

  test("fractional contamination: n_hit > 0 membership equals the any-collision flag") {
    // contaminatedIds is the threshold→0 special case of the fractional
    // rule; if the memberships ever diverge, one of the two is wrong
    val docs = Readers.fixture(spark, sfDir, "documents")
    val isEval = col("doc_id") % 100 === 7
    val frac = Corpus.contaminationFraction(
      docs.filter(!isEval), docs.filter(isEval), "doc_id", "text", shingleN = 3)
    val viaFrac = frac.filter(col("n_hit") > 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaAny = Corpus.contaminatedIds(
      docs.filter(!isEval), docs.filter(isEval), "doc_id", "text", shingleN = 3)
      .collect().map(_.getLong(0)).toSet
    assert(viaFrac == viaAny && viaFrac.nonEmpty)
    // every train doc reports a row, shingle-less ones as (0, 0, clean)
    assert(frac.count() == docs.filter(!isEval).count())
    // the fraction is a fraction: hits can never exceed the denominator
    assert(frac.filter(col("n_hit") > col("n_shingles")).count() == 0)
  }

  test("bloom-prefiltered decontamination equals the exact variant, and probes before joining") {
    val docs = Readers.fixture(spark, sfDir, "documents")
    val isEval = col("doc_id") % 100 === 7
    val exact = Corpus.contaminatedIds(
      docs.filter(!isEval), docs.filter(isEval), "doc_id", "text", shingleN = 3)
    val viaBloom = Corpus.contaminatedIdsBloom(
      docs.filter(!isEval), docs.filter(isEval), "doc_id", "text", shingleN = 3)
    // false positives must be re-checked away: the id sets are identical
    assert(viaBloom.exceptAll(exact).isEmpty && exact.exceptAll(viaBloom).isEmpty)
    // and the plan carries the codegen bloom probe BELOW the semi-join
    val plan = viaBloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    assert(plan.indexOf("might_contain") > plan.indexOf("Join"), // tree prints top-down
      s"bloom probe must sit under the verify join:\n$plan")
  }

  test("repetition signals stay in their mathematical ranges") {
    val rows = SparkEntry.queries("text_repetition")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dup = r.getAs[Double]("dup_gram_ratio")
      val top = r.getAs[Double]("top_token_ratio")
      assert(dup >= 0.0 && dup < 1.0, s"dup_gram_ratio $dup")
      assert(top > 0.0 && top <= 1.0, s"top_token_ratio $top")
    }
  }

  test("lengthBuckets: hand-computed caps, truncation, and waste") {
    import spark.implicits._
    // token counts: 3 ("a b c"), 16 (exactly the floor cap), 17 (next
    // bucket 32), 40 (bucket 64 via minCap=16/cap=64... actually 40 → 64),
    // and 70 tokens with capTokens=64 → truncated into the 64 bucket
    def doc(n: Int) = Seq.fill(n)("t").mkString(" ")
    val docs = Seq((1L, doc(3)), (2L, doc(16)), (3L, doc(17)), (4L, doc(40)),
      (5L, doc(70))).toDF("doc_id", "text")
    val got = Corpus.lengthBuckets(docs, "doc_id", "text", minCap = 16, capTokens = 64)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // bucket 16: docs 1+2 (eff 3, 16) → waste (32-19)e6 div 32
    // bucket 32: doc 3 (eff 17) → waste 15e6 div 32
    // bucket 64: docs 4+5 (eff 40, 64; doc 5 truncated) → waste (128-104)e6 div 128
    val want = Seq(
      (16L, 2L, 19L, 0L, (32L - 19L) * 1000000L / 32L),
      (32L, 1L, 17L, 0L, 15L * 1000000L / 32L),
      (64L, 2L, 110L, 1L, (128L - 104L) * 1000000L / 128L))
    assert(got == want, s"got=$got")
  }

  test("vocab growth and frequency spectrum tie back to corpus totals") {
    val docs = Readers.fixture(spark, sfDir, "documents")
    val totalTokens = docs
      .select(org.apache.spark.sql.functions.size(
        graft.operators.TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .agg(sum(col("n"))).head.getLong(0)
    val totalTypes = docs
      .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("t"))
      .distinct().count()
    val growth = SparkEntry.queries("text_vocab_growth")(spark, sfDir).collect()
    assert(growth.nonEmpty)
    // checkpoints are log2-spaced: at most bit-length(max doc_id + 1) rows
    assert(growth.length <= 64)
    // cumulative columns are monotone and end exactly at the corpus totals
    val cumTok = growth.map(_.getAs[Long]("cum_tokens"))
    val cumTyp = growth.map(_.getAs[Long]("cum_types"))
    assert(cumTok.sameElements(cumTok.sorted) && cumTyp.sameElements(cumTyp.sorted))
    assert(cumTok.last == totalTokens && cumTyp.last == totalTypes,
      s"cum (${cumTok.last}, ${cumTyp.last}) vs totals ($totalTokens, $totalTypes)")
    // the spectrum partitions the same totals: Σ n_terms = |vocab|, Σ mass = tokens
    val spec = SparkEntry.queries("text_freq_spectrum")(spark, sfDir).collect()
    assert(spec.map(_.getAs[Long]("n_terms")).sum == totalTypes)
    assert(spec.map(_.getAs[Long]("mass")).sum == totalTokens)
  }

  test("budget mix: greedy fill is exact, ordered, and conserves the budget") {
    val rows = SparkEntry.queries("corpus_budget_mix")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val budget = 10000L
    val alloc = rows.map(_.getAs[Long]("alloc_tokens"))
    val toks = rows.map(_.getAs[Long]("n_tokens"))
    val q = rows.map(_.getAs[Long]("q_avg_micro"))
    // rows arrive in fill order (quality desc): allocation is a prefix —
    // full sources, at most one partial, then zeros; total ≤ budget and
    // equals budget unless the whole corpus fits
    assert(q.sameElements(q.sorted.reverse))
    alloc.zip(toks).foreach { case (a, t) => assert(a >= 0 && a <= t) }
    val firstPartial = alloc.zip(toks).indexWhere { case (a, t) => a < t }
    if (firstPartial >= 0)
      assert(alloc.drop(firstPartial + 1).forall(_ == 0L),
        "allocation continued past the budget cut")
    assert(alloc.sum == math.min(budget, toks.sum), s"allocated ${alloc.sum}")
  }

  test("novelty and dup-by-quality tie back to corpus structure") {
    import graft.operators.TextAnalysis.{shinglesFromTokens, tokens}
    val docs = Readers.fixture(spark, sfDir, "documents")
    val nov = SparkEntry.queries("text_novelty")(spark, sfDir).collect()
    assert(nov.length == docs.count())
    // the earliest doc's shingles are all first appearances by construction
    val first = nov.minBy(_.getAs[Long]("doc_id"))
    assert(first.getAs[Long]("novelty_micro") == 1000000L)
    nov.foreach(r => assert(r.getAs[Long]("n_novel") <= r.getAs[Long]("n_shingles")))
    // every distinct shingle is novel exactly once: Σ n_novel = |shingles|
    val distinctShingles = docs
      .select(explode(shinglesFromTokens(tokens(col("text")), 3)).as("sh"))
      .distinct().count()
    assert(nov.map(_.getAs[Long]("n_novel")).sum == distinctShingles)
    // dup-by-quality partitions the corpus; dup counts stay within bands
    val dup = SparkEntry.queries("corpus_dup_by_quality")(spark, sfDir).collect()
    assert(dup.map(_.getAs[Long]("n_docs")).sum == docs.count())
    dup.foreach(r => assert(r.getAs[Long]("n_dup") <= r.getAs[Long]("n_docs")))
  }

  test("k-means: every vector lands in a surviving cluster; centroids refine") {
    val vecs = Readers.fixture(spark, sfDir, "embeddings")
    val n = vecs.count()
    val sum = KMeans.summary(vecs, k = 4, iters = 2)
      .agg(org.apache.spark.sql.functions.sum(col("n_members"))).head().getLong(0)
    assert(sum == n, "cluster sizes must partition the vector set")
    // trained centroids keep the embedding dimensionality and survive a round
    val trained = KMeans.train(vecs, 4, 1)
    assert(trained.count() >= 1 && trained.count() <= 4)
    assert(trained.select(size(col("cv")).as("d")).distinct().head().getInt(0) == 64)
  }

  test("shuffle is a sharded permutation; a new seed re-permutes, same seed doesn't") {
    import spark.implicits._
    val docs = Readers.fixture(spark, sfDir, "documents")
    val n = docs.count()
    val s7 = Corpus.shuffle(docs, "doc_id", seed = 7, nShards = 4).persist()
    // every document exactly once
    assert(s7.count() == n)
    assert(s7.select("id").distinct().count() == n)
    // positions are contiguous 1..|shard| within each shard
    val bad = s7.groupBy("shard")
      .agg(count(lit(1)).as("c"), min("pos").as("lo"), max("pos").as("hi"))
      .filter(col("lo") =!= 1L || col("hi") =!= col("c")).count()
    assert(bad == 0L)
    def orderOf(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("shard", "pos").select("id").as[Long].collect().toSeq
    val o7 = orderOf(s7)
    assert(orderOf(Corpus.shuffle(docs, "doc_id", 7, 4)) == o7, "same seed reproduces")
    assert(orderOf(Corpus.shuffle(docs, "doc_id", 8, 4)) != o7, "new epoch re-permutes")
    s7.unpersist()
  }

  test("chunk pass-through and withShuffleOrder equal the joins they replace") {
    import spark.implicits._
    val docs = Readers.fixture(spark, sfDir, "documents")
    val carried = Corpus.chunk(docs, "doc_id", "text", 16, 12, passThrough = Seq("lang", "source"))
    val joined = Corpus.chunk(docs, "doc_id", "text", 16, 12)
      .join(docs.select("doc_id", "lang", "source"), "doc_id")
    def chunkRows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "chunk_idx", "start_pos", "n_chunk_tokens", "chunk_text", "lang", "source")
        .as[(Long, Long, Long, Long, String, String, String)].collect().toSeq.sorted
    assert(chunkRows(carried) == chunkRows(joined))
    val ordered = Corpus.withShuffleOrder(docs, "doc_id", 7, 4, "shard", "pos")
      .select("shard", "pos", "doc_id").as[(Int, Long, Long)].collect().toSeq.sorted
    val viaShuffle = Corpus.shuffle(docs, "doc_id", 7, 4)
      .select("shard", "pos", "id").as[(Int, Long, Long)].collect().toSeq.sorted
    assert(ordered.nonEmpty && ordered == viaShuffle)
  }

  test("frozen-scorer replay equals the batch DSIR weights bit for bit") {
    // the round-11 one-pass frozenScorer (llr map + unseen-bucket default)
    // must reproduce dsirWeights exactly when replayed over the training
    // corpus — the property that lets corpus_dsir_stream share the batch
    // oracle (previously held by construction of llrTable+smoothedTotals;
    // pinned directly now that one fused pass builds both halves)
    import graft.operators.Selection
    val spark2 = spark; import spark2.implicits._
    val docs = Readers.fixture(spark, sfDir, "documents")
    val (llr, dflt) = Selection.frozenScorer(docs, "text", col("lang") === "en", 1024)
    assert(llr.size <= 1024)
    val replay = Selection.dsirScoreRows(docs, "doc_id", "text", llr, dflt, 1024)
      .as[(Long, Long, Long)].collect().toSet
    val batch = Selection.dsirWeights(docs, "doc_id", "text",
      col("lang") === "en", 1024)
      .as[(Long, Long, Long)].collect().toSet
    assert(replay == batch)
    assert(replay.nonEmpty)
  }

  test("corpus_waterfall records attributable per-gate wall-seconds") {
    import spark.implicits._
    val out = SparkEntry.queries("corpus_waterfall")(spark, sfDir)
      .select("stage").as[String].collect().toSeq
    val secs = graft.queries.CorpusQueries.lastWaterfallGateSeconds.get()
    // one timing per gate, same names, same order as the output stages —
    // the readout that makes the registry's most expensive row attributable
    assert(secs.map(_._1) == out, s"gates ${secs.map(_._1)} vs stages $out")
    assert(secs.nonEmpty && secs.forall(_._2 >= 0.0))
  }
}
