package graft

import org.apache.spark.sql.functions._

import graft.core.{Readers, RowDiff, TableSpec}
import graft.operators._

/** Operator-level behavior not covered by the DuckDB oracle gate: LSH finds
  * the planted near-dups, SimHash banding equals brute force, ANN is a
  * subset of exact top-k, multimodal stub decode agrees with the expression
  * path, row-diff statuses.
  */
class OperatorSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Readers.fixture(spark, sfDir, "documents")
  private lazy val emb = Readers.fixture(spark, sfDir, "embeddings")

  test("explode+agg minhash signatures equal the per-row HOF reference expression") {
    import graft.operators.TextAnalysis
    val sample = docs.limit(40)
    val viaAgg = MinHashLSH.signatures(sample, "doc_id", "text", 3, 16)
      .as[(Long, Seq[String])].collect().toMap
    val viaHof = sample
      .withColumn("tk", TextAnalysis.tokens(col("text")))
      .withColumn("sh", TextAnalysis.shinglesFromTokens(col("tk"), 3))
      .select(col("doc_id"), MinHashLSH.signature(col("sh"), 16))
      .as[(Long, Seq[String])].collect().toMap
    assert(viaAgg == viaHof)
  }

  test("minhash LSH candidates verify as high-Jaccard near-dups") {
    val pairs = MinHashLSH.candidatePairs(docs, "doc_id", "text", 3, 16, 4)
    assert(pairs.count() > 0, "fixture has planted near-dups")
    // every candidate estimated >= 1 matching band => est_jaccard well above random
    assert(pairs.filter(col("est_jaccard") < 0.25).count() == 0)
  }

  test("embCos guard: brute under the limit, bucketed LSH subset past it — never a cartesian") {
    // the dedup_embcos scale guard (r9 verdict item 2): at fixture scale the
    // registered query takes the exact all-pairs path; forcing the limit to 0
    // must (a) plan NO cartesian/nested-loop product, (b) return a SUBSET of
    // the brute pairs with identical scores, and (c) still find pairs (the
    // planted near-dups land in shared sign buckets)
    val brute = Similarity.embCosPairsGuarded(emb, 450000L)
      .as[(Long, Long, Long)].collect().toSet
    val lsh = Similarity.embCosPairsGuarded(emb, 450000L, bruteForceRowLimit = 0L)
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.linesIterator.take(30).mkString("\n"))
    val got = lsh.as[(Long, Long, Long)].collect().toSet
    assert(got.nonEmpty, "LSH-degraded path found no near-dup pairs")
    assert(got.subsetOf(brute),
      s"LSH path produced pairs outside the exact set: ${got.diff(brute).take(5)}")
    info(s"embCos guard recall at sf0.001: ${got.size}/${brute.size}")
  }

  test("embCos guard: default limit is budget-derived — LSH past 50k rows or past broadcast bytes") {
    // r10 verdict item 1: the old 2M default admitted a 4e12-pair cross join.
    // The new default must be the documented min(pair-budget, byte-budget)
    // bound, and the guard must engage the LSH plan from the claimed row
    // count WITHOUT building 50k real rows (nRows overrides the count).
    assert(Similarity.EmbCosDefaultBruteForceRowLimit == 50000L)
    assert(Similarity.EmbCosDefaultBruteForceRowLimit
      * (Similarity.EmbCosDefaultBruteForceRowLimit - 1) / 2
      <= Similarity.EmbCosPairBudget, "row limit violates the pair budget")
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // just past the row limit: bucketed plan, no cartesian / nested-loop
    val past = planOf(Similarity.embCosPairsGuarded(
      emb, 450000L, nRows = Some(Similarity.EmbCosDefaultBruteForceRowLimit + 1)))
    assert(!past.contains("CartesianProduct") && !past.contains("BroadcastNestedLoop"), past.linesIterator.take(20).mkString("\n"))
    // at the row limit with fixture-width (64-dim) vectors: byte budget
    // holds (50k x 65 x 8 B = 26 MB <= 32 MB) => exact brute path
    val at = planOf(Similarity.embCosPairsGuarded(
      emb, 450000L, nRows = Some(Similarity.EmbCosDefaultBruteForceRowLimit)))
    assert(at.contains("CartesianProduct") || at.contains("BroadcastNestedLoop"),
      "expected the exact all-pairs plan at the row limit")
    // under the row limit but past the byte budget (wide vectors): the
    // measured-dims re-validation must force the LSH plan anyway
    // row-dependent values — constant arrays would fold, erasing the join
    // keys and turning the bucket equi-join into a nested loop
    val wide = spark.range(2).select(col("id").as("vec_id"),
      array((0 until 1000).map(i =>
        (col("id") * 0.001d + lit(0.01d * (i % 7))).cast("float")): _*).as("embedding"))
    val bytesTripped = planOf(Similarity.embCosPairsGuarded(
      wide, 450000L, planeMatrix = Similarity.planes(8, 1000),
      nRows = Some(Similarity.EmbCosDefaultBruteForceRowLimit)))
    assert(!bytesTripped.contains("CartesianProduct") && !bytesTripped.contains("BroadcastNestedLoop"),
      "50k x 1000-dim (~400 MB) must trip the broadcast byte budget")
  }

  test("scan-scale simhashDf equals the per-row simhash expression") {
    val sample = docs.limit(60)
    val viaDf = SimHash.simhashDf(sample, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val viaExpr = sample.select(col("doc_id"), SimHash.simhash(col("text")))
      .as[(Long, Long)].collect().toMap
    assert(viaDf == viaExpr)
  }

  test("simhash chunk-banding equals brute-force hamming pairs") {
    val withSh = SimHash.simhashDf(docs.limit(120), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("simhash", "simhash")
    val banded = SimHash.nearPairs(withSh, "doc_id", "simhash")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val a = withSh.select(col("doc_id").as("doc_a"), col("simhash").as("sa"))
    val b = withSh.select(col("doc_id").as("doc_b"), col("simhash").as("sb"))
    val brute = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .filter(bit_count(expr("sa ^ sb")) <= SimHash.MaxHamming)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(banded == brute)
  }

  test("ANN results are a subset of exact top-k scores") {
    val planes = Similarity.planes(8, 64)
    val queries = emb.filter(col("vec_id") < 8)
    val exact = Similarity.topK(queries, emb, 100)
      .select("query_id", "neighbor_id", "cos_micro").as[(Long, Long, Long)].collect().toSet
    val ann = Similarity.annTopK(queries, emb, 10, planes)
      .select("query_id", "neighbor_id", "cos_micro").as[(Long, Long, Long)].collect()
    assert(ann.nonEmpty)
    // every ANN hit scores identically to the exact computation for that pair
    val exactScores = exact.map { case (q, n, c) => (q, n) -> c }.toMap
    assert(ann.forall { case (q, n, c) => exactScores.get((q, n)).forall(_ == c) })
  }

  test("ANN recall floor: LSH and IVF recall@k never regress below the gated floor") {
    // the tripwire query reports recall; this gate ENFORCES it — a bucketing,
    // probe-radius, or centroid change that tanks recall fails here rather
    // than just changing an oracle hash. Measured at sf0.001 with probe
    // radius 2 / nprobe 4: lsh (min 0, mean 325000), ivf (min 200000, mean
    // 412500) — 500 vectors over 256 LSH buckets is sparse enough that one
    // query can land empty, so the lsh gate is mean-only; floors sit below
    // the measurement by a margin that still catches a tuning regression
    // (single-bucket probing measured lsh mean 25000, ivf 175000)
    val recall = SparkEntry.queries("sim_ann_recall")(spark, sfDir)
      .select("method", "recall_micro").as[(String, Long)].collect()
    val byMethod = recall.groupBy(_._1).map { case (m, rs) =>
      m -> (rs.map(_._2).min, rs.map(_._2).sum / rs.length)
    }
    info(s"recall (min, mean) per method: $byMethod")
    val (_, lshMean) = byMethod("lsh")
    val (ivfMin, ivfMean) = byMethod("ivf")
    assert(lshMean >= 250000L, s"lsh recall regressed: $byMethod")
    assert(ivfMin >= 100000L && ivfMean >= 300000L, s"ivf recall regressed: $byMethod")
  }

  test("top-k aggregate keeps the window semantics: score desc, ties to the smaller id") {
    // neighbors 10..13 are identical vectors (equal cosine to the query —
    // a 4-way tie) and 20 is near-orthogonal: ranks must run 10,11,12,13
    // by id, then 20, exactly as the windowed (score desc, id asc) rank did
    val v = Seq.fill(4)(1.0f)
    val ortho = Seq(1.0f, -1.0f, 1.0f, -1.0f)
    val vecs = ((1L, v) +: (10L to 13L).map(i => (i, v)) :+ (20L, ortho))
      .toDF("vec_id", "embedding")
    val got = Similarity.topK(vecs.filter(col("vec_id") === 1L), vecs, k = 5)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toSeq
    assert(got == Seq((10L, 1L), (11L, 2L), (12L, 3L), (13L, 4L), (20L, 5L)), got)
    // and the plan is a partial-combining aggregate, not a window-sort of
    // every scored pair
    val plan = Similarity.topK(vecs.filter(col("vec_id") === 1L), vecs, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("collect_top_k") || plan.contains("CollectTopK"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("top-k aggregate equals the window rank it replaced, ties included") {
    import org.apache.spark.sql.expressions.Window
    // each of the first 50 vectors gets a twin under a new id, so every
    // query meets exact score ties (its own twin among them)
    val vecs = emb.select("vec_id", "embedding").union(emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val queries = vecs.filter(col("vec_id") < 8)
    val k = 10
    val viaAgg = Similarity.topK(queries, vecs, k)
      .select("query_id", "neighbor_id", "cos_micro", "rank")
      .as[(Long, Long, Long, Long)].collect().toSet
    val scored = vecs.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
      .crossJoin(queries.select(col("vec_id").as("query_id"), col("embedding").as("qv")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), Similarity.cosineScaledWithNorms(
        col("qv"), col("nv"), Similarity.norm(col("qv")), Similarity.norm(col("nv"))).as("cos_micro"))
    val viaWindow = scored
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos_micro").desc, col("neighbor_id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaAgg.size == 8 * k)
    assert(viaAgg == viaWindow, (viaAgg diff viaWindow, viaWindow diff viaAgg))
  }

  test("JL sketch: projection is integer-exact and rerank recall holds its floor") {
    // the projection must be pure integers (the quantize-then-project
    // contract) and bit-stable: two runs produce identical sketches
    val proj = SparkEntry.queries("sim_jl_project")(spark, sfDir)
    val again = SparkEntry.queries("sim_jl_project")(spark, sfDir)
    // exploded (vec_id, dim, value) rows — the driver-hashable shape; the
    // sketch values themselves stay exact 64-bit integers
    assert(proj.schema("value").dataType.simpleString == "bigint")
    assert(proj.schema("dim").dataType.simpleString == "bigint")
    assert(proj.exceptAll(again).isEmpty && again.exceptAll(proj).isEmpty)
    // recall floor: measured at sf0.01 mean 550000 (vs lsh 330000 /
    // ivf 410000 on the same fixture); the sf0.001 fixture is smaller and
    // easier — gate on a mean with margin so only a real sketch/tuning
    // regression (fewer dims, broken normalization, lost shortlist) trips
    val recall = SparkEntry.queries("sim_jl_recall")(spark, sfDir)
      .select("recall_micro").as[Long].collect()
    info(s"jl recall (min, mean): (${recall.min}, ${recall.sum / recall.length})")
    // measured mean 412500 at sf0.001; the floor keeps margin for a driver
    // fixture regeneration while catching any structural regression
    assert(recall.sum / recall.length >= 350000L,
      s"jl rerank recall regressed: mean ${recall.sum / recall.length}")
  }

  test("PQ/ADC: complete per-subspace codes; compressed ranking beats random") {
    val n = emb.count()
    val subs = Similarity.pqTrain(emb, m = 4, dims = 64, codebook = 8, iters = 1)
    assert(subs.length == 4)
    // every vector gets exactly one code per subspace (no drops, no dups)
    subs.foreach { ps =>
      assert(ps.codes.count() == n)
      assert(ps.centroids.count() <= 8)
    }
    val pq = Similarity.pqTopK(emb, col("vec_id") < 8, 10, 4, 64, 8, 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(pq.length == 80, "10 neighbors for each of 8 queries")
    val exact = Similarity.topK(emb.filter(col("vec_id") < 8), emb, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = pq.count(exact.contains).toDouble / exact.size
    info(s"PQ recall@10 vs exact: $recall")
    // fixture embeddings are near-random — the PQ worst case; measured 0.10
    // at m=4 × 8 codes (64× compression) vs 0.02 random-pick baseline.
    // Floor guards the mechanism (a broken ADC join or LUT scores ~random)
    assert(recall >= 0.05, s"ADC ranking degenerated to random: recall=$recall")
  }

  test("ExactSubstr coverage: island union, within-doc dups, overlap merging") {
    val docs = Seq(
      // docs 1+2 share one 8-token window: doc1 island [1,8] of 10 tokens
      (1L, "a b c d e f g h i j"),
      (2L, "x a b c d e f g h y"),
      // doc 3 duplicates a window WITHIN itself (pos 1 and 9); gap = 8 >= k
      // so two islands, covering all 16 tokens
      (3L, "p q r s t u v w p q r s t u v w"),
      // docs 4+5 share two OVERLAPPING windows (pos 1 and 2); gap 1 < k so
      // one merged island of length 2-1+8 = 9
      (4L, "m n o p q r s t u Z"),
      (5L, "m n o p q r s t u W"),
      // doc 6 shares nothing and must not appear
      (6L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val got = ExactSubstr.coverage(docs, "doc_id", "text", k = 8)
      .select(col("id"), col("n_tokens"), col("n_dup_spans"),
        col("covered_tokens"), col("coverage_micro"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map { case (id, n, d, c, m) => id -> ((n, d, c, m)) }.toMap
    assert(got == Map(
      1L -> (10L, 1L, 8L, 800000L),
      2L -> (10L, 1L, 8L, 800000L),
      3L -> (16L, 2L, 16L, 1000000L),
      4L -> (10L, 2L, 9L, 900000L),
      5L -> (10L, 2L, 9L, 900000L)))
  }

  test("ExactSubstr boilerplate: same-source distinct-doc threshold, cross-source isolation") {
    val docs = Seq(
      // site A: docs 1+2 share a 4-token header -> boilerplate (2 distinct docs)
      (1L, "the same old header plus unique tail one", "siteA"),
      (2L, "the same old header and another body here", "siteA"),
      // doc 3 repeats a window WITHIN itself only -> count(DISTINCT id)=1,
      // NOT boilerplate under the distinct-doc threshold (coverage would flag it)
      (3L, "w x y z w x y z", "siteA"),
      // site B carries the SAME header as site A but only once: per-source
      // scoping means it is NOT boilerplate there
      (4L, "the same old header but site b only once", "siteB"),
      (5L, "completely different words in this one document", "siteB")
    ).toDF("doc_id", "text", "source")
    val got = ExactSubstr.boilerplate(docs, "doc_id", "text", "source", k = 4, minDocs = 2)
      .select(col("id"), col("source"), col("n_tokens"), col("n_bp_spans"),
        col("removed_tokens"), col("kept_tokens"), col("removed_micro"))
      .as[(Long, String, Long, Long, Long, Long, Long)].collect()
      .map { case (id, s, n, b, r, kp, m) => id -> ((s, n, b, r, kp, m)) }.toMap
    assert(got == Map(
      1L -> (("siteA", 8L, 1L, 4L, 4L, 500000L)),
      2L -> (("siteA", 8L, 1L, 4L, 4L, 500000L))),
      s"got $got")
  }

  test("bloom-prefiltered substring coverage is row-identical to the exact path") {
    val exact = ExactSubstr.coverage(docs, "doc_id", "text", 8)
      .select("id", "n_tokens", "n_dup_spans", "covered_tokens", "coverage_micro")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val bloom = ExactSubstr.coverageBloom(docs, "doc_id", "text", 8)
      .select("id", "n_tokens", "n_dup_spans", "covered_tokens", "coverage_micro")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(exact.nonEmpty && bloom == exact)
  }

  test("zero-norm vectors score cosine 0 instead of NaN on every path") {
    // degenerate embeddings (all-zero rows) arise as IVF-PQ singleton-cell
    // residuals; without the guard Spark floors NaN to an arbitrary long
    // while DuckDB errors casting NaN — the engines would split exactly here
    val vecs = Seq(
      (1L, Array.fill(8)(0f)),            // zero query
      (2L, Array.tabulate(8)(_.toFloat)), // normal
      (3L, Array.fill(8)(0f)),            // zero neighbor
      (4L, Array.tabulate(8)(i => (8 - i).toFloat))
    ).toDF("vec_id", "embedding")
    val scores = Similarity.topK(vecs.filter(col("vec_id") <= 2), vecs, 3)
      .select("query_id", "neighbor_id", "cos_micro")
      .as[(Long, Long, Long)].collect()
    assert(scores.nonEmpty)
    // every pair involving a zero vector scores exactly 0; nothing is NaN-ish
    scores.filter { case (q, n, _) => q == 1L || n == 3L }
      .foreach { case (q, n, c) => assert(c == 0L, s"($q,$n) scored $c") }
    // and the kmeans/IVF assignment path survives an all-zero slice
    val cent = KMeans.train(vecs, k = 2, iters = 1)
    assert(cent.count() >= 1)
  }

  test("IVF-PQ: gated candidates rank above random; every query filled") {
    val pq = Similarity.ivfPqTopK(emb, col("vec_id") < 8, 10,
        kc = 8, nprobe = 2, m = 4, dims = 64, codebook = 8, iters = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(pq.length == 80, "10 neighbors for each of 8 queries")
    val exact = Similarity.topK(emb.filter(col("vec_id") < 8), emb, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = pq.count(exact.contains).toDouble / exact.size
    info(s"IVF-PQ recall@10 vs exact: $recall")
    // random fixture vectors are the worst case twice over: residuals carry
    // no structure (centroids ≈ 0) and nprobe=2/8 caps the candidate pool.
    // Measured 0.0875; floor guards the mechanism vs ~0.02 random picking
    assert(recall >= 0.04, s"IVF-PQ ranking degenerated to random: $recall")
  }

  test("BPE merges: greedy leftmost non-overlapping fold, argmax tiebreaks") {
    // "aa aa ab": words aa(2), ab(1); merge 1 must be (a,a) count 2,
    // then (a,b) count 1 from the surviving un-merged word
    val m1 = Vocab.bpeMerges(Seq("aa aa ab").toDF("text"), "text", iters = 2)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(m1 == Seq((1L, "a", "a", 2L), (2L, "a", "b", 1L)))

    // greedy non-overlap: "aaaa" merges to [aa, aa] (3 adjacent (a,a) pairs
    // counted, but the fold never re-merges across a consumed symbol), then
    // to [aaaa]
    val m2 = Vocab.bpeMerges(Seq("aaaa").toDF("text"), "text", iters = 2)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(m2 == Seq((1L, "a", "a", 3L), (2L, "aa", "aa", 1L)))

    // exhausted corpus fails loudly instead of fabricating merges
    val e = intercept[IllegalArgumentException] {
      Vocab.bpeMerges(Seq("x y").toDF("text"), "text", iters = 1)
    }
    assert(e.getMessage.contains("exhausted"))
  }

  test("BPE segment tokenizes the corpus with the trained merges") {
    // merge 1 is (a,a) (count 3); "aa" collapses to one piece, "ab" stays split
    val df = Seq((1L, "aa aa ab"), (2L, "b aa")).toDF("doc_id", "text")
    val got = Vocab.bpeSegment(df, "doc_id", "text", iters = 1)
      .as[(Long, Long, String)].collect().toMap2
    assert(got(1L) == ((4L, "aa aa a b")) && got(2L) == ((2L, "b aa")))
  }

  test("multimodal stub decode agrees with the hex-expression path") {
    val withImg = docs.limit(50).select(col("doc_id"), unhex(md5(col("text"))).as("img"))
    val viaStub = Multimodal.extractMeta(withImg, "doc_id", "img")
      .select("doc_id", "width", "height").as[(Long, Long, Long)].collect().toMap2
    val hx = lower(hex(col("img")))
    def b(i: Int) = conv(hx.substr(lit(2 * i - 1), lit(2)), 16, 10).cast("long")
    val viaExpr = withImg.select(col("doc_id"),
        (lit(32L) + b(1) % 224).as("width"), (lit(32L) + b(2) % 224).as("height"))
      .as[(Long, Long, Long)].collect().toMap2
    assert(viaStub == viaExpr)
  }

  test("MediaDecoder is a drop-in boundary: a custom decoder replaces the stub") {
    // a codec-backed decoder must slot in with no plumbing changes; prove the
    // seam exists by swapping a trivially-distinguishable implementation
    object FixedDecoder extends Multimodal.MediaDecoder {
      override def decode(bytes: Array[Byte]): (Long, Long, Long, Array[Long]) =
        (1920L, 1080L, 3L, Array.fill(16)(bytes.length.toLong))
    }
    val df = docs.limit(5).select(col("doc_id"), unhex(md5(col("text"))).as("img"))
    val got = Multimodal.extractMeta(df, "doc_id", "img", FixedDecoder).collect()
    assert(got.forall(r => r.getAs[Long]("width") == 1920L &&
      r.getAs[Long]("height") == 1080L &&
      r.getAs[Seq[Long]]("feat") == Seq.fill(16)(16L)))
    // default remains the stub
    val stub = Multimodal.extractMeta(df, "doc_id", "img").collect()
    assert(stub.exists(_.getAs[Long]("width") != 1920L))
  }

  test("sampleFrames: stride filter, per-frame rows, decoder seam") {
    // frame count 2 + bytes(3)%6: payload below pins it to 5 (byte 3 = 0x03)
    val payload = Array[Byte](0x10, 0x20, 0x30, 0x03, 0x40, 0x50, 0x60, 0x70)
    val df = Seq((7L, payload)).toDF("doc_id", "vid")
    val all = Multimodal.sampleFrames(df, "doc_id", "vid", everyN = 1)
      .select("frame_idx").as[Long].collect().sorted
    assert(all.sameElements(Array(0L, 1L, 2L, 3L, 4L)))
    val strided = Multimodal.sampleFrames(df, "doc_id", "vid", everyN = 2)
      .select("frame_idx").as[Long].collect().sorted
    assert(strided.sameElements(Array(0L, 2L, 4L)))
    // frame features differ per frame (the 7f rotation) and lane sums match
    // a hand computation for frame 0: lanes sum bytes i ≡ l (mod 4)
    val f0 = Multimodal.sampleFrames(df, "doc_id", "vid", everyN = 1)
      .filter(col("frame_idx") === 0).select("feat").as[Array[Long]].head()
    assert(f0.toSeq == Seq(0x10L + 0x40L, 0x20L + 0x50L, 0x30L + 0x60L, 0x03L + 0x70L))
    // decoder seam: a fixed-count decoder replaces the stub with no plumbing change
    object OneFrame extends Multimodal.VideoDecoder {
      override def frameCount(bytes: Array[Byte]): Int = 1
      override def frameFeature(bytes: Array[Byte], f: Int): Array[Long] = Array(99L)
    }
    val one = Multimodal.sampleFrames(df, "doc_id", "vid", 1, OneFrame).collect()
    assert(one.length == 1 &&
      one.head.getAs[scala.collection.Seq[Long]]("feat").toSeq == Seq(99L))
  }

  test("audioEnergy: window/stride coverage and exact per-window sums") {
    // 6 bytes, width 4, stride 3 -> windows [0,4) and [3,6): the overlap and
    // the short tail window both must compute exactly
    val pcm = Array[Byte](128.toByte, 130.toByte, 126.toByte, 128.toByte, 138.toByte, 118.toByte)
    val df = Seq((3L, pcm)).toDF("doc_id", "pcm")
    val got = Multimodal.audioEnergy(df, "doc_id", "pcm", width = 4, stride = 3)
      .select("window_idx", "energy").as[(Long, Long)].collect().toMap
    // w0: (0)^2 + (2)^2 + (-2)^2 + (0)^2 = 8 ; w1: (0)^2 + (10)^2 + (-10)^2 = 200
    assert(got == Map(0L -> 8L, 1L -> 200L), got.toString)
    // empty payload produces zero windows, not a crash
    val empty = Multimodal.audioEnergy(
      Seq((4L, Array.empty[Byte])).toDF("doc_id", "pcm"), "doc_id", "pcm", 4, 3)
    assert(empty.count() == 0L)
  }

  test("audioFingerprintPairs: planted duplicates vote 4-of-4, threshold filters noise") {
    // three clips of 16 bytes: a and b identical (every landmark matches),
    // c shares a's first window but diverges after — at minShared=4 only
    // the planted duplicate survives; at 1 the (a,c) single-landmark
    // collision also appears (the inverted-index candidate, pre-vote)
    val base = Array.tabulate[Byte](16)(i => ((i * 37 + 40) & 0xff).toByte)
    // window 0 covers bytes [0,6) (width 6, stride 4): diverge from byte 6
    // so exactly that landmark is shared
    val c = base.clone(); (6 until 16).foreach(i => c(i) = ((c(i) + 90) & 0xff).toByte)
    val df = Seq((1L, base), (2L, base.clone()), (3L, c)).toDF("doc_id", "pcm")
    def pairs(minShared: Int) =
      Multimodal.audioFingerprintPairs(df, "doc_id", "pcm",
          width = 6, stride = 4, bandDiv = 1024L, minShared = minShared)
        .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(pairs(4) == Seq((1L, 2L, 4L)), s"got=${pairs(4)}")
    val loose = pairs(1)
    assert(loose.contains((1L, 2L, 4L)) && loose.exists(p => p._1 == 1L && p._2 == 3L),
      s"got=$loose")
  }

  test("ImageIoDecoder: real PNG decode — noisy copies pair within hamming<=3, unrelated don't") {
    import java.awt.image.BufferedImage

    def png(w: Int, h: Int, noise: Int, seed: Long)(f: (Int, Int) => Int): Array[Byte] = {
      val rnd = new scala.util.Random(seed)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (f(x, y) + (if (noise > 0) rnd.nextInt(2 * noise + 1) - noise else 0))
          .max(0).min(255)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // structured low-frequency scenes (what real photos look like to a DCT)
    def sceneA(x: Int, y: Int): Int = 40 + (x * 3) / 2 + (if (y > 24) 60 else 0)
    def sceneB(x: Int, y: Int): Int =
      200 - 2 * y + (if ((x / 16) % 2 == 0) 40 else -20)
    val rows = Seq(
      (1L, png(96, 64, 0, 0)(sceneA)),       // base
      (2L, png(96, 64, 4, 7)(sceneA)),       // same scene, per-pixel noise
      (3L, png(96, 64, 0, 0)(sceneB)),       // unrelated scene
      (4L, png(96, 64, 4, 11)(sceneB)))      // its noisy copy
    val df = rows.toDF("doc_id", "img")

    val meta = Multimodal.extractMeta(df, "doc_id", "img", Multimodal.ImageIoDecoder)
    val m = meta.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // header fields come from the real decoded raster, not the stub formula
    assert(m.values.forall(r => r.getAs[Long]("width") == 96 &&
      r.getAs[Long]("height") == 64 && r.getAs[Long]("channels") == 3))

    // pHash over the DCT features through the same banded pair machinery the
    // registered query uses: noisy copies pair, cross-scene pairs don't
    val ph = meta.select(col("doc_id").as("id"), Multimodal.phash(col("feat")).as("ph"))
    val pairs = graft.operators.SimHash.nearPairs(ph, "id", "ph")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)), s"got $pairs")
  }

  test("cluster-balanced sample: exactly isqrt(|cluster|) kept per cluster (density flattened)") {
    val spark2 = spark; import spark2.implicits._
    val out = SparkEntry.queries("sim_cluster_sample")(spark, sfDir)
    val per = out.groupBy("cent_id", "n_members", "quota")
      .agg(count(lit(1)).as("n_sel"))
      .as[(Long, Long, Long, Long)].collect()
    assert(per.nonEmpty)
    per.foreach { case (c, n, q, sel) =>
      assert(sel == q, s"cluster $c kept $sel != quota $q")
      assert(q * q <= n && (q + 1) * (q + 1) > n, s"quota $q is not isqrt($n)")
    }
    // flattening: the kept-share ratio across clusters is the SQRT of the
    // size ratio — dense clusters are down-weighted relative to sparse ones
    val sizes = per.map(_._2); val quotas = per.map(_._3)
    if (sizes.min > 0)
      assert(quotas.max.toDouble / quotas.min <= math.sqrt(sizes.max.toDouble / sizes.min) + 1)
  }

  test("CDC chunks: lossless cover per doc, and boundaries REALIGN after a prefix edit") {
    import graft.operators.Cdc
    val spark2 = spark; import spark2.implicits._
    val docs = Readers.fixture(spark, sfDir, "documents")
    val ch = Cdc.chunks(docs, "doc_id", "text", 16, 64).persist()
    // chunks tile each document exactly: per-doc clen sums to length(text),
    // starts/ends are contiguous (no gap, no overlap)
    val cover = ch.groupBy("doc_id").agg(sum("clen").as("covered"))
      .join(docs.select(col("doc_id"), length(col("text")).cast("long").as("len")), "doc_id")
      .filter(col("covered") =!= col("len"))
    assert(cover.isEmpty, cover.take(3).mkString(","))
    // the content-defined property: prepend one char to every doc — a
    // fixed-size blocker would shift EVERY block; content-defined cuts
    // realign after the first boundary, so most distinct chunk hashes
    // survive the edit
    val edited = docs.select(col("doc_id"), concat(lit("X"), col("text")).as("text"))
    val ch2 = Cdc.chunks(edited, "doc_id", "text", 16, 64)
    val before = ch.select("ch").distinct()
    val after = ch2.select("ch").distinct()
    val shared = before.intersect(after).count()
    val n = before.count()
    assert(shared * 10 >= n * 7,
      s"only $shared/$n distinct chunks survived a 1-char prefix edit — boundaries are not content-defined")
    ch.unpersist()
  }

  test("rolling CDC kernel matches a driver-side Karp-Rabin reference on every fixture doc") {
    val spark2 = spark; import spark2.implicits._
    val (w, d) = (16, 64)
    // independent Scala reference: direct per-window polynomial (the
    // DuckDB oracle's algorithm) — any drift in the rolling update,
    // modulus handling, or codegen shows up as a cut-set mismatch
    def refCuts(s: String): Seq[Int] = {
      val M = 2147483647L
      (0 to s.length - w).flatMap { st =>
        var h = 0L
        (st until st + w).foreach(j => h = (h * 31L + s.charAt(j).toLong) % M)
        if (h % d == 0) Some(st + w) else None
      }
    }
    val docs = Readers.fixture(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val sparkCuts = Readers.fixture(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.functions.CdcFunctions.cdcCuts(col("text"), w, d).as("cuts"))
      .as[(Long, Seq[Int])].collect().toMap
    docs.foreach { case (id, t) =>
      assert(sparkCuts(id) == refCuts(t), s"doc $id cut mismatch")
    }
    // rolling chunks keep the CDC cover property too
    val ch = graft.operators.Cdc.chunksRolling(
      Readers.fixture(spark, sfDir, "documents"), "doc_id", "text", w, d)
    val cover = ch.groupBy("doc_id").agg(sum("clen").as("covered"))
      .join(Readers.fixture(spark, sfDir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("len")), "doc_id")
      .filter(col("covered") =!= col("len"))
    assert(cover.isEmpty)
  }

  test("whole-row chunk expression equals the lag-window rolling chunker bit-for-bit") {
    import graft.operators.Cdc
    val docs = Readers.fixture(spark, sfDir, "documents")
    val viaWindow = Cdc.chunksRolling(docs, "doc_id", "text", 16, 64)
      .select("doc_id", "cstart", "clen", "ch")
    val viaRow = docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text").as("__t"),
        Cdc.chunkEnds(col("text"), 16, 64).as("__ends"))
      .select(col("doc_id"),
        explode(Cdc.chunkStructsFromEnds(col("__t"), col("__ends"))).as("c"))
      .select(col("doc_id"), col("c.cstart"), col("c.clen"), col("c.ch"))
    assert(viaWindow.exceptAll(viaRow).isEmpty && viaRow.exceptAll(viaWindow).isEmpty,
      "streaming-safe whole-row chunking diverged from the batch lag-window form")
  }

  test("ImageIoDecoder golden pin: exact DCT features for a deterministic PNG") {
    // byte-level honesty check on the pluggable decoder boundary: the PNG
    // encoding AND the decode output are both pinned, so a silent change to
    // the downsample grid, luminance weights, DCT, or quantization step —
    // or a JDK imageio behavior shift — fails loudly instead of just
    // drifting every pHash. Golden values computed once from this exact
    // generator (48×32 RGB ramp + checker blue channel).
    import java.awt.image.BufferedImage
    val (w, h) = (48, 32)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = x * 255 / (w - 1); val g = y * 255 / (h - 1); val b = ((x + y) % 2) * 255
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val bytes = bos.toByteArray
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString
    assert(md5 == "bb52b65829e71f7a897948d358ee6c10",
      s"PNG encoder output changed: $md5 (decode pins below would be stale)")
    val (dw, dh, ch, feat) = Multimodal.ImageIoDecoder.decode(bytes)
    assert((dw, dh, ch) == (48L, 32L, 3L), s"header ($dw,$dh,$ch)")
    assert(feat.toSeq == Seq[Long](253, -32, 0, -3, -63, 0, 0, 0, 0, 0, 0, 0, -7, 0, 0, 0),
      s"DCT features drifted: ${feat.mkString(",")}")
  }

  test("decodeStub survives short and empty payloads (zero-filled header bytes)") {
    val (w, h, c, hist) = Multimodal.decodeStub(Array.empty[Byte])
    assert((w, h, c) == (32L, 32L, 1L) && hist.forall(_ == 0L))
    val (w2, _, c2, hist2) = Multimodal.decodeStub(Array[Byte](0x21))
    assert(w2 == 32L + 0x21 % 224 && c2 == 1L && hist2.sum == 1L)
  }

  test("driver union-find equals distributed label propagation") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val viaUf = DedupClusters.components(pairs)
      .as[(Long, Long)].collect().toSet
    val viaProp = DedupClusters.propagate(pairs)
      .as[(Long, Long)].collect().toSet
    assert(viaUf == viaProp)
    assert(viaUf == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L), (22L, 20L)))
  }

  test("as-of join: exact-time match, between-times match, no-prior-row null") {
    val left = Seq((1L, 100L, 10L), (2L, 100L, 25L), (3L, 100L, 5L), (4L, 200L, 50L))
      .toDF("id", "k", "t")
    val right = Seq((100L, 10L, "a"), (100L, 20L, "b"), (300L, 1L, "z"))
      .toDF("rk", "rt", "v")
    val got = graft.operators.AsOfJoin.asOf(left, right, "k", "t", "rk", "rt", Seq("v"))
      .select("id", "v").as[(Long, String)].collect().toMap
    // id 1: t=10 matches the rt=10 row exactly (<= semantics)
    // id 2: t=25 takes the latest at-or-before, rt=20
    // id 3: t=5 has no prior right row -> null
    // id 4: key 200 has no right rows at all -> null
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> null, 4L -> null))
  }

  test("multi-touch attribution matches a plain-Scala credit split, credit conserved") {
    val ev = Readers.fixture(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, String, Long)].collect().toSeq
    val clicks = ev.filter(_._3 == "click")
    val purchases = ev.filter(_._3 == "purchase")
    val windowUs = 3600000000L
    val touches = for {
      (cid, cu, _, cts) <- clicks; (pid, pu, _, pts) <- purchases
      if cu == pu && pts >= cts && pts - cts <= windowUs
    } yield (cid, pid)
    val perPurchase = touches.groupBy(_._2).view.mapValues(_.size).toMap
    val want = touches.groupBy(_._1).map { case (cid, ts) =>
      (cid, ts.size.toLong, ts.map(t => 1000000L / perPurchase(t._2)).sum)
    }.toSeq.sorted
    val got = SparkEntry.queries("ev_attribution_multi")(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got == want && got.nonEmpty)
    // conservation: each purchase hands out n·(1e6 DIV n) ≤ 1e6 credit —
    // the integer remainder stays unassigned, never double-counted
    val totalCredit = got.map(_._3).sum
    val expectTotal = perPurchase.values.map(n => n.toLong * (1000000L / n)).sum
    assert(totalCredit == expectTotal && totalCredit <= 1000000L * perPurchase.size)
  }

  test("forward as-of: exact-time match, next-row match, no-following-row null") {
    val left = Seq((1L, 100L, 10L), (2L, 100L, 15L), (3L, 100L, 25L), (4L, 200L, 50L))
      .toDF("id", "k", "t")
    val right = Seq((100L, 10L, "a"), (100L, 20L, "b"), (300L, 1L, "z"))
      .toDF("rk", "rt", "v")
    val got = graft.operators.AsOfJoin
      .asOfForward(left, right, "k", "t", "rk", "rt", Seq("v"))
      .select("id", "v").as[(Long, String)].collect().toMap
    // id 1: t=10 matches the rt=10 row exactly (>= semantics)
    // id 2: t=15 takes the earliest at-or-after, rt=20
    // id 3: t=25 has no following right row -> null
    // id 4: key 200 has no right rows at all -> null
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> null, 4L -> null))
  }

  test("row diff classifies added/removed/changed rows") {
    val base = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val other = Seq((2, "b"), (3, "CHANGED"), (4, "d")).toDF("id", "v")
    val d = RowDiff.diff(base, other, TableSpec("t", Seq("id")))
      .as[(Int, String)].collect().toMap
    assert(d == Map(1 -> "only_a", 3 -> "differs", 4 -> "only_b"))
  }

  test("column diff names exactly the tweaked columns of differing rows") {
    val base = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)).toDF("id", "v", "x")
    val other = Seq((1, "a", 10.0), (2, "B", 20.0), (3, "CHANGED", 31.5), (4, "d", 40.0))
      .toDF("id", "v", "x")
    val got = RowDiff.diffColumns(base, other, TableSpec("t", Seq("id")))
      .as[(Int, String)].collect().toSeq
    // id 2: only v tweaked; id 3: both; id 1 identical and id 4 only_b — no rows
    assert(got == Seq((2, "v"), (3, "v"), (3, "x")))
  }

  test("firstDiffs: both drill-down reports' first rows from one join") {
    // id 5's two columns concatenate to the same text on both sides, so its
    // row hashes agree while its columns differ: the column report names it,
    // the row report does not
    val a = Seq((1, "a", "x"), (2, "b", "y"), (3, "c", "z"), (5, "ab", "c"), (6, "f", "u"))
      .toDF("id", "v", "w")
    val b = Seq((2, "B", "y"), (3, "C", "Z"), (4, "d", "t"), (5, "a", "bc"), (6, "F", "U"))
      .toDF("id", "v", "w")
    val spec = TableSpec("t", Seq("id"))
    for (limit <- Seq(2, 20)) {
      val (rows, cols) = RowDiff.firstDiffs(a, b, spec, graft.core.VerifyConfig(), limit)
      assert(rows == RowDiff.diff(a, b, spec).limit(limit).collect().toSeq, limit)
      assert(cols == RowDiff.diffColumns(a, b, spec).limit(limit).collect().toSeq, limit)
    }
    val (rows, cols) = RowDiff.firstDiffs(a, b, spec, graft.core.VerifyConfig(), 20)
    assert(!rows.exists(_.getInt(0) == 5) && cols.count(_.getInt(0) == 5) == 2, (rows, cols))
  }

  test("column diff resolves heterogeneous identifier casing per side") {
    // Derby-style uppercase vs PG-style lowercase physical columns — the
    // drill-down's advertised cross-engine case; names must resolve against
    // each side's own schema
    val a = Seq((1, "x", 1.0), (2, "y", 2.0)).toDF("ID", "V", "X")
    val b = Seq((1, "x", 1.0), (2, "Y", 2.0)).toDF("id", "v", "x")
    val got = RowDiff.diffColumns(a, b, TableSpec("t", Seq("id")))
      .as[(Int, String)].collect().toSeq
    assert(got == Seq((2, "V")))
  }

  test("integer pagerank: mass bounds, hub dominance, partitioning invariance") {
    // star graph: hub 0 <-> spokes 1..8, plus an off-star edge 1 <-> 9
    val undirected = Seq.tabulate(8)(i => (0L, i + 1L)) :+ (1L, 9L)
    val edges = (undirected ++ undirected.map(_.swap)).toDF("src", "dst")
    val ranks = Graph.pageRank(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every node ranked; total mass never exceeds n*unit and integer
    // truncation may only leak DOWNWARD, boundedly
    assert(ranks.size == 10)
    val total = ranks.values.sum
    assert(total <= 10L * 1000000L && total > 9L * 1000000L, total)
    // the hub out-ranks every spoke; the spoke with the extra edge
    // out-ranks plain spokes; the leaf ranks below its (rich) parent but
    // above plain spokes — it receives half of 1's mass undiluted
    assert(ranks(0L) > ranks(1L) && ranks(1L) > ranks(2L), ranks.toString)
    assert(ranks(9L) < ranks(1L) && ranks(9L) > ranks(2L), ranks.toString)
    // integer arithmetic makes the result partitioning-independent
    val reparted = Graph.pageRank(edges.repartition(13), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reparted == ranks)
  }

  test("z-order: zValue equals a plain-Scala bit interleave; buckets are tile-bounded") {
    // expression path vs an independent reference interleave over a key grid
    // that exercises every bit lane up to the `bits` budget
    def refZ(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val keys = for (x <- Seq(0L, 1L, 2L, 5L, 255L, 256L, 1048575L);
                    y <- Seq(0L, 1L, 3L, 127L, 128L, 2097151L)) yield (x, y)
    val got = keys.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zValue(col("x"), col("y"), 21).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z == refZ(x, y, 21), s"($x,$y)") }

    // the locality invariant the layout exists for: with tileShift=16 every
    // bucket's (x, y) bounding box fits a 256×256 tile — per-file min/max
    // stats then prune on EITHER key, which row-order layout cannot do
    val li = Readers.fixture(spark, sfDir, "lineitem")
    val stats = Layout.zBucketStats(li, "l_partkey", "l_suppkey", bits = 21, tileShift = 16)
      .select(max(col("x_max") - col("x_min")), max(col("y_max") - col("y_min")),
        sum(col("n_rows")))
      .as[(Long, Long, Long)].head()
    assert(stats._1 < 256 && stats._2 < 256, stats.toString)
    assert(stats._3 == li.count(), "bucket stats must partition the table exactly")
  }

  test("z-order: out-of-domain keys fail loudly instead of aliasing into wrong tiles") {
    // a key >= 2^bits would silently collide with a low key's tile if the
    // interleave just dropped the high bits — the guard must throw instead
    val bad = Seq((5L, 1L << 21), ((1L << 21) + 3L, 7L), (-1L, 4L))
    bad.foreach { case (x, y) =>
      val ex = intercept[Exception] {
        Seq((x, y)).toDF("x", "y")
          .select(Layout.zValueChecked(col("x"), col("y"), 21).as("z"))
          .collect()
      }
      assert(ex.getMessage.contains("zValue domain overflow") ||
        Option(ex.getCause).exists(_.getMessage.contains("zValue domain overflow")),
        s"($x,$y): ${ex.getMessage}")
    }
    // in-domain inputs produce the identical z-value through the guard
    val ok = Seq((0L, 0L), (255L, 127L), ((1L << 21) - 1L, (1L << 21) - 1L))
    val viaChecked = ok.toDF("x", "y")
      .select(Layout.zValueChecked(col("x"), col("y"), 21).as("z")).as[Long].collect()
    val viaPlain = ok.toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"), 21).as("z")).as[Long].collect()
    assert(viaChecked.toSeq == viaPlain.toSeq)
  }

  test("triangles: degree-oriented enumeration equals the naive closure, each exactly once") {
    // K4 on {1..4} (4 triangles), a pendant 4-5, and a hub 0 wired to
    // 1..4 (hub triangles exercise the orientation flip at high degree)
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val edges = (k4 :+ (4L, 5L)) ++ (1L to 4L).map(i => (0L, i))
    val got = Graph.triangles(edges.toDF("a", "b"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    // naive reference: all id-ordered triples whose three edges exist
    val es = edges.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val want = for (u <- nodes; v <- nodes if u < v && es((u, v));
                    w <- nodes if v < w && es((v, w)) && es((u, w))) yield (u, v, w)
    assert(got == want.sorted, s"got=$got")
    assert(got.size == 10) // C(4,3)=4 inside K4 + C(4,2)=6 through the hub
    // duplicate-free by construction: every triangle appears exactly once
    assert(got.distinct == got)
  }

  test("nodeSimilarity: per-edge neighbor Jaccard equals the naive set intersection") {
    // K4 on {1..4}, a pendant 4-5 (zero overlap — 5's only neighbor is 4),
    // and a hub 0 wired to 1..4 (pushes the high-degree orientation path)
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val edges = (k4 :+ (4L, 5L)) ++ (1L to 4L).map(i => (0L, i))
    val got = Graph.nodeSimilarity(edges.toDF("a", "b"))
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    // naive reference: adjacency sets, common = |N(a)∩N(b)|,
    // jac = common * 1e6 div (|N(a)| + |N(b)| - common)
    val adj = edges.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).map { case (n, ps) => n -> ps.map(_._2).toSet }
    val want = edges.map { case (a, b) =>
      val c = (adj(a) intersect adj(b)).size.toLong
      (a, b, c, c * 1000000L / (adj(a).size + adj(b).size - c))
    }.sorted
    assert(got == want, s"got=$got\nwant=$want")
    // spot checks: edge (1,2) inside K4+hub — common {0,3,4}, degrees 4+4,
    // union 5 → 3e6 div 5; pendant (4,5) shares nothing → 0
    assert(got.contains((1L, 2L, 3L, 600000L)))
    assert(got.contains((4L, 5L, 0L, 0L)))
  }

  test("linkPrediction: open-wedge counts, edges excluded, hub cap drops wide centers") {
    // path 1-2-3 plus 1-4, 3-4: non-edge (1,3) has common {2,4}; (2,4) has
    // {1,3}; edges themselves must not appear
    val g = Seq((1L, 2L), (2L, 3L), (1L, 4L), (3L, 4L))
    val got = Graph.linkPrediction(g.toDF("a", "b"), maxCenterDeg = 30, topN = 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 2L), (2L, 4L, 2L)), s"got=$got")
    // a hub center wider than the cap contributes no wedges: star 0-{1..5}
    // with cap 4 yields nothing (the only common neighbors route through 0)
    val star = (1L to 5L).map(i => (0L, i))
    assert(Graph.linkPrediction(star.toDF("a", "b"), maxCenterDeg = 4, topN = 10)
      .count() == 0L)
    // and with the cap raised the star's leaf pairs all score 1
    assert(Graph.linkPrediction(star.toDF("a", "b"), maxCenterDeg = 5, topN = 100)
      .count() == 10L) // C(5,2)
  }

  test("bfs levels: minimum hop distance, early exit, unreachable absent") {
    // chain 1->2->3->4->5 plus a shortcut 1->4 (min beats the long path),
    // a cycle edge 3->1 (revisits must not lower a settled level), and an
    // isolated component 8->9 that no source reaches
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L), (3L, 1L), (8L, 9L))
    val got = Graph.bfsLevels(edges.toDF("src", "dst"), Seq(1L).toDF("node"), maxDepth = 5)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got == Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 1L), (5L, 2L)), s"got=$got")
    // depth cap truncates: only 1 hop explored
    val capped = Graph.bfsLevels(edges.toDF("src", "dst"), Seq(1L).toDF("node"), maxDepth = 1)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(capped == Seq((1L, 0L), (2L, 1L), (4L, 1L)), s"capped=$capped")
    // multi-source: nearest source wins
    val multi = Graph.bfsLevels(edges.toDF("src", "dst"), Seq(1L, 4L).toDF("node"), maxDepth = 5)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(multi == Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 0L), (5L, 1L)), s"multi=$multi")
  }

  test("reachHll: propagated registers equal explicit-ball estimates; monotone in t") {
    import graft.operators.Sketches
    // two components: a 4-cycle (1..4) and an edge pair (8,9); undirected
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (8L, 9L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Graph.reachHll(edges, iters = 2)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._2) == Seq(6L, 6L, 6L), "every node present at every t")
    // brute-force balls per t, estimated through the same integer fold
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).map { case (s, xs) => (s, xs.map(_._2).toSet) }
    def ball(v: Long, t: Int): Set[Long] =
      (0 until t).foldLeft(Set(v))((b, _) => b ++ b.flatMap(adj.getOrElse(_, Set.empty[Long])))
    val expected = (0 to 2).map { t =>
      val perNode = adj.keySet.toSeq.map { v =>
        val members = ball(v, t).toSeq.map(m => (m, m))
        Sketches.hllEstimateFromRegisters(
          Sketches.hllRegisters(members.toDF("node", "k"), col("k"))
            .collect().toIndexedSeq.map(_.getInt(1)))
      }
      (t.toLong, perNode.size.toLong, perNode.sum)
    }
    assert(got == expected, s"got=$got expected=$expected")
    // neighborhood function never shrinks with t
    assert(got.map(_._3).sliding(2).forall(w => w.head <= w.last))
  }

  test("kCore: cascading peel, within-core degrees, loud non-convergence") {
    // triangle {1,2,3} plus a pendant path 3-4-5: the path peels in a
    // CASCADE (5 leaves first, which drops 4 to degree 1), leaving the
    // triangle as the 2-core with within-core degree 2 everywhere
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
    val core2 = Graph.kCore(g.toDF("a", "b"), k = 2)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(core2 == Seq((1L, 2L), (2L, 2L), (3L, 2L)), s"core2=$core2")
    // no 3-core exists: the peel must terminate on the empty fixpoint
    assert(Graph.kCore(g.toDF("a", "b"), k = 3).count() == 0L)
    // K4 is its own 3-core (nothing peels on the first round)
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val core3 = Graph.kCore(k4.toDF("a", "b"), k = 3)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(core3 == (1L to 4L).map((_, 3L)), s"core3=$core3")
    // a cascade longer than maxRounds must throw, not silently stop early
    // (the oracle unrolls exactly maxRounds stages): an 8-chain peels one
    // node per end per round, needing 4 rounds to empty
    val chain = (1L to 7L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      Graph.kCore(chain.toDF("a", "b"), k = 2, maxRounds = 2).count()
    }
  }

  test("pairRules: hand-computed supports, apriori prune, dedup of raw rows") {
    // 4 baskets: {x,y} {x,y} {x,z} {y} plus a duplicated (1,x) row the
    // operator must dedupe; z has support 1 and must be pruned before
    // pairing (so (x,z) never reaches the pair join even though it co-occurs)
    val rows = Seq((1L, "x"), (1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"), (4L, "y"))
    val got = Itemsets.pairRules(rows.toDF("basket", "item"), minSupport = 2L)
      .as[(String, String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // x: 3 baskets, y: 3 baskets, pair (x,y): 2, n_baskets: 4
    // conf_xy = 2e6 div 3 = 666666; lift = (666666 * 4) div 3 = 888888
    assert(got == Seq(("x", "y", 2L, 3L, 3L, 666666L, 666666L, 888888L)), s"got=$got")
    // raising minSupport past the pair count empties the output
    assert(Itemsets.pairRules(rows.toDF("basket", "item"), minSupport = 3L).count() == 0L)
  }

  test("pairRules: wide-basket guard drops the mega-basket, narrow pairs survive") {
    // basket 1 holds 4 frequent items (over the cap of 3) -> drops WHOLE,
    // so (x, y) counts only baskets 2 and 3; with the cap raised to 4 the
    // mega-basket contributes again and (x, y) rises to 3 (its z/w pairs
    // stay below the pair-level min support either way)
    val rows = (Seq("x", "y", "z", "w").map((1L, _))
      ++ Seq((2L, "x"), (2L, "y"), (3L, "x"), (3L, "y"), (4L, "z"), (5L, "w")))
    def pairs(cap: Long): Map[(String, String), Long] =
      Itemsets.pairRules(rows.toDF("basket", "item"), minSupport = 2L,
          maxBasketItems = cap)
        .select("item_a", "item_b", "pair_n")
        .as[(String, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs(3L) == Map(("x", "y") -> 2L), pairs(3L).toString)
    assert(pairs(4L) == Map(("x", "y") -> 3L), pairs(4L).toString)
  }

  test("dimStats: hand-computed floor-quantized moments, negative values") {
    // exact binary fractions so float->double widening is identity; the
    // negative lane pins floor (toward -inf), not truncation
    val vecs = Seq(
      (1L, Array(0.25f, -0.5f)),
      (2L, Array(0.75f, 1.5f)))
    val got = Similarity.dimStats(vecs.toDF("vec_id", "embedding"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq.sorted
    // dim 0: q = 250000, 750000 -> sum 1e6; m = 250, 750 -> sumsq 625000
    // dim 1: q = -500000, 1500000 -> sum 1e6; m = -500, 1500 -> sumsq 2500000
    assert(got == Seq(
      (0L, 2L, 1000000L, 250000L, 750000L, 625000L),
      (1L, 2L, 1000000L, -500000L, 1500000L, 2500000L)), s"got=$got")
  }

  test("assignCellExpr (streaming-safe argmax) equals assignRanked's home cell") {
    // the windowed and the expression assignment must agree EVERYWHERE,
    // ties included, or the streaming occupancy monitor silently drifts
    // from the batch index it watches
    val e = emb.limit(150)
    val cents = Similarity.collectCentroids(e, 8)
    val viaExpr = e.select(col("vec_id"),
        Similarity.assignCellExpr(col("embedding"), cents).as("cell"))
      .as[(Long, Long)].collect().toMap
    val viaRank = Similarity.assignRanked(e, Similarity.sampleCentroids(e, 8))
      .filter(col("rn") === 1).select(col("vec_id"), col("cent_id"))
      .as[(Long, Long)].collect().toMap
    assert(viaExpr == viaRank)
  }

  test("rrfFuse: hand-computed reciprocal-rank sums, doc in one list only") {
    // A ranks (n1, n2); B ranks (n2, n3). kConst=60:
    // n1 = 1e6/61 = 16393; n2 = 1e6/62 + 1e6/61 = 16129 + 16393 = 32522;
    // n3 = 16129 — n2 wins on presence in BOTH lists despite no #1 in A
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("query_id", "neighbor_id", "rank")
    val b = Seq((1L, 20L, 1L), (1L, 30L, 2L)).toDF("query_id", "neighbor_id", "rank")
    val got = Similarity.rrfFuse(Seq(a, b), k = 3)
      .select("query_id", "neighbor_id", "rrf_micro", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 20L, 32522L, 1L), (1L, 10L, 16393L, 2L), (1L, 30L, 16129L, 3L)), s"got=$got")
  }

  test("rerankExact of the complete pair set reproduces exact topK") {
    // the identity that makes two-stage retrieval trustworthy: rerank is
    // exact-cosine rankTopK over whatever pairs it is given, so given ALL
    // pairs it must equal the brute-force baseline bit for bit
    val queries = emb.filter(col("vec_id") < 4)
    val allPairs = queries.select(col("vec_id").as("query_id"))
      .crossJoin(emb.select(col("vec_id").as("neighbor_id")))
      .filter(col("query_id") =!= col("neighbor_id"))
    val viaRerank = Similarity.rerankExact(allPairs, emb, 5)
      .select("query_id", "neighbor_id", "cos_micro", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val viaTopK = Similarity.topK(queries, emb, 5)
      .select("query_id", "neighbor_id", "cos_micro", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(viaRerank == viaTopK)
  }

  test("incremental candidates equal the full run minus existing-only pairs") {
    // the defining identity of the ingest shape: full candidates partition
    // into new×new + new×old + old×old; the incremental path must produce
    // exactly the first two (same pairs, same signature-match counts)
    val isNew = col("doc_id") % 10 === 9
    val sigsNew = MinHashLSH.signaturesFromShingles(
      MinHashLSH.shingled(docs.filter(isNew), "doc_id", "text", 3), 16)
    val sigsIdx = MinHashLSH.signaturesFromShingles(
      MinHashLSH.shingled(docs.filter(!isNew), "doc_id", "text", 3), 16)
    val got = MinHashLSH.incrementalCandidates(sigsNew, sigsIdx, 16, 4)
      .select("doc_a", "doc_b", "n_matching")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val newIds = docs.filter(isNew).select(col("doc_id")).as[Long].collect().toSet
    val want = MinHashLSH.candidatePairs(docs, "doc_id", "text", 3, 16, 4)
      .select("doc_a", "doc_b", "n_matching")
      .as[(Long, Long, Long)].collect().toSeq
      .filter(p => newIds(p._1) || newIds(p._2)).sorted
    assert(got == want && got.nonEmpty,
      s"incremental=${got.size} pairs, full-minus-existing=${want.size}")
  }

  test("incremental paragraph dedup equals the full two-pass restricted to new docs") {
    // the identity dedup_paragraph_incremental's oracle leans on: paragraph
    // dup detection over delta+index candidates, rolled up per NEW doc, must
    // equal the full-corpus two-pass filtered to the new batch — same
    // counts, same ratio, same drop verdict
    val isNew = col("doc_id") % 10 === 9
    val inc = MinHashLSH.paragraphDedupIncremental(
      docs.filter(isNew), docs.filter(!isNew), "doc_id", "text",
      paraTokens = 10, shingleN = 3, numPerm = 16, numBands = 4,
      minMatching = 12, dropRatioMicro = 600000L)
      .select("doc_id", "n_paras", "n_dup_paras", "dup_ratio_micro", "drop_doc")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq.sorted
    val full = MinHashLSH.paragraphDedup(docs, "doc_id", "text",
      paraTokens = 10, shingleN = 3, numPerm = 16, numBands = 4,
      minMatching = 12, dropRatioMicro = 600000L)
      .filter(isNew)
      .select("doc_id", "n_paras", "n_dup_paras", "dup_ratio_micro", "drop_doc")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq.sorted
    assert(inc == full && inc.nonEmpty,
      s"incremental=${inc.size} docs, full-restricted=${full.size}")
    assert(inc.exists(_._3 > 0), "fixture's new batch has planted paragraph dups")
  }

  test("incremental paragraph dedup releases every cache it builds") {
    // parameters no other test uses, so no cached plan is shared with them
    val isNew = col("doc_id") % 10 === 3
    val baseline = spark.sparkContext.getPersistentRDDs.size
    val out = MinHashLSH.paragraphDedupIncremental(
      docs.filter(isNew), docs.filter(!isNew), "doc_id", "text",
      paraTokens = 11, shingleN = 3, numPerm = 16, numBands = 4,
      minMatching = 12, dropRatioMicro = 500000L)
    assert(out.count() > 0)
    out.unpersist(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.size == baseline)
  }

  test("paragraph gate from a persisted signature index equals the recompute path") {
    // the O(delta + index) claim, executed: persist the corpus's paragraph
    // signatures once, then an ingest that reads ONLY the index (corpus
    // text never re-read) must produce the recompute form's exact output —
    // and the sig-index parameter guard must hold at paragraph granularity
    val isNew = col("doc_id") % 10 === 9
    val sample = docs.filter(col("doc_id") < 200)
    val idxSigs = MinHashLSH.paragraphSigs(
      sample.filter(!isNew), "doc_id", "text", paraTokens = 10,
      shingleN = 3, numPerm = 16)
    val path = java.nio.file.Files.createTempDirectory("graft-parasig")
      .resolve("idx").toString
    MinHashLSH.writeSigIndex(idxSigs, numPerm = 16, numBands = 4,
      shingleN = 3, path)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_paras", "n_dup_paras", "dup_ratio_micro", "drop_doc")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq.sorted
    val viaDisk = rows(MinHashLSH.paragraphDedupFromIndex(
      sample.filter(isNew), MinHashLSH.readSigIndex(spark, path, 16, 4, 3),
      "doc_id", "text", 10, 3, 16, 4, 12, 600000L))
    val viaRecompute = rows(MinHashLSH.paragraphDedupIncremental(
      sample.filter(isNew), sample.filter(!isNew),
      "doc_id", "text", 10, 3, 16, 4, 12, 600000L))
    assert(viaDisk == viaRecompute && viaDisk.nonEmpty)
    intercept[IllegalArgumentException] {
      MinHashLSH.readSigIndex(spark, path, 32, 4, 3)
    }
  }

  test("distributed globalRank is bit-identical to the single-partition global window") {
    // the DSIR-selection rank rewrite: range-partition + per-partition
    // window + broadcast offsets must reproduce the global `row_number()`
    // exactly under a total order, at any partition count (1 included)
    import org.apache.spark.sql.expressions.Window
    val scored = docs.select(col("doc_id"), col("n_chars"))
    val viaWindow = scored.withColumn("rnk", row_number().over(
        Window.orderBy(col("n_chars").desc, col("doc_id").asc)).cast("long"))
      .select("doc_id", "rnk").as[(Long, Long)].collect().toSeq.sorted
    for (parts <- Seq(1, 7, 32)) {
      val ranked = Ranks.globalRank(
        scored, Seq(col("n_chars").desc, col("doc_id").asc), "rnk", parts)
      val viaRanks = ranked
        .select("doc_id", "rnk").as[(Long, Long)].collect().toSeq.sorted
      // release the result cache: a lingering persisted rank frame would be
      // cache-substituted into other suites' identical plans (PlanSpec's
      // Window-node pin saw exactly that)
      ranked.unpersist(blocking = false)
      assert(viaRanks == viaWindow, s"parts=$parts")
    }
  }

  test("globalRank + ntileFromRank equals the ntile window, awkward N mod k included") {
    // the bucket-size convention is the trap: SQL ntile gives the first
    // N mod k buckets one extra row; a naive (rank-1)·k div N formula
    // produces (3,2,3,2) where ntile(4) over 10 rows gives (3,3,2,2)
    import org.apache.spark.sql.expressions.Window
    val scored = docs.select(col("doc_id"), col("n_chars")).limit(103)
    val n = scored.count()
    val order = Seq(col("n_chars").desc, col("doc_id").asc)
    val ranked = Ranks.globalRank(scored, order, "rnk", 7)
    for (k <- Seq(4, 5, 7, 100, 200)) {
      val viaRank = ranked
        .withColumn("b", Ranks.ntileFromRank("rnk", n, k))
        .select("doc_id", "b").as[(Long, Long)].collect().toSeq.sorted
      val viaWindow = scored
        .withColumn("b", ntile(k).over(Window.orderBy(order: _*)).cast("long"))
        .select("doc_id", "b").as[(Long, Long)].collect().toSeq.sorted
      assert(viaRank == viaWindow, s"k=$k")
    }
    ranked.unpersist(blocking = false)
  }

  test("signature index round-trips; a parameter mismatch fails loudly, not silently") {
    val sigs = MinHashLSH.signaturesFromShingles(
      MinHashLSH.shingled(docs.limit(50), "doc_id", "text", 3), 16)
    val path = java.nio.file.Files.createTempDirectory("graft-sigidx")
      .resolve("idx").toString
    MinHashLSH.writeSigIndex(sigs, numPerm = 16, numBands = 4, shingleN = 3, path)
    // matched parameters: identical signatures back, metadata stripped
    val back = MinHashLSH.readSigIndex(spark, path, 16, 4, 3)
    assert(back.columns.toSeq == Seq("id", "sig"))
    assert(back.select("id").as[Long].collect().sorted.toSeq ==
      sigs.select("id").as[Long].collect().sorted.toSeq)
    // any drifted parameter must refuse the read — a mismatched probe would
    // otherwise silently miss near-dups instead of erroring
    for ((p, b, s) <- Seq((32, 4, 3), (16, 8, 3), (16, 4, 5))) {
      val ex = intercept[IllegalArgumentException] {
        MinHashLSH.readSigIndex(spark, path, p, b, s)
      }
      assert(ex.getMessage.contains("silently miss near-duplicates"), ex.getMessage)
    }
    // empty index carries no metadata rows and probes against anything
    val emptyPath = java.nio.file.Files.createTempDirectory("graft-sigidx-e")
      .resolve("idx").toString
    MinHashLSH.writeSigIndex(sigs.filter(col("id") < 0), 16, 4, 3, emptyPath)
    assert(MinHashLSH.readSigIndex(spark, emptyPath, 99, 9, 9).count() == 0)
  }

  test("incremental pHash screen equals the full pair set restricted to delta-touching pairs") {
    import graft.operators.{Multimodal, SimHash}
    val imgs = docs.select(col("doc_id"),
      substring(col("text"), 1, 32).cast("binary").as("img"))
    val ph = Multimodal.extractMeta(imgs, "doc_id", "img")
      .select(col("doc_id").as("id"), Multimodal.phash(col("feat")).as("ph"))
      .localCheckpoint()
    val isDelta = col("id") % 10 === 9
    val full = SimHash.nearPairs(ph, "id", "ph")
      .filter(col("doc_a") % 10 === 9 || col("doc_b") % 10 === 9)
      .as[(Long, Long, Long)].collect().toSet
    // through the persisted index (restart-safe path), decode on delta only
    val path = java.nio.file.Files.createTempDirectory("graft-phidx")
      .resolve("i").toString
    SimHash.writeHashIndex(ph.filter(!isDelta), "id", "ph", path)
    val inc = SimHash.incrementalNearPairs(ph.filter(isDelta),
        SimHash.readHashIndex(spark, path).withColumnRenamed("sh", "ph"), "id", "ph")
      .as[(Long, Long, Long)].collect().toSet
    assert(inc == full, s"incremental ${inc.size} vs full-restricted ${full.size}")
    // a mismatched banding must refuse the read, not silently lose recall —
    // simulate by tampering with the metadata column
    val bad = java.nio.file.Files.createTempDirectory("graft-phidx-b")
      .resolve("i").toString
    spark.read.parquet(path).withColumn("chunks", lit(8))
      .write.parquet(bad)
    val ex = intercept[IllegalArgumentException](SimHash.readHashIndex(spark, bad))
    assert(ex.getMessage.contains("pigeonhole"), ex.getMessage)
  }

  test("video near-dup matcher: planted dup clips pair, distinct clips don't, incremental == restricted") {
    import graft.operators.Multimodal
    // ids chosen so 9/19 are the delta (id % 10 == 9): the dup pair (1, 9)
    // straddles the index/delta split, (3, 13) sits entirely in the index
    val payload = Seq.tabulate(16)(i => (i * 37 + 11).toByte).toArray
    val other = Seq.tabulate(16)(i => (i * 53 + 5).toByte).toArray
    val third = Seq.tabulate(16)(i => (i * 71 + 2).toByte).toArray
    val clips = Seq((1L, payload), (9L, payload), (3L, other), (13L, other),
      (7L, third)).toDF("doc_id", "vid")
    val full = Multimodal.videoNearDupPairs(clips, "doc_id", "vid", 1, 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(full.map(p => (p._1, p._2)) == Set((1L, 9L), (3L, 13L)), full.toString)
    // identical payloads share ALL their frames
    assert(full.forall(_._3 >= 2))
    val isDelta = col("doc_id") % 10 === 9
    val path = java.nio.file.Files.createTempDirectory("graft-vsidx")
      .resolve("i").toString
    Multimodal.writeFrameSigIndex(
      Multimodal.videoFrameSigs(clips.filter(!isDelta), "doc_id", "vid", 1), 1, path)
    val inc = Multimodal.videoNearDupIncremental(clips.filter(isDelta),
        Multimodal.readFrameSigIndex(spark, path, 1), "doc_id", "vid", 1, 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(inc == full.filter(p => p._1 % 10 == 9 || p._2 % 10 == 9), inc.toString)
    // a different sampling stride must refuse the read
    val ex = intercept[IllegalArgumentException] {
      Multimodal.readFrameSigIndex(spark, path, 2)
    }
    assert(ex.getMessage.contains("disjoint signature sets"), ex.getMessage)
  }

  test("incremental audio matcher equals the full pair set restricted to delta-touching pairs") {
    import graft.operators.Multimodal
    val clips = docs.select(col("doc_id"), unhex(md5(col("text"))).as("pcm"))
    val isDelta = col("doc_id") % 10 === 9
    val full = Multimodal.audioFingerprintPairs(clips, "doc_id", "pcm",
        width = 6, stride = 4, bandDiv = 1024L, minShared = 3)
      .filter(col("doc_a") % 10 === 9 || col("doc_b") % 10 === 9)
      .as[(Long, Long, Long)].collect().toSet
    val path = java.nio.file.Files.createTempDirectory("graft-lmidx")
      .resolve("i").toString
    Multimodal.writeLandmarkIndex(
      Multimodal.audioLandmarks(clips.filter(!isDelta), "doc_id", "pcm", 6, 4, 1024L),
      6, 4, 1024L, path)
    val inc = Multimodal.audioFingerprintIncremental(clips.filter(isDelta),
        Multimodal.readLandmarkIndex(spark, path, 6, 4, 1024L),
        "doc_id", "pcm", 6, 4, 1024L, minShared = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(inc == full, s"incremental ${inc.size} vs full-restricted ${full.size}")
    // drifted quantization must refuse the read
    for ((w, s, b) <- Seq((8, 4, 1024L), (6, 2, 1024L), (6, 4, 512L))) {
      val ex = intercept[IllegalArgumentException] {
        Multimodal.readLandmarkIndex(spark, path, w, s, b)
      }
      assert(ex.getMessage.contains("silently matches nothing"), ex.getMessage)
    }
  }

  test("IVF index round-trips: persisted-index probe equals in-memory; mismatch fails loudly") {
    // restart-safety for sim_ivf_incremental (r9 verdict item 4): the index
    // written today must serve tomorrow's ingest identically, and an index
    // trained with drifted parameters must refuse the probe instead of
    // silently degrading recall
    val isNew = col("vec_id") % 10 === 9
    val corpus = emb.filter(!isNew)
    val cent = KMeans.train(corpus, k = 8, iters = 2)
    val idx = Similarity.assignRanked(corpus, cent).filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cent_id"))
    val inMemory = Similarity.ivfIncrementalTopK(emb.filter(isNew), idx, cent, 10, 2)
      .select("query_id", "neighbor_id", "cos_micro", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(inMemory.nonEmpty)
    val path = java.nio.file.Files.createTempDirectory("graft-ivfidx")
      .resolve("idx").toString
    Similarity.writeIvfIndex(cent, idx, k = 8, iters = 2, path)
    val (centBack, idxBack) = Similarity.readIvfIndex(spark, path, 8, 2)
    val fromDisk = Similarity.ivfIncrementalTopK(emb.filter(isNew), idxBack, centBack, 10, 2)
      .select("query_id", "neighbor_id", "cos_micro", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(fromDisk == inMemory,
      s"persisted-index probe drifted: ${fromDisk.take(3)} vs ${inMemory.take(3)}")
    // drifted training parameters must refuse the read
    for ((k, it) <- Seq((16, 2), (8, 3))) {
      val ex = intercept[IllegalArgumentException] {
        Similarity.readIvfIndex(spark, path, k, it)
      }
      assert(ex.getMessage.contains("silently degrades recall"), ex.getMessage)
    }
    // an empty IVF index is always corruption (it only exists as a training
    // output — unlike the dedup indexes there is no bootstrap-empty state),
    // and probing it would return zero neighbors for every query: refuse it
    val emptyPath = java.nio.file.Files.createTempDirectory("graft-ivfidx-e")
      .resolve("idx").toString
    Similarity.writeIvfIndex(cent.filter(col("cent_id") < 0),
      idx.filter(col("vec_id") < 0), 8, 2, emptyPath)
    val ee = intercept[IllegalArgumentException] {
      Similarity.readIvfIndex(spark, emptyPath, 8, 2)
    }
    assert(ee.getMessage.contains("no centroids"), ee.getMessage)
  }

  test("LSH dedup recall floor: banded candidates keep finding the exact near-dup pairs") {
    // dedup-side twin of the ANN floor above: dedup_lsh_recall measures the
    // banded candidate generation against exact probe-set Jaccard; this gate
    // enforces it. Measured at sf0.001 with (16 perms, 4 bands): recall
    // 1000000 at every band (17/17, 17/17, 16/16) — the fixture's planted
    // near-dups are far above the banding S-curve's midpoint. Floors leave
    // margin for fixture drift while still failing a (perm, band) tuning
    // change that starts dropping real near-dups
    val bands = SparkEntry.queries("dedup_lsh_recall")(spark, sfDir)
      .select("threshold_micro", "n_exact", "recall_micro")
      .as[(Long, Long, Long)].collect()
    info(s"recall per band: ${bands.toSeq}")
    assert(bands.nonEmpty && bands.forall(_._2 > 0), s"empty ground truth: ${bands.toSeq}")
    val high = bands.filter(_._1 >= 900000L)
    assert(high.forall(_._3 >= 900000L), s"high-band recall regressed: ${bands.toSeq}")
    assert(bands.forall(_._3 >= 700000L), s"recall floor breached: ${bands.toSeq}")
  }

  test("compaction plan equals a plain-Scala offset-chunking reference") {
    val target = 4096L
    val got = Layout.compactionPlan(docs, "source", "doc_id", length(col("text")), target)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq.sorted
    // independent reference: per-dir running offset, file joins the bin its
    // START offset falls in; aggregate the same five figures per (dir, bin)
    val files = docs.select(col("source"), col("doc_id").cast("long"),
        length(col("text")).cast("long"))
      .as[(String, Long, Long)].collect().toSeq
    val want = files.groupBy(_._1).toSeq.flatMap { case (dir, fs) =>
      var offset = 0L
      fs.sortBy(_._2).map { case (_, id, bytes) =>
        val bin = offset / target
        offset += bytes
        (dir, bin, id, bytes)
      }.groupBy(_._2).map { case (bin, members) =>
        (dir, bin, members.size.toLong, members.map(_._4).sum,
          members.map(_._3).min, members.map(_._3).max)
      }
    }.sorted
    assert(got == want)
    // conservation: the plan partitions the listing exactly
    assert(got.map(_._3).sum == files.size && got.map(_._4).sum == files.map(_._3).sum)
  }

  test("blocked fuzzy pairs equal brute-force same-block levenshtein<=1 pairs") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j =>
        if (i == 0) j else if (j == 0) i else 0))
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j), d(i)(j - 1)) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val cust = Readers.fixture(spark, sfDir, "customer")
    val got = EntityResolution.blockedFuzzyPairs(cust,
        "c_custkey", "c_name", "c_nationkey", winA = (14, 3), winB = (17, 2), maxDist = 1)
      .select("id_a", "id_b", "dist")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    // brute force over every same-nation pair: equal-length names make a
    // single substitution leave one blocking window untouched (pigeonhole),
    // so the blocked union must find EVERY lev<=1 pair, not just a subset
    val rows = cust.select(col("c_custkey").cast("long"), col("c_name"),
        col("c_nationkey").cast("long"))
      .as[(Long, String, Long)].collect().toSeq
    val want = for {
      (ia, na, ba) <- rows; (ib, nb, bb) <- rows
      if ba == bb && ia < ib && lev(na, nb) <= 1
    } yield (ia, ib, lev(na, nb).toLong)
    assert(got == want.sorted && got.nonEmpty)
  }

  implicit private class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> (r._2, r._3)).toMap
  }
}
