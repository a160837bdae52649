package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Readers
import graft.functions.GraftFunctions.{minhashBands, minhashMatches, minhashSignature}
import graft.operators.{MinHashLSH, TextAnalysis}

/** The MinHash kernels against the relational forms they replaced, kept
  * here as references: signatures as an explode, one md5 column per four
  * lanes and a `min` aggregate; candidate pairs as a band self-join on
  * (id, band, hash) tuples followed by two joins that bring each side's
  * signature back for `n_matching`.
  */
class MinHashSpec extends SparkSpec {
  import spark.implicits._

  private val NumPerm = 16
  private val NumBands = 4

  /** Reference signatures: a row with no shingles has no signature row. */
  private def aggSignatures(shingled: DataFrame): DataFrame = {
    val exploded = shingled.select(col("id"), explode(col("sh")).as("s"))
      .select(col("id") +: (0 until NumPerm / 4).map(q =>
        md5(concat(lit(q.toString), lit(":"), col("s"))).as(s"h$q")): _*)
    val mins = (0 until NumPerm).map(p =>
      min(conv(substring(col(s"h${p / 4}"), (p % 4) * 8 + 1, 8), 16, 10).cast("long")).as(s"m$p"))
    exploded.groupBy(col("id")).agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until NumPerm).map(p => col(s"m$p")): _*).as("sig"))
  }

  /** Reference candidate pairs: the distinct band matches, then each side's
    * signature joined back by id.
    */
  private def twoJoinPairs(sigs: DataFrame): DataFrame = {
    val bands = sigs
      .withColumn("bands", MinHashLSH.bandHashes(col("sig"), NumBands, NumPerm / NumBands))
      .select(col("id"), posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    val pairs = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") && col("x.band_hash") === col("y.band_hash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b")).distinct()
    val sa = sigs.select(col("id").as("doc_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("id").as("doc_b"), col("sig").as("sig_b"))
    pairs.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("n_matching",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (u, v) => u === v), x => x)).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("n_matching"),
        (col("n_matching").cast("double") / NumPerm).as("est_jaccard"))
  }

  private def shingled(texts: DataFrame): DataFrame =
    texts.select(col("id"),
      TextAnalysis.shinglesFromTokens(TextAnalysis.tokens(col("text")), 3).as("sh"))

  private def sigMap(df: DataFrame): Map[Long, Seq[java.lang.Long]] =
    df.select(col("id"), col("sig")).collect()
      .map(r => r.getLong(0) -> r.getSeq[java.lang.Long](1)).toMap

  private lazy val fixtureTexts =
    Readers.fixture(spark, sfDir, "documents").select(col("doc_id").as("id"), col("text"))

  /** Null and empty text, texts shorter than three tokens, multi-byte
    * UTF-8, repeated shingles, and planted near-duplicates.
    */
  private lazy val edgeTexts = Seq[(Long, String)](
    (1L, null), (2L, null), (3L, ""), (4L, "one"), (5L, "one two"),
    (6L, "naïve café 日本語 テキスト データ über straße ελληνικά"),
    (7L, "naïve café 日本語 テキスト データ über straße ελληνικό"),
    (8L, "a b a b a b a b a b"), (9L, "a b a b a b a b a b c"),
    (10L, "the quick brown fox jumps over the lazy dog again and again"),
    (11L, "the quick brown fox jumps over the lazy dog again and again!"),
    (12L, "🙂 emoji 🙂 tokens 🙂 with 🙂 surrogate 🙂 pairs"))
    .toDF("id", "text")

  test("signature kernel equals the explode+aggregate and HOF references") {
    for ((name, texts) <- Seq("fixture" -> fixtureTexts, "edge cases" -> edgeTexts)) {
      val sh = shingled(texts).persist()
      val kernel = sigMap(MinHashLSH.signaturesFromShingles(sh, NumPerm))
      assert(kernel.size == texts.count(), name)
      assert(kernel == sigMap(aggSignatures(sh)), name)
      assert(kernel == sigMap(sh.select(col("id"), MinHashLSH.signature(col("sh"), NumPerm).as("sig"))),
        name)
      // the from-text path computes the same kernel over the inline shingles
      assert(sigMap(MinHashLSH.signatures(texts, "id", "text", 3, NumPerm)) == kernel, name)
      sh.unpersist()
    }
    // null text shingles to [null]: every lane is null on all three paths
    val nullSig = sigMap(MinHashLSH.signaturesFromShingles(shingled(edgeTexts), NumPerm))(1L)
    assert(nullSig.size == NumPerm && nullSig.forall(_ == null), nullSig)
  }

  test("signature kernel: repeated, empty and null shingle arrays") {
    val sh = Seq[(Long, Seq[String])](
      (1L, Seq("a b c", "a b c", "d e f")), (2L, Seq("d e f", "a b c")),
      (3L, Seq("x", null, "x")), (4L, Seq.empty), (5L, null))
      .toDF("id", "sh")
    val kernel = sigMap(MinHashLSH.signaturesFromShingles(sh, NumPerm))
    // empty and null arrays have no shingles, hence no signature row
    assert(kernel.keySet == Set(1L, 2L, 3L))
    assert(kernel == sigMap(aggSignatures(sh)))
    assert(kernel(1L) == kernel(2L), "repeats and order do not move the minima")
    // the expression itself agrees with the HOF on every non-null array
    val exprs = sh.filter(col("sh").isNotNull).select(col("id"),
      minhashSignature(col("sh"), NumPerm).as("sig"),
      MinHashLSH.signature(col("sh"), NumPerm).as("hof"))
    exprs.collect().foreach(r => assert(r.getSeq[java.lang.Long](1) == r.getSeq[java.lang.Long](2), r))
    assert(exprs.filter(col("id") === 4L).head().getSeq[java.lang.Long](1).forall(_ == null))
  }

  test("numPerm not a multiple of 4 is still rejected") {
    val e1 = intercept[IllegalArgumentException](
      MinHashLSH.signatures(edgeTexts, "id", "text", 3, 18))
    assert(e1.getMessage.contains("multiple of 4"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      MinHashLSH.signaturesFromShingles(shingled(edgeTexts), 6))
    assert(e2.getMessage.contains("multiple of 4"), e2.getMessage)
    intercept[IllegalArgumentException](minhashSignature(col("sh"), 10))
  }

  test("band and match kernels equal bandHashes and the zip_with count, null lanes included") {
    val sigs = Seq[(Long, Seq[java.lang.Long])](
      (1L, (1L to 16L).map(java.lang.Long.valueOf)),
      (2L, (1L to 16L).map(i => if (i % 3 == 0) null else java.lang.Long.valueOf(i))),
      (3L, Seq.fill(16)(null)), (4L, Seq(7L, 8L).map(java.lang.Long.valueOf)))
      .toDF("id", "sig")
    val bands = sigs.select(minhashBands(col("sig"), NumBands, NumPerm / NumBands).as("k"),
        MinHashLSH.bandHashes(col("sig"), NumBands, NumPerm / NumBands).as("hof"))
      .collect()
    bands.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r))
    val matches = sigs.as("x").crossJoin(sigs.as("y"))
      .select(minhashMatches(col("x.sig"), col("y.sig")).as("k"),
        size(filter(zip_with(col("x.sig"), col("y.sig"), (u, v) => u === v), x => x))
          .cast("long").as("hof"))
      .collect()
    matches.foreach(r => assert(r.getLong(0) == r.getLong(1), r))
  }

  test("one band join gives the two-join reference's candidate pairs, all four columns") {
    for ((name, texts) <- Seq("fixture" -> fixtureTexts, "edge cases" -> edgeTexts)) {
      val sigs = MinHashLSH.signatures(texts, "id", "text", 3, NumPerm)
      def rows(df: DataFrame) = df.select("doc_a", "doc_b", "n_matching", "est_jaccard")
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
      val got = rows(MinHashLSH.candidatePairsFromSignatures(sigs, NumPerm, NumBands))
      assert(got.nonEmpty, name)
      assert(got == rows(twoJoinPairs(sigs)), name)
      sigs.unpersist()
    }
  }
}
