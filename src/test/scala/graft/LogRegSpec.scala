package graft

import org.apache.spark.sql.functions._

import graft.core.Readers
import graft.operators.LogReg

/** Invariants of the integer-sigmoid kernel and the logistic-regression
  * quality-filter trainer that the oracle's value-compare can't express.
  */
class LogRegSpec extends SparkSpec {

  test("integer micro-sigmoid: SQL form == Scala mirror, anchors exact, tracks the real sigmoid") {
    val spark2 = spark; import spark2.implicits._
    val zs = Seq(0L, 1L, -1L, 100L, -100L, 123456L, -123456L, 693147L,
      -693147L, 1000000L, -1000000L, 2500000L, -2500000L, 6931470L,
      -6931470L, 13999999L, 14000000L, -14000000L, 99999999L, -99999999L)
    val got = LogReg.withSigmoid(zs.toDF("z"), "z", "sigma")
      .select("z", "sigma").as[(Long, Long)].collect().toMap
    zs.foreach { z =>
      // the driver-side mirror supplies nothing yet, but like lnMicroLong
      // it's the spec anchor: any SQL/Scala drift would silently split a
      // future frozen-scorer stream from the batch oracle
      assert(LogReg.sigmoidMicroLong(z) == got(z),
        s"Scala mirror diverged at $z: ${LogReg.sigmoidMicroLong(z)} vs ${got(z)}")
      val want = 1e6 / (1.0 + math.exp(-z / 1e6))
      assert(math.abs(got(z) - want) <= 30.0,
        s"sigmoidMicro($z) = ${got(z)}, true ${want.toLong}")
      // exact symmetry by construction: p and 1e6 - p
      assert(got.getOrElse(-z, LogReg.sigmoidMicroLong(-z)) == 1000000L - got(z))
    }
    assert(got(0L) == 500000L) // the 0.5 threshold anchor
    assert(got(14000000L) == 1000000L) // saturated high
    assert(got(-14000000L) == 0L) // saturated low
    assert(got(99999999L) == 1000000L) // clamp region
  }

  test("integer exp kernel: SQL == Scala mirror, anchors exact, tracks e^-x") {
    val spark2 = spark; import spark2.implicits._
    val as = Seq(0L, 1L, 1000L, 123456L, 693147L, 1000000L, 2500000L,
      6931470L, 13999999L, 14000000L, 99999999L)
    val got = LogReg.withExpNeg(as.toDF("a"), "a", "e")
      .select("a", "e").as[(Long, Long)].collect().toMap
    as.foreach { a =>
      assert(LogReg.expNegMicroLong(a) == got(a),
        s"Scala mirror diverged at $a: ${LogReg.expNegMicroLong(a)} vs ${got(a)}")
      val want = math.exp(-a / 1e6) * 1e6
      assert(math.abs(got(a) - want) <= 30.0,
        s"expNegMicro($a) = ${got(a)}, true ${want.toLong}")
    }
    assert(got(0L) == 1000000L) // e^0 exactly
    assert(got(14000000L) == 0L) // saturated
    assert(got(99999999L) == 0L) // clamp region
  }

  test("DoReMi domain weights: softmax sums to ~1e6 and upweights hard domains monotonically") {
    val spark2 = spark; import spark2.implicits._
    val w = graft.operators.Corpus.doremiWeights(
      Readers.fixture(spark, sfDir, "documents"), "doc_id", "text", "source")
      .as[(String, Long, Long, Long, Long)].collect()
    val d = w.length
    assert(d > 1)
    val total = w.map(_._5).sum
    // truncating divisions lose at most a few micro per domain
    assert(math.abs(total - 1000000L) <= 2L * d, s"weights sum $total")
    // multiplicative-weights direction: weight strictly increases with
    // excess loss (hard domains get MORE mass — the DoReMi update)
    val byExcess = w.sortBy(_._4)
    byExcess.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._5 <= hi._5,
        s"weight not monotone in excess: $lo vs $hi")
    }
    // every above-mean-loss domain outweighs every below-mean one
    val (hard, easy) = w.partition(_._4 > 0)
    if (hard.nonEmpty && easy.nonEmpty)
      assert(hard.map(_._5).min >= easy.map(_._5).max)
  }

  test("GD fine-tune never regresses the NB init and beats the base rate") {
    val docs = Readers.fixture(spark, sfDir, "documents")
    val nDocs = docs.count()
    val x = LogReg.stage(LogReg.features(docs, "doc_id", "text", col("lang") === "en",
      queries.TextQueries.LrBuckets), queries.TextQueries.LrBuckets)
    val init = x.nbInit()
    def correct(w: Array[Long]): Long =
      x.score(w).filter(col("y") === col("pred")).count()
    val initCorrect = correct(init)
    val w = x.trainWeights(nDocs, queries.TextQueries.LrSteps,
      queries.TextQueries.LrNum, queries.TextQueries.LrDen, init = Some(init))
    x.close()
    val finalCorrect = correct(w)
    val baseRate = math.max(
      docs.filter(col("lang") === "en").count(),
      docs.filter(col("lang") =!= "en").count())
    assert(finalCorrect >= initCorrect,
      s"fine-tune regressed: $initCorrect -> $finalCorrect")
    assert(finalCorrect > baseRate,
      s"trained filter no better than majority class: $finalCorrect <= $baseRate")
  }

  test("frozen scorer is stateless: staged two-file arrival equals the batch score row-for-row") {
    val spark2 = spark; import spark2.implicits._
    val docs = Readers.fixture(spark, sfDir, "documents")
    val nDocs = docs.count()
    val buckets = 64
    val x = LogReg.stage(
      LogReg.features(docs, "doc_id", "text", col("lang") === "en", buckets), buckets)
    val w = x.trainWeights(nDocs, 2, 1L, 1L, init = Some(x.nbInit()))
    x.close()
    // batch truth over the same corpus
    val batch = LogReg.scoreRows(docs, "doc_id", "text", w, buckets)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    // stream the corpus in two file-batches; append mode — if the scorer
    // had any cross-batch state the split would change some score
    val dir = java.nio.file.Files.createTempDirectory("graft-lr-stream").toString
    val (a, b) = (docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
    a.coalesce(1).write.parquet(s"$dir/f1")
    b.coalesce(1).write.parquet(s"$dir/f2")
    val in = spark.readStream.schema(spark.read.parquet(s"$dir/f1").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*/")
    val streamed = graft.streaming.EventStreams.runToBatch(
      LogReg.scoreRows(in, "doc_id", "text", w, buckets),
      s"lr_stream_spec_${System.nanoTime()}",
      org.apache.spark.sql.streaming.OutputMode.Append)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
  }

  test("char trigrams: exact windows, short-text empty, unicode character-indexed") {
    val spark2 = spark; import spark2.implicits._
    val got = Seq("hello", "hi", "", "abc", "héllo")
      .toDF("t").select(col("t"), LogReg.charTrigrams(col("t")).as("g"))
      .as[(String, Seq[String])].collect().toMap
    assert(got("hello") == Seq("hel", "ell", "llo"))
    assert(got("hi") == Seq.empty) // sequence(1,0) counts DOWN without the guard
    assert(got("") == Seq.empty)
    assert(got("abc") == Seq("abc"))
    // character-indexed, not byte-indexed: é is one character
    assert(got("héllo") == Seq("hél", "éll", "llo"))
  }

  test("persisted model round-trips exactly and the feature-space guard fails loudly") {
    val docs = Readers.fixture(spark, sfDir, "documents")
    val buckets = 64
    val x = LogReg.stage(
      LogReg.features(docs, "doc_id", "text", col("lang") === "en", buckets), buckets)
    val w = x.trainWeights(docs.count(), 2, 1L, 1L, init = Some(x.nbInit()))
    x.close()
    val path = java.nio.file.Files
      .createTempDirectory("graft-lr-m").resolve("m").toString
    LogReg.writeModel(spark, path, w, buckets)
    // bit-exact round-trip: scoring from disk == scoring from memory
    assert(LogReg.readModel(spark, path, buckets).toSeq == w.toSeq)
    // mismatched feature space must fail loudly, not silently mis-score
    val e = intercept[IllegalArgumentException] {
      LogReg.readModel(spark, path, 128)
    }
    assert(e.getMessage.contains("buckets=64"))
    // an EMPTY model parquet must fail loudly too: the implied all-zero
    // vector scores every doc sigma=500000 and silently passes any gate
    val emptyPath = java.nio.file.Files
      .createTempDirectory("graft-lr-m0").resolve("m").toString
    LogReg.weightsTable(spark, w).filter(lit(false))
      .withColumn("buckets", lit(buckets))
      .withColumnRenamed("w_micro", "w")
      .write.mode("overwrite").parquet(emptyPath)
    val e0 = intercept[IllegalArgumentException] {
      LogReg.readModel(spark, emptyPath, buckets)
    }
    assert(e0.getMessage.contains("no weight rows"))
    // a TRUNCATED model (rows missing) is corruption, not a sparse vector
    val truncPath = java.nio.file.Files
      .createTempDirectory("graft-lr-mt").resolve("m").toString
    spark.read.parquet(path).limit(buckets / 2)
      .write.mode("overwrite").parquet(truncPath)
    val et = intercept[IllegalArgumentException] {
      LogReg.readModel(spark, truncPath, buckets)
    }
    assert(et.getMessage.contains("truncated"))
  }

  test("slice featurization: filtering the shared feature frame == featurizing the slice") {
    // the text_lr_incremental rewire's correctness argument: features are
    // per-(doc, bucket) rows, so a doc_id filter of the full frame IS the
    // slice's featurization — pinned directly, not just via the oracle
    val spark2 = spark; import spark2.implicits._
    val docs = Readers.fixture(spark, sfDir, "documents")
    val pred = col("doc_id") % 10 === 9
    val viaFilter = graft.queries.TextQueries.lrFeatures(spark, sfDir)
      .filter(pred)
      .as[(Long, Long, Long, Long)].collect().toSet
    val viaSlice = LogReg.features(docs.filter(pred), "doc_id", "text",
      col("lang") === "en", graft.queries.TextQueries.LrBuckets)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaFilter == viaSlice)
    assert(viaFilter.nonEmpty)
  }

  test("trainWeights refuses an empty corpus slice at entry") {
    // nDocs=0 previously threw ArithmeticException mid-loop while the duck
    // twin's integer division yielded NULL weights — loud, at entry, now
    val docs = Readers.fixture(spark, sfDir, "documents")
    val x = LogReg.stage(
      LogReg.features(docs, "doc_id", "text", col("lang") === "en", 64), 64)
    val e = intercept[IllegalArgumentException] {
      x.trainWeights(0L, 1, 1L, 1L)
    }
    x.close()
    assert(e.getMessage.contains("nDocs=0"))
  }

  test("weight table is buckets+1 rows regardless of vocabulary size") {
    val spark2 = spark; import spark2.implicits._
    // synthetic corpus with ~40k distinct tokens — orders of magnitude more
    // than the bucket count; nothing downstream may grow with it
    val docs = (1 to 200).map { d =>
      (d.toLong, (1 to 20).map(t => s"tok${d * 997 + t * 131}").mkString(" "),
        if (d % 3 == 0) "en" else "xx")
    }.toDF("doc_id", "text", "lang")
    val buckets = 64
    val feats = LogReg.features(docs, "doc_id", "text", col("lang") === "en", buckets)
    assert(feats.select("bkt").distinct().count() <= buckets + 1)
    val x = LogReg.stage(feats, buckets)
    val w = x.trainWeights(200L, 2, 1L, 1L, init = Some(x.nbInit()))
    x.close()
    assert(w.length == buckets + 1)
    assert(LogReg.weightsTable(spark, w).count() == buckets + 1)
  }

  // ---- the SQL training path the staged kernel replaced, kept as its
  // reference: margins grouped by (doc_id, y), the gradient joined on
  // doc_id alone, one broadcast weight join per step

  private def weightsDf(w: Array[Long]) = {
    val spark2 = spark; import spark2.implicits._
    w.toSeq.zipWithIndex.map { case (wv, b) => (b.toLong, wv) }.toDF("bkt", "w")
  }

  private def sqlScore(x: org.apache.spark.sql.DataFrame, w: Array[Long]) =
    LogReg.withSigmoid(
      x.join(broadcast(weightsDf(w)), "bkt").groupBy(col("doc_id"), col("y"))
        .agg(sum(col("cnt") * col("w")).as("z")), "z", "sigma")
      .withColumn("pred", (col("sigma") >= 500000L).cast("long"))

  private def sqlStep(x: org.apache.spark.sql.DataFrame, w: Array[Long],
                      nDocs: Long, lrNum: Long, lrDen: Long): Array[Long] = {
    val grads = x.join(sqlScore(x, w).select(col("doc_id"), col("sigma")), "doc_id")
      .groupBy(col("bkt"))
      .agg(sum((col("sigma") - col("y") * 1000000L) * col("cnt")).as("g"))
      .collect()
    val out = w.clone()
    // a bucket whose every term has a null label sums to NULL: no gradient
    grads.filter(!_.isNullAt(1)).foreach { r =>
      val b = r.getLong(0).toInt
      val g = r.getLong(1)
      out(b) -= math.signum(g) * (math.abs(g) * lrNum / (lrDen * nDocs))
    }
    out
  }

  private def sqlNbInit(x: org.apache.spark.sql.DataFrame, buckets: Int): Array[Long] = {
    import graft.operators.Selection.lnMicroLong
    val counts = x.filter(col("bkt") < buckets).groupBy(col("bkt")).agg(
      sum(when(col("y") === 1L, col("cnt")).otherwise(0L)).as("n_t"),
      sum(when(col("y") === 0L, col("cnt")).otherwise(0L)).as("n_r")).collect()
    val tt = counts.map(_.getLong(1)).sum + buckets
    val tr = counts.map(_.getLong(2)).sum + buckets
    val w = Array.fill(buckets + 1)(lnMicroLong(tr) - lnMicroLong(tt))
    counts.foreach { r =>
      w(r.getLong(0).toInt) = lnMicroLong(r.getLong(1) + 1) - lnMicroLong(tt) -
        (lnMicroLong(r.getLong(2) + 1) - lnMicroLong(tr))
    }
    val pr = x.filter(col("bkt") === buckets).agg(
      sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn")).head()
    w(buckets) = lnMicroLong(pr.getLong(0) + 1) - lnMicroLong(pr.getLong(1) + 1)
    w
  }

  /** A random (doc_id, y, bkt, cnt) frame: every document has a bias row,
    * some labels are null, doc 1 carries both labels, and a few rows have
    * a null doc_id.
    */
  private def randomFeatures(seed: Int, buckets: Int) = {
    val spark2 = spark; import spark2.implicits._
    val rnd = new scala.util.Random(seed)
    val rows: Seq[(Option[Long], Option[Long], Long, Long)] = (1L to 40L).flatMap { d =>
      val y: Option[Long] = if (d % 7 == 3) None else Some(rnd.nextInt(2).toLong)
      val feats = rnd.shuffle((0 until buckets).toList).take(1 + rnd.nextInt(buckets / 2))
      (Some(d), y, buckets.toLong, 1L) +:
        feats.map(b => (Some(d), y, b.toLong, 1L + rnd.nextInt(3)))
    } ++ Seq((Some(1L), Some(0L), 0L, 2L), (Some(1L), Some(0L), buckets.toLong, 1L),
      (Some(1L), Some(1L), 3L, 1L), (Some(1L), Some(1L), buckets.toLong, 1L),
      (None, Some(1L), 1L, 1L), (None, None, 2L, 1L))
    rows.toDF("doc_id", "y", "bkt", "cnt")
  }

  test("staged kernel equals the SQL reference: NB init, each GD step, scores") {
    val buckets = 16
    for (seed <- Seq(1, 2, 3)) {
      val x = randomFeatures(seed, buckets)
      val staged = LogReg.stage(x, buckets)
      try {
        val init = staged.nbInit()
        assert(init.toSeq == sqlNbInit(x, buckets).toSeq, s"seed $seed: NB init")
        // from NB init and from random weights, one step at a time
        val rnd = new scala.util.Random(seed)
        val randomW = Array.fill(buckets + 1)(rnd.nextInt(6000001).toLong - 3000000L)
        for (w0 <- Seq(init, randomW)) {
          var w = w0
          for (step <- 1 to 3) {
            val want = sqlStep(x, w, 41L, 2L, 1L)
            val got = staged.trainWeights(41L, 1, 2L, 1L, init = Some(w))
            assert(got.toSeq == want.toSeq, s"seed $seed step $step")
            w = got
          }
          def rowSet(df: org.apache.spark.sql.DataFrame) =
            df.select("doc_id", "y", "z", "sigma", "pred").collect()
              .map(r => (0 until 5).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i))))
              .toSet
          assert(rowSet(staged.score(w)) == rowSet(sqlScore(x, w)), s"seed $seed scores")
        }
        // the multi-step loop is the step applied repeatedly
        val stepped = (1 to 3).foldLeft(init)((w, _) => sqlStep(x, w, 41L, 2L, 1L))
        assert(staged.trainWeights(41L, 3, 2L, 1L, init = Some(init)).toSeq == stepped.toSeq)
      } finally staged.close()
    }
  }

  test("staged kernel overflows the way ANSI SQL sum does") {
    val spark2 = spark; import spark2.implicits._
    val x = Seq((1L, 1L, 0L, Long.MaxValue / 2), (1L, 1L, 1L, 1L)).toDF("doc_id", "y", "bkt", "cnt")
    val staged = LogReg.stage(x, 1)
    try {
      val e = intercept[Exception](staged.trainWeights(1L, 1, 1L, 1L, init = Some(Array(4L, 0L))))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), e.toString)
    } finally staged.close()
  }
}
