package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed logistic-regression trainer over a hashed bigram feature
  * space — the discriminative quality/language filter (the fastText-filter
  * shape) that complements the generative scorers already registered (NB
  * langid's count ratios, DSIR's importance log-ratios). Trains full-batch
  * gradient descent with the feature space hashed into a FIXED number of
  * buckets, so nothing anywhere is vocabulary-sized:
  *
  *   - one explode scan builds the (doc, bucket, count) feature frame;
  *   - [[stage]] groups that frame into one record per document (one
  *     shuffle) and persists the records;
  *   - NB init and each GD step are one aggregate job over the records
  *     (`treeAggregate`): the weight vector — `buckets + 1` longs, never
  *     vocabulary-sized — ships to the tasks, each task folds its documents'
  *     margins, sigmoids and gradient terms into one `buckets + 1` array,
  *     and the driver applies the integer update.
  *
  * Shape at 100 TB: one staging shuffle of the feature frame, then one
  * aggregate job per step (a scan of the persisted records, no shuffle, no
  * query planning) and one narrow scoring pass over the same records.
  *
  * Cross-engine exactness (the driver's hash gate compares float bits, so
  * float sigmoid is unverifiable): ALL arithmetic is integer micro
  * fixed-point, shared between both engines as textual stage templates the
  * way [[Selection.lnMicroSparkSql]]/[[Selection.duckLnMicro]] are.
  * Sigmoid is e^x recovered from binary argument reduction plus an
  * alternating series: for a = min(|z|, 14e6) (e^-14 < 1 micro — larger
  * |z| saturates anyway), a = k·ln2 + r with r ∈ [0, ln2), so
  * e^-a = 2^-k · e^-r, and e^-r is the series 1 - r + r²/2! - … + r⁸/8!
  * (next term < 0.7⁹/9! ≈ 1e-7). Every DIVISION operand is positive —
  * the precondition for Spark's truncating `div` and DuckDB's flooring
  * `//` to agree; subtraction of positive terms is plain integer math both
  * engines share. Weight updates divide |gradient| and reapply the sign
  * for the same reason. Absolute accuracy vs the real sigmoid is ~1e-5;
  * bit-equality across engines is exact, which is what the gate needs.
  */
object LogReg {

  import Selection.{Ln2Micro, bigramsFromTokens, bucketOf, duckBigrams, duckBucketOf}

  /** |z| clamp: e^-14 < 1 micro, so the sigmoid is already saturated. */
  val ZClamp = 14000000L

  /** e^{-a} in micro fixed point for a NONNEGATIVE micro column `a`
    * (values past the clamp saturate to 0): the reusable integer-exp
    * kernel — binary argument reduction + alternating series — shared by
    * the sigmoid here and by any softmax-style consumer (Corpus's DoReMi
    * weights use it after the max-subtraction trick, which is exactly
    * what makes every exponent nonnegative-negated). Each expression
    * references only `a` and earlier stage columns (never a wide inline
    * subexpression — the lnMicro substitution rule), instantiated per
    * engine by the DIV / shift-left dialect.
    */
  def expNegStages(a: String, out: String, DIV: String,
                   shl: String => String): Seq[(String, String)] = Seq(
    "xg_c" -> s"least($a, $ZClamp)",
    "xg_k" -> s"(xg_c $DIV $Ln2Micro)",
    "xg_r" -> s"(xg_c - xg_k * $Ln2Micro)",
    "xg_t2" -> s"(((xg_r * xg_r) $DIV 1000000) $DIV 2)",
    "xg_t3" -> s"(((xg_t2 * xg_r) $DIV 1000000) $DIV 3)",
    "xg_t4" -> s"(((xg_t3 * xg_r) $DIV 1000000) $DIV 4)",
    "xg_t5" -> s"(((xg_t4 * xg_r) $DIV 1000000) $DIV 5)",
    "xg_t6" -> s"(((xg_t5 * xg_r) $DIV 1000000) $DIV 6)",
    "xg_t7" -> s"(((xg_t6 * xg_r) $DIV 1000000) $DIV 7)",
    "xg_t8" -> s"(((xg_t7 * xg_r) $DIV 1000000) $DIV 8)",
    "xg_em" -> "(1000000 - xg_r + xg_t2 - xg_t3 + xg_t4 - xg_t5 + xg_t6 - xg_t7 + xg_t8)",
    out -> s"(xg_em $DIV ${shl("xg_k")})")

  /** Sigmoid stage list built on [[expNegStages]]: sigmoid(z) =
    * 1/(1+e^{-|z|}) reflected by z's sign. Final stage is named `out`.
    */
  private def sigmoidStages(z: String, out: String, DIV: String,
                            shl: String => String): Seq[(String, String)] =
    (("sg_a" -> s"least(abs($z), $ZClamp)") +:
      expNegStages("sg_a", "sg_e", DIV, shl)) ++ Seq(
      "sg_p" -> s"(1000000000000 $DIV (1000000 + sg_e))",
      out -> s"(CASE WHEN $z >= 0 THEN sg_p ELSE 1000000 - sg_p END)")

  private def sparkStages(z: String, out: String): Seq[(String, String)] =
    sigmoidStages(z, out, "div", k => s"shiftleft(CAST(1 AS BIGINT), $k)")

  private def duckStages(z: String, out: String): Seq[(String, String)] =
    sigmoidStages(z, out, "//", k => s"(CAST(1 AS BIGINT) << $k)")

  private def dropStageCols(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(c => c.startsWith("sg_") || c.startsWith("xg_")): _*)

  /** Stage `out` = sigmoidMicro(`z`) onto `df` (`z` a BIGINT micro column
    * name); the sg_ and xg_ intermediates are dropped.
    */
  def withSigmoid(df: DataFrame, z: String, out: String): DataFrame =
    dropStageCols(sparkStages(z, out).foldLeft(df) {
      case (d, (n, e)) => d.withColumn(n, expr(e))
    })

  /** Stage `out` = expNegMicro(`a`) onto `df` (`a` a NONNEGATIVE BIGINT
    * micro column name); intermediates dropped.
    */
  def withExpNeg(df: DataFrame, a: String, out: String): DataFrame =
    dropStageCols(
      expNegStages(a, out, "div", k => s"shiftleft(CAST(1 AS BIGINT), $k)")
        .foldLeft(df) { case (d, (n, e)) => d.withColumn(n, expr(e)) })

  /** Scala mirror of the SQL e^{-a} — same integer algorithm, for
    * driver-side checks and specs (the lnMicroLong convention).
    */
  def expNegMicroLong(a0: Long): Long = {
    require(a0 >= 0, s"expNegMicroLong($a0)")
    val a = math.min(a0, ZClamp)
    val k = a / Ln2Micro
    val r = a - k * Ln2Micro
    var em = 1000000L - r
    var t = r
    var i = 2L
    while (i <= 8) { t = t * r / 1000000 / i; em += (if (i % 2 == 0) t else -t); i += 1 }
    em / (1L << k)
  }

  /** Scala mirror of the SQL sigmoid — same integer algorithm. */
  def sigmoidMicroLong(z: Long): Long = {
    val e = expNegMicroLong(math.abs(z))
    val p = 1000000000000L / (1000000L + e)
    if (z >= 0) p else 1000000L - p
  }

  /** DuckDB CTE chain applying a stage list from CTE `from`. Returns (cte
    * fragments, final CTE name); the final CTE projects keep :+ out.
    */
  private def duckStageChain(stages: Seq[(String, String)], from: String,
                             prefix: String, out: String,
                             keep: Seq[String]): (Seq[String], String) = {
    val ctes = stages.zipWithIndex.map { case ((n, e), i) =>
      val src = if (i == 0) from else s"${prefix}_${i - 1}"
      s"${prefix}_$i AS (SELECT *, $e AS $n FROM $src)"
    }
    val fin = s"$prefix AS (SELECT ${(keep :+ out).mkString(", ")} " +
      s"FROM ${prefix}_${stages.size - 1})"
    (ctes :+ fin, prefix)
  }

  /** Sigmoid-of-`z` CTE chain ([[duckStageChain]] over the sigmoid stages). */
  private def duckSigmoidCtes(from: String, prefix: String, z: String,
                              out: String, keep: Seq[String]): (Seq[String], String) =
    duckStageChain(duckStages(z, out), from, prefix, out, keep)

  /** Public sigmoid CTE chain for oracle builders living outside this
    * object (returns the fragments only; the final CTE is named `prefix`).
    */
  def duckScoreCtesPublic(from: String, prefix: String, z: String,
                          out: String, keep: Seq[String]): Seq[String] =
    duckSigmoidCtes(from, prefix, z, out, keep)._1

  /** e^{-`a`} CTE chain for a nonnegative micro column — the softmax
    * building block ([[expNegStages]] in the DuckDB dialect).
    */
  def duckExpNegCtes(from: String, prefix: String, a: String,
                     out: String, keep: Seq[String]): (Seq[String], String) =
    duckStageChain(
      expNegStages(a, out, "//", k => s"(CAST(1 AS BIGINT) << $k)"),
      from, prefix, out, keep)

  /** (doc_id, y, bkt, cnt): one row per (document, feature bucket), the
    * single frame every training step scans, PLUS one bias row per
    * document (bkt = `buckets`, cnt = 1) — the intercept that absorbs the
    * class base rate (without it an imbalanced corpus drags every hashed
    * bucket toward the majority class). The bias row also means documents
    * with < 2 tokens are still scored (bias-only margin).
    */
  def features(docs: DataFrame, idCol: String, textCol: String,
               label: org.apache.spark.sql.Column, buckets: Int,
               presence: Boolean = true): DataFrame =
    featuresFromGrams(docs, idCol,
      t => bigramsFromTokens(split(t, " ")), textCol, label, buckets, presence)

  /** Character trigrams of a text column — the fastText-realistic
    * featurization for language ID (word bigrams need the language's words
    * to repeat across documents; char trigrams see orthography). Both
    * engines slice by CHARACTER (Spark substring / DuckDB array slicing on
    * VARCHAR), so the grams agree on any unicode text.
    */
  def charTrigrams(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // explicit short-text branch: Spark's sequence(1, 0) counts DOWN (the
    // recorded bigramsFromTokens lesson), DuckDB's generate_series(1, 0)
    // is empty — so the guard is load-bearing for cross-engine equality
    when(length(t) >= 3,
      transform(sequence(lit(1), length(t) - 2), i => t.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))

  /** DuckDB twin of [[charTrigrams]] (VARCHAR slicing is 1-based inclusive
    * and character-indexed, matching Spark's substr).
    */
  def duckCharTrigrams(textSql: String): String =
    s"list_transform(generate_series(1, greatest(length($textSql) - 2, 0)), " +
      s"i -> $textSql[i:i+2])"

  /** Grams-parameterized feature frame — [[features]] with a custom gram
    * producer (word bigrams by default; [[charTrigrams]] for the char-gram
    * variant).
    */
  def featuresFromGrams(docs: DataFrame, idCol: String,
                        grams: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                        textCol: String, label: org.apache.spark.sql.Column,
                        buckets: Int, presence: Boolean = true): DataFrame = {
    // spread BEFORE the gram explode (r14; guide §2.5): the per-gram md5
    // bucketing is the CPU stage of every LR featurization, and the staged
    // builders feed this straight from an unsplittable fixture scan — one
    // task hashed the whole corpus. Per-doc feature rows + integer-sum
    // aggregates are partitioning-invariant, so the result is unchanged
    // (StagingSpec gate-7 device test + text_lr oracle rows). The gram
    // expression stays INLINE in the generator (the recorded
    // InferFiltersFromGenerate lesson — an attribute explode re-computes
    // the gram pipeline per synthesized filter). The hash on doc_id comes
    // first whether or not the input is spread: the aggregate below groups
    // by doc_id, so this one shuffle serves it and moves a row per document
    // where the aggregate's own would move a row per (document, bucket), and
    // the partial and final aggregates stay one stage (one generated class
    // fewer: CurateSpec's warm run fits the codegen cache only so).
    val src = graft.core.Readers.spread(
      docs.select(col(idCol).as("doc_id"), label.cast("long").as("y"),
        col(textCol).as("__t")).repartition(col("doc_id")), col("doc_id"))
    src.select(col("doc_id"), col("y"), explode(grams(col("__t"))).as("bg"))
      .select(col("doc_id"), col("y"), bucketOf(col("bg"), buckets).as("bkt"))
      .groupBy(col("doc_id"), col("y"), col("bkt"))
      .agg((if (presence) least(count(lit(1)), lit(1L)) else count(lit(1))).as("cnt"))
      .unionByName(src.select(col("doc_id"), col("y"),
        lit(buckets.toLong).as("bkt"), lit(1L).as("cnt")))
  }

  private def weightsDf(spark: SparkSession, w: Array[Long]): DataFrame = {
    import spark.implicits._
    w.toSeq.zipWithIndex.map { case (wv, b) => (b.toLong, wv) }.toDF("bkt", "w")
  }

  /** One label group of a document's feature rows: label `y` (`labeled`
    * false for a null label) and its (bucket, count) rows.
    */
  private[operators] final case class LabelRows(y: Long, labeled: Boolean, bkts: Array[Int], cnts: Array[Long])

  /** One document's feature rows, grouped by label. A `doc_id` normally
    * carries one label; a duplicated id may carry several, and a null id
    * gathers every id-less row (the SQL `GROUP BY doc_id, y` groups).
    */
  private[operators] final case class DocRows(id: java.lang.Long, groups: Array[LabelRows])

  /** Margin Σ cnt·w of one label group, overflow-checked like ANSI SQL. */
  private def margin(g: LabelRows, w: Array[Long]): Long = {
    var z = 0L
    var i = 0
    while (i < g.bkts.length) {
      z = Math.addExact(z, Math.multiplyExact(g.cnts(i), w(g.bkts(i))))
      i += 1
    }
    z
  }

  /** Stage a feature frame ((doc_id, y, bkt, cnt), the [[features]]
    * shape) for training and scoring: one shuffle groups it into one
    * [[DocRows]] record per document, persisted until `close()`. NB init,
    * every GD step and scoring all read these records.
    */
  def stage(x: DataFrame, buckets: Int): Staged = {
    val idType = x.schema("doc_id").dataType
    val rows = x.select(col("doc_id").cast("long"), col("y").cast("long"),
        col("bkt").cast("long"), col("cnt").cast("long"))
      .queryExecution.toRdd.map { r =>
        val bkt = r.getLong(2)
        require(bkt >= 0 && bkt <= buckets, s"feature bucket $bkt outside [0, $buckets]")
        val id: java.lang.Long = if (r.isNullAt(0)) null else r.getLong(0)
        val y: java.lang.Long = if (r.isNullAt(1)) null else r.getLong(1)
        (id, (y, bkt.toInt, r.getLong(3)))
      }
    // the default partitioner keeps the input's parallelism: every GD step
    // runs one task per staged partition
    val docs = rows.groupByKey()
      .map { case (id, rs) =>
        DocRows(id, rs.groupBy(_._1).iterator.map { case (y, g) =>
          LabelRows(if (y == null) 0L else y.longValue, y != null,
            g.iterator.map(_._2).toArray, g.iterator.map(_._3).toArray)
        }.toArray)
      }
      .setName("LogReg staged features")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    new Staged(x.sparkSession, docs, idType, buckets)
  }

  /** A feature frame staged by [[stage]]: the records NB init, the GD
    * steps and scoring share. NB init and each GD step are one aggregate
    * job over them; `close()` releases them.
    */
  final class Staged private[LogReg] (spark: SparkSession,
      docs: org.apache.spark.rdd.RDD[DocRows],
      idType: org.apache.spark.sql.types.DataType, buckets: Int)
    extends AutoCloseable {

    /** Bernoulli-NB log-odds over the presence features — the generative
      * solution used as GD's starting point (full-batch GD from zero needs
      * dozens of steps to beat the base rate; from the NB solution a
      * couple of steps are a discriminative FINE-TUNE). Per bucket, with
      * add-1 smoothing over the `buckets`-way space:
      * w0(β) = lnM(df_t(β)+1) − lnM(Σdf_t + B) − lnM(df_r(β)+1) + lnM(Σdf_r + B),
      * bias = lnM(n_pos+1) − lnM(n_neg+1). All integer micro-ln
      * ([[Selection.lnMicroLong]], spec-pinned equal to the SQL form), so
      * the init is bit-identical to the oracle's CTE twin. One aggregate
      * job; driver state is `2·buckets + 2` longs.
      */
    def nbInit(): Array[Long] = {
      import Selection.lnMicroLong
      val b = buckets
      // [0, b): df_t per bucket, [b, 2b): df_r, 2b: n_pos, 2b+1: n_neg
      val acc = docs.treeAggregate(new Array[Long](2 * b + 2))({ (a, d) =>
        d.groups.foreach { g =>
          if (g.labeled) {
            var i = 0
            while (i < g.bkts.length) {
              val k = g.bkts(i)
              if (k < b) {
                if (g.y == 1L) a(k) = Math.addExact(a(k), g.cnts(i))
                else if (g.y == 0L) a(b + k) = Math.addExact(a(b + k), g.cnts(i))
              } else {
                a(2 * b) = Math.addExact(a(2 * b), g.y)
                a(2 * b + 1) = Math.addExact(a(2 * b + 1), Math.subtractExact(1L, g.y))
              }
              i += 1
            }
          }
        }
        a
      }, addInto)
      val tt = acc.iterator.take(b).sum + b
      val tr = acc.iterator.slice(b, 2 * b).sum + b
      Array.tabulate(b + 1) { k =>
        if (k < b) lnMicroLong(acc(k) + 1) - lnMicroLong(tt) -
          (lnMicroLong(acc(b + k) + 1) - lnMicroLong(tr))
        else lnMicroLong(acc(2 * b) + 1) - lnMicroLong(acc(2 * b + 1) + 1)
      }
    }

    /** `steps` full-batch GD steps from `init` (zeros if absent — see
      * [[nbInit]] for why callers should init). Each step is one aggregate
      * job with `w` shipped to the tasks: per document, the sigmoid of
      * each label group's margin, and every labeled feature row adds
      * (sigma − y·10⁶)·cnt to its bucket's gradient for each of the
      * document's sigmas. Update per bucket:
      * w -= sign(g) · (|g| · lrNum) div (lrDen · nDocs) — integer, exact on
      * both engines; a bucket with no gradient keeps its weight.
      */
    def trainWeights(nDocs: Long, steps: Int, lrNum: Long, lrDen: Long,
                     init: Option[Array[Long]] = None): Array[Long] = {
      // loud failure over silent divergence: nDocs=0 (an upstream gate
      // dropped everything, or an empty ingest delta) would divide by zero
      // mid-loop here while the DuckDB twin's `// (lrDen * nd.n)` yields
      // NULL weights — the engines must fail the same way, at entry
      require(nDocs > 0,
        s"trainWeights: nDocs=$nDocs — training over an empty corpus slice " +
          "has no gradient; guard the caller (the duck twin shares this " +
          "precondition: its weight CTEs divide by the doc count)")
      val w = init.map(_.clone()).getOrElse(Array.fill(buckets + 1)(0L))
      require(w.length == buckets + 1, s"weights ${w.length} != buckets+1")
      for (_ <- 1 to steps) {
        val wStep = w.clone()
        val g = docs.treeAggregate(new Array[Long](buckets + 1))(
          (a, d) => addGradient(a, d, wStep), addInto)
        var b = 0
        while (b <= buckets) {
          w(b) -= math.signum(g(b)) * (math.abs(g(b)) * lrNum / (lrDen * nDocs))
          b += 1
        }
      }
      w
    }

    /** Score the staged documents under `w`: (doc_id, y, z, sigma, pred),
      * one row per (doc_id, y) group, pred = 1 iff sigma ≥ 500000 (the
      * integer 0.5 threshold). The frame reads the staged records; after
      * `close()` it recomputes them from the staging shuffle.
      */
    def score(w: Array[Long]): DataFrame = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      require(w.length == buckets + 1, s"weights ${w.length} != buckets+1")
      val rows = docs.flatMap { d =>
        d.groups.iterator.map { g =>
          val z = margin(g, w)
          val s = sigmoidMicroLong(z)
          Row(d.id, if (g.labeled) g.y else null, z, s, if (s >= 500000L) 1L else 0L)
        }
      }
      val schema = StructType(Seq("doc_id", "y", "z", "sigma", "pred")
        .map(StructField(_, LongType)))
      val out = spark.createDataFrame(rows, schema)
      if (idType == LongType) out else out.withColumn("doc_id", col("doc_id").cast(idType))
    }

    def close(): Unit = docs.unpersist(blocking = false)
  }

  /** One document's gradient terms added into `a` (see
    * [[Staged.trainWeights]]); a null-id record joins no sigma.
    */
  private def addGradient(a: Array[Long], d: DocRows, w: Array[Long]): Array[Long] = {
    if (d.id != null) {
      val sig = d.groups.map(g => sigmoidMicroLong(margin(g, w)))
      d.groups.foreach { g =>
        if (g.labeled) {
          val yM = Math.multiplyExact(g.y, 1000000L)
          var i = 0
          while (i < g.bkts.length) {
            val k = g.bkts(i)
            var j = 0
            while (j < sig.length) {
              a(k) = Math.addExact(a(k),
                Math.multiplyExact(Math.subtractExact(sig(j), yM), g.cnts(i)))
              j += 1
            }
            i += 1
          }
        }
      }
    }
    a
  }

  private def addInto(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
    a
  }

  /** Final per-bucket weight table (bkt, w_micro) — all `buckets` rows. */
  def weightsTable(spark: SparkSession, w: Array[Long]): DataFrame =
    weightsDf(spark, w).withColumnRenamed("w", "w_micro")

  /** Frozen-scorer row form: score documents with a TRAINED weight vector
    * as a pure per-row expression — zero streaming state, no shuffle, the
    * corpus_dsir_stream ingest-gate shape. Margin = bias + Σ over the
    * DISTINCT hashed buckets present (presence semantics, matching
    * [[features]]); the weight map is `buckets` literals (bounded), bias a
    * literal. Replayed over the training fixture this equals the batch
    * score bit-for-bit (same integer sigmoid).
    */
  def scoreRows(docs: DataFrame, idCol: String, textCol: String,
                w: Array[Long], buckets: Int): DataFrame = {
    require(w.length == buckets + 1, s"weights ${w.length} != buckets+1")
    val ks = (0 until buckets).map(_.toLong).toArray
    val m = map_from_arrays(lit(ks), lit(ks.map(k => w(k.toInt))))
    // stage tokens, then the bigram array, as columns: every HOF lambda
    // must reference attributes (the recorded staged-array lesson)
    val z = docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__tk"))
      .select(col("doc_id"), bigramsFromTokens(col("__tk")).as("__bg"))
      .select(col("doc_id"),
        (lit(w(buckets)) + aggregate(
          array_distinct(transform(col("__bg"), g => bucketOf(g, buckets))),
          lit(0L), (acc, b) => acc + element_at(m, b))).as("z"))
    withSigmoid(z, "z", "sigma")
      .select(col("doc_id"), col("sigma"),
        (col("sigma") >= 500000L).cast("long").as("pred"))
  }

  /** Persist a trained weight vector with its training parameters — the
    * model the daily ingest fine-tunes and scores with (the
    * writeSigIndex/writeIvfIndex persisted-artifact convention).
    */
  def writeModel(spark: SparkSession, path: String, w: Array[Long],
                 buckets: Int): Unit =
    weightsDf(spark, w).withColumn("buckets", lit(buckets))
      .write.mode("overwrite").parquet(path)

  /** Read a persisted model, failing loudly when it was trained over a
    * different hashed feature space than this run expects — scoring with
    * mismatched buckets silently mis-scores EVERY document (the same
    * hazard class as the signature-index parameter guard). Unlike the
    * dedup-index readers (where an empty index is the legitimate bootstrap
    * state), an empty or truncated model parquet is ALWAYS corruption: the
    * implied all-zero weight vector scores every document sigma=500000 and
    * silently passes any gate with threshold ≤ 0.5, so this reader requires
    * exactly buckets+1 weight rows.
    */
  def readModel(spark: SparkSession, path: String,
                expectBuckets: Int): Array[Long] = {
    val df = spark.read.parquet(path)
    // bounded collect: buckets+1 rows
    val rows = df.select(col("bkt"), col("w"), col("buckets")).collect()
    require(rows.nonEmpty,
      s"model at $path has no weight rows — scoring with the implied " +
        "all-zero vector would silently pass every document (rebuild the model)")
    val b = rows.head.getInt(2)
    require(b == expectBuckets,
      s"model at $path was trained over buckets=$b; this run " +
        s"expects $expectBuckets — rebuild the model or match its feature space")
    require(rows.length == expectBuckets + 1,
      s"model at $path has ${rows.length} weight rows; expected " +
        s"${expectBuckets + 1} (buckets+1) — the artifact is truncated")
    val w = Array.fill(expectBuckets + 1)(0L)
    rows.foreach(r => w(r.getLong(0).toInt) = r.getLong(1))
    w
  }

  // ---------------------------------------------------------------- oracle

  /** Shared DuckDB CTE prelude: features, doc count, the NB-init w0, then
    * w1 … w`steps`. Returns (cte fragments, name of the final weights CTE).
    * Every integer step is the textual twin of the Spark/driver arithmetic
    * ([[features]], [[Staged.nbInit]], [[Staged.trainWeights]]).
    */
  /** The feature-frame CTE (named `name`): one row per (doc, bucket) over
    * the rows of `table` satisfying `predSql`, plus the bias rows — the
    * duck twin of [[features]] restricted to a corpus slice.
    */
  def duckFeatureCte(name: String, targetSql: String, buckets: Int,
                     presence: Boolean, predSql: String,
                     table: String, gramsSql: String = ""): String = {
    val cntSql = if (presence) "least(count(*), 1)" else "count(*)"
    val grams = if (gramsSql.nonEmpty) gramsSql else duckBigrams("text")
    s"""$name AS MATERIALIZED (
          SELECT doc_id, CAST(($targetSql) AS BIGINT) AS y,
                 ${duckBucketOf("g", buckets)} AS bkt,
                 CAST($cntSql AS BIGINT) AS cnt
          FROM (SELECT *, unnest($grams) AS g
                FROM $table WHERE $predSql) ex
          GROUP BY 1, 2, 3
          UNION ALL
          SELECT doc_id, CAST(($targetSql) AS BIGINT) AS y,
                 CAST($buckets AS BIGINT) AS bkt, CAST(1 AS BIGINT) AS cnt
          FROM $table WHERE $predSql)"""
  }

  /** GD-step CTEs `w{start}` … `w{start+steps-1}` over feature CTE `xName`
    * (doc count in `ndName`.n), starting from weights CTE `fromW`. Returns
    * (ctes, final weights CTE name). The duck twin of the
    * [[Staged.trainWeights]] step, reusable mid-chain (the incremental
    * fine-tune continues a persisted model with a different x).
    *
    * Precondition (shared with [[Staged.trainWeights]], which requires it at
    * entry): `ndName`.n > 0. DuckDB's `// (lrDen * n)` on n=0 yields NULL
    * weights instead of erroring, so an empty corpus slice would make the
    * two engines diverge silently rather than fail loudly — callers guard
    * the slice before emitting this SQL.
    */
  def duckGdStepCtes(xName: String, ndName: String, fromW: String,
                     start: Int, steps: Int, lrNum: Long,
                     lrDen: Long): (Seq[String], String) = {
    var ctes = Seq.empty[String]
    var prevW = fromW
    for (i <- start until (start + steps)) {
      val zi = s"z$i AS (SELECT doc_id, y, CAST(sum(cnt * w) AS BIGINT) AS z " +
        s"FROM $xName JOIN $prevW USING (bkt) GROUP BY doc_id, y)"
      val (sigCtes, sigName) =
        duckSigmoidCtes(s"z$i", s"sg$i", "z", "sigma", Seq("doc_id"))
      val gi = s"g$i AS (SELECT bkt, CAST(sum((sigma - y * 1000000) * cnt) " +
        s"AS BIGINT) AS g FROM $xName JOIN $sigName USING (doc_id) GROUP BY bkt)"
      val wi =
        s"""w$i AS MATERIALIZED (
              SELECT $prevW.bkt,
                     CAST(w - CASE WHEN g IS NULL THEN 0
                       ELSE CAST(sign(g) AS BIGINT) *
                            ((abs(g) * $lrNum) // ($lrDen * $ndName.n)) END
                       AS BIGINT) AS w
              FROM $prevW LEFT JOIN g$i USING (bkt), $ndName)"""
      ctes = ctes ++ (zi +: sigCtes) ++ Seq(gi, wi)
      prevW = s"w$i"
    }
    (ctes, prevW)
  }

  def duckTrainCtes(targetSql: String, buckets: Int, steps: Int,
                    lrNum: Long, lrDen: Long, table: String = "documents",
                    presence: Boolean = true,
                    predSql: String = "TRUE",
                    gramsSql: String = ""): (Seq[String], String) = {
    import Selection.duckLnMicro
    val x = duckFeatureCte("x", targetSql, buckets, presence, predSql, table, gramsSql)
    val n = s"nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM $table WHERE $predSql)"
    // NB init, the duck twin of nbInit: per-bucket smoothed doc-frequency
    // log-odds plus the class-prior bias row
    val fcnt =
      s"""fcnt AS (
            SELECT bkt,
                   CAST(sum(CASE WHEN y = 1 THEN cnt ELSE 0 END) + 1 AS BIGINT) AS nt1,
                   CAST(sum(CASE WHEN y = 0 THEN cnt ELSE 0 END) + 1 AS BIGINT) AS nr1
            FROM x WHERE bkt < $buckets GROUP BY bkt)"""
    val ftot =
      s"""ftot AS (
            SELECT CAST(sum(nt1) - count(*) + $buckets AS BIGINT) AS tt,
                   CAST(sum(nr1) - count(*) + $buckets AS BIGINT) AS tr
            FROM fcnt)"""
    val fllr = s"fllr AS (SELECT bkt, CAST(${duckLnMicro("nt1")} - ${duckLnMicro("tt")} " +
      s"- ${duckLnMicro("nr1")} + ${duckLnMicro("tr")} AS BIGINT) AS w FROM fcnt, ftot)"
    val fpr =
      s"""fpr AS (
            SELECT CAST(sum(y) + 1 AS BIGINT) AS np1,
                   CAST(sum(1 - y) + 1 AS BIGINT) AS nn1
            FROM x WHERE bkt = $buckets)"""
    val w0 =
      s"""w0 AS MATERIALIZED (
            SELECT r.bkt,
                   COALESCE(l.w, CAST(${duckLnMicro("tr")} - ${duckLnMicro("tt")} AS BIGINT)) AS w
            FROM (SELECT CAST(range AS BIGINT) AS bkt FROM range($buckets)) r
            LEFT JOIN fllr l USING (bkt), ftot
            UNION ALL
            SELECT CAST($buckets AS BIGINT),
                   CAST(${duckLnMicro("np1")} - ${duckLnMicro("nn1")} AS BIGINT)
            FROM fpr)"""
    val (stepCtes, wFin) = duckGdStepCtes("x", "nd", "w0", 1, steps, lrNum, lrDen)
    (Seq(x, n, fcnt, ftot, fllr, fpr, w0) ++ stepCtes, wFin)
  }

  /** Incremental fine-tune oracle: train `baseSteps` on the `basePred`
    * slice (NB init included), continue `deltaSteps` GD steps over the
    * `deltaPred` slice from the persisted weights, then scorecard the
    * DELTA under the final model — (y, pred, n, sum_sigma). The duck
    * replay of the ingest-time adaptation pass.
    */
  def duckIncrementalSql(targetSql: String, buckets: Int, baseSteps: Int,
                         deltaSteps: Int, lrNum: Long, lrDen: Long,
                         basePred: String, deltaPred: String): String = {
    val (baseCtes, wBase) = duckTrainCtes(targetSql, buckets, baseSteps,
      lrNum, lrDen, predSql = basePred)
    val xd = duckFeatureCte("xd", targetSql, buckets, presence = true,
      deltaPred, "documents")
    val ndd = s"ndd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents WHERE $deltaPred)"
    val (deltaCtes, wFin) = duckGdStepCtes("xd", "ndd", wBase,
      baseSteps + 1, deltaSteps, lrNum, lrDen)
    val zs = s"zs AS (SELECT doc_id, y, CAST(sum(cnt * w) AS BIGINT) AS z " +
      s"FROM xd JOIN $wFin USING (bkt) GROUP BY doc_id, y)"
    val (sigCtes, sigName) =
      duckSigmoidCtes("zs", "sgf", "z", "sigma", Seq("doc_id", "y"))
    s"WITH ${(baseCtes ++ Seq(xd, ndd) ++ deltaCtes ++ (zs +: sigCtes)).mkString(",\n")}\n" +
      s"""SELECT y, CAST(CASE WHEN sigma >= 500000 THEN 1 ELSE 0 END AS BIGINT) AS pred,
                count(*) AS n, CAST(sum(sigma) AS BIGINT) AS sum_sigma
         FROM $sigName GROUP BY 1, 2 ORDER BY y, pred"""
  }

  /** Full weights-table oracle: (bkt, w_micro) ORDER BY bkt. */
  def duckWeightsSql(targetSql: String, buckets: Int, steps: Int,
                     lrNum: Long, lrDen: Long): String = {
    val (ctes, wFin) = duckTrainCtes(targetSql, buckets, steps, lrNum, lrDen)
    s"WITH ${ctes.mkString(",\n")}\n" +
      s"SELECT bkt, w AS w_micro FROM $wFin ORDER BY bkt"
  }

  /** Per-document score oracle: (doc_id, sigma, pred) — the batch replay
    * the streamed frozen scorer must equal bit-for-bit.
    */
  def duckScoreRowsSql(targetSql: String, buckets: Int, steps: Int,
                       lrNum: Long, lrDen: Long): String = {
    val (ctes, wFin) = duckTrainCtes(targetSql, buckets, steps, lrNum, lrDen)
    val zs = s"zs AS (SELECT doc_id, CAST(sum(cnt * w) AS BIGINT) AS z " +
      s"FROM x JOIN $wFin USING (bkt) GROUP BY doc_id)"
    val (sigCtes, sigName) =
      duckSigmoidCtes("zs", "sgf", "z", "sigma", Seq("doc_id"))
    s"WITH ${(ctes ++ (zs +: sigCtes)).mkString(",\n")}\n" +
      s"""SELECT doc_id, sigma,
                CAST(CASE WHEN sigma >= 500000 THEN 1 ELSE 0 END AS BIGINT) AS pred
         FROM $sigName ORDER BY doc_id"""
  }

  /** Calibration-table oracle: deciles of the predicted posterior vs the
    * empirical positive rate — (band, n, n_pos, mean_sigma_micro,
    * pos_rate_micro). A well-calibrated filter has pos_rate tracking
    * mean_sigma per band; the gap is the reliability-diagram readout.
    */
  def duckCalibrationSql(targetSql: String, buckets: Int, steps: Int,
                         lrNum: Long, lrDen: Long): String = {
    val (ctes, wFin) = duckTrainCtes(targetSql, buckets, steps, lrNum, lrDen)
    val zs = s"zs AS (SELECT doc_id, y, CAST(sum(cnt * w) AS BIGINT) AS z " +
      s"FROM x JOIN $wFin USING (bkt) GROUP BY doc_id, y)"
    val (sigCtes, sigName) =
      duckSigmoidCtes("zs", "sgf", "z", "sigma", Seq("doc_id", "y"))
    s"WITH ${(ctes ++ (zs +: sigCtes)).mkString(",\n")}\n" +
      s"""SELECT least(sigma // 100000, 9) AS band,
                count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
                CAST(sum(sigma) AS BIGINT) // count(*) AS mean_sigma_micro,
                CAST(sum(y) AS BIGINT) * 1000000 // count(*) AS pos_rate_micro
         FROM $sigName GROUP BY 1 ORDER BY band"""
  }

  /** Confusion-scorecard oracle: (y, pred, n, sum_sigma) over the trained
    * model's own training frame.
    */
  def duckScorecardSql(targetSql: String, buckets: Int, steps: Int,
                       lrNum: Long, lrDen: Long, gramsSql: String = ""): String = {
    val (ctes, wFin) = duckTrainCtes(targetSql, buckets, steps, lrNum, lrDen,
      gramsSql = gramsSql)
    val zs = s"zs AS (SELECT doc_id, y, CAST(sum(cnt * w) AS BIGINT) AS z " +
      s"FROM x JOIN $wFin USING (bkt) GROUP BY doc_id, y)"
    val (sigCtes, sigName) =
      duckSigmoidCtes("zs", "sgf", "z", "sigma", Seq("doc_id", "y"))
    s"WITH ${(ctes ++ (zs +: sigCtes)).mkString(",\n")}\n" +
      s"""SELECT y, CAST(CASE WHEN sigma >= 500000 THEN 1 ELSE 0 END AS BIGINT) AS pred,
                count(*) AS n, CAST(sum(sigma) AS BIGINT) AS sum_sigma
         FROM $sigName GROUP BY 1, 2 ORDER BY y, pred"""
  }
}
