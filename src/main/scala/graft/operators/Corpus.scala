package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.OracleSql
import graft.functions.GraftFunctions

/** Corpus-management primitives for a training-data pipeline: deterministic
  * train/val/test splitting and per-stratum downsampling. Both are pure
  * per-row hash predicates over the document id — scan-parallel, no shuffle,
  * reproducible across runs/engines/partitionings (the same MD5-derived
  * signed-64 bucket the verifier's sparse mode uses, P7).
  */
object Corpus {

  /** Uniform hash bucket in [0, mod): floor-mod of the signed-64 MD5 of the
    * id rendered as text — portable to any engine that can md5 a string.
    */
  def hashBucket(id: Column, mod: Int): Column =
    pmod(GraftFunctions.md5Signed64(id.cast("string")), lit(mod.toLong))

  /** DuckDB twin; floor-mod, not %, for negative hash values. */
  def duckHashBucket(idSql: String, mod: Int): String = {
    val h = OracleSql.signedMd564(s"CAST($idSql AS VARCHAR)")
    s"CAST((($h % $mod + $mod) % $mod) AS BIGINT)"
  }

  /** Deterministic split assignment: percentile thresholds over the 100-way
    * hash bucket — e.g. (90, 95) = 90% train / 5% val / 5% test. A document's
    * split never changes as the corpus grows (id-keyed, not position-keyed).
    */
  def splitAssign(id: Column, trainPct: Int, valPct: Int): Column = {
    val b = hashBucket(id, 100)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  def duckSplitAssign(idSql: String, trainPct: Int, valPct: Int): String = {
    val b = duckHashBucket(idSql, 100)
    s"CASE WHEN $b < $trainPct THEN 'train' " +
      s"WHEN $b < ${trainPct + valPct} THEN 'val' ELSE 'test' END"
  }

  /** Stratified keep-predicate: stratum s keeps 1/rates(s) of its rows
    * (deterministic hash sample per stratum; unlisted strata use
    * `defaultRate`). The per-stratum rates are plan literals on both engines.
    */
  def stratifiedKeep(id: Column, stratum: Column, rates: Map[String, Int],
                     defaultRate: Int): Column = {
    val rate = rates.foldLeft(lit(defaultRate): Column) { case (acc, (s, r)) =>
      when(stratum === s, lit(r)).otherwise(acc)
    }
    pmod(GraftFunctions.md5Signed64(id.cast("string")), rate.cast("long")) === 0
  }

  def duckStratifiedKeep(idSql: String, stratumSql: String, rates: Map[String, Int],
                         defaultRate: Int): String = {
    val rate = rates.toSeq.sortBy(_._1)
      .map { case (s, r) => s"WHEN $stratumSql = '$s' THEN $r" }
      .mkString("CASE ", " ", s" ELSE $defaultRate END")
    val h = OracleSql.signedMd564(s"CAST($idSql AS VARCHAR)")
    s"(($h % ($rate) + ($rate)) % ($rate)) = 0"
  }

  /** Priority sampling (Duffield–Lund–Thorup, JACM '07): draw a weight-
    * biased size-k sample by giving every row the key `u / w` (u a uniform
    * hash, w its integer weight) and keeping the k smallest keys — higher
    * weight ⇒ smaller key ⇒ more likely kept, with the generality plain
    * `ORDER BY weight LIMIT k` lacks (low-weight rows still get
    * proportional representation, so the sample is usable for unbiased
    * estimation, not just top-k cherry-picking).
    *
    * Everything stays in exact 64-bit integers: u is the first 32 md5 bits,
    * pre-scaled by 2²⁰ before the floor division so weight differences
    * survive the integer quotient (u·2²⁰ ≤ 2⁵² — no overflow, no floats,
    * no cross-engine libm risk; the float formulation u^(1/w) would not
    * hash-match across engines).
    *
    * Scale shape: per-row codegen expressions + a global TakeOrdered(k) —
    * per-partition top-k partials, only k rows per partition cross the
    * wire, same plan family as [[Sketches.kmvDistinct]].
    */
  def prioritySample(df: DataFrame, idCol: String, weight: Column, k: Int): DataFrame =
    df
      .withColumn("w", weight.cast("long"))
      // non-positive weights are excluded, not divided: Spark renders
      // `x div 0` as NULL and ascending sort puts NULLs FIRST, so a
      // zero-weight row would otherwise WIN the sample (DuckDB would error
      // on the same division — the filter keeps both engines out of the
      // undefined region)
      .filter(col("w") >= 1)
      .withColumn("u",
        conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("long"))
      // `div` (integral division), never floor(a/b): the float quotient can
      // round up across an integer boundary and flip the floor by one —
      // exactly the cross-engine hazard the integer formulation exists for
      .withColumn("priority", expr("(u * 1048576) div w"))
      .drop("u")
      .orderBy(col("priority"), col(idCol))
      .limit(k)

  /** DuckDB twin of [[prioritySample]]'s key (HUGEINT-safe `//` floor). */
  def duckPriorityKey(idSql: String, weightSql: String): String =
    s"(CAST(CAST('0x' || substr(md5(CAST($idSql AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT)" +
      s" * 1048576) // ($weightSql)"

  /** Source-weighted corpus mixing (the domain-mix step of an LLM data
    * pipeline): deterministically hash-sample each source so the kept token
    * mass approximates `budgetTokens` split across `weights` (sources with
    * no weight drop entirely). Per-source keep fractions derive from one
    * tiny aggregation — `min(1, budget·w·10⁶ / Σw / sourceTokens)` in pure
    * integer arithmetic (documented bound: budget·w·10⁶ < 2⁶³) collected to
    * the driver (one row per source, the same scalar-fetch shape as the
    * reference's fingerprint queries) and re-embedded as plan literals; the
    * per-row predicate is the standard portable md5 hash-bucket, so
    * membership is id-stable as the corpus grows and identical on any
    * engine. Row-level hash sampling approximates the token target in
    * expectation; a quota-exact mix would need the packing window's
    * cumulative-sum machinery.
    *
    * Scale shape: one aggregation pass for totals (output rows = |sources|),
    * one predicate scan. The corpus itself never shuffles.
    */
  def weightedMix(docs: org.apache.spark.sql.DataFrame, idCol: String, sourceCol: String,
                  textCol: String, weights: Map[String, Int], budgetTokens: Long)
      : org.apache.spark.sql.DataFrame = {
    val toks = size(graft.operators.TextAnalysis.tokens(col(textCol))).cast("long")
    val weightSum = weights.values.sum.toLong
    require(weightSum > 0, "weights must be non-empty and positive")
    val totals = docs.groupBy(col(sourceCol)).agg(sum(toks).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keepMicro = weights.map { case (s, w) =>
      val total = totals.getOrElse(s, 0L)
      // BigInt, not Long: budget * w * 1e6 passes 9.2e18 at ~1e12 budget
      // tokens (the temperatureMix wrap, driver-side flavor)
      s -> (if (total == 0L) 0L
            else (BigInt(budgetTokens) * w * 1000000 / weightSum / total)
              .min(1000000).toLong)
    }
    val thresh = keepMicro.toSeq.sortBy(_._1).foldLeft(lit(0L): Column) {
      case (acc, (s, m)) => when(col(sourceCol) === s, lit(m)).otherwise(acc)
    }
    docs.filter(pmod(GraftFunctions.md5Signed64(col(idCol).cast("string")),
        lit(1000000L)) < thresh)
      .select(col(idCol), col(sourceCol), toks.as("n_tokens"))
  }

  /** DuckDB twin of [[weightedMix]]: totals, fractions, and predicate all in
    * SQL — HUGEINT `//` floor division matches the Scala BigInt division on
    * the non-negative operands involved.
    */
  def duckWeightedMix(idCol: String, sourceCol: String, textCol: String,
                      weights: Map[String, Int], budgetTokens: Long): String = {
    val weightSum = weights.values.sum
    val wCase = weights.toSeq.sortBy(_._1)
      .map { case (s, w) => s"WHEN '$s' THEN $w" }
      .mkString(s"CASE $sourceCol ", " ", " ELSE 0 END")
    val toks = s"CAST(len(${graft.operators.TextAnalysis.duckTokens(textCol)}) AS BIGINT)"
    val h = OracleSql.signedMd564(s"CAST($idCol AS VARCHAR)")
    s"""WITH tot AS (SELECT $sourceCol AS src, CAST(sum($toks) AS BIGINT) AS t
                     FROM documents GROUP BY 1),
         frac AS (SELECT src,
                    least(1000000, CAST(CAST($budgetTokens AS HUGEINT) * ($wCase)
                      * 1000000 // $weightSum // t AS BIGINT)) AS keep_micro
                  FROM (SELECT t, src, src AS $sourceCol FROM tot) x)
       SELECT d.$idCol, d.$sourceCol, $toks AS n_tokens
       FROM documents d JOIN frac f ON d.$sourceCol = f.src
       WHERE (($h % 1000000 + 1000000) % 1000000) < f.keep_micro
       ORDER BY d.$idCol"""
  }

  /** Per-source quality gate: drop each source's bottom quartile by quality
    * score, where every source gets its OWN data-derived cut point — the
    * adaptive-filtering step real curation pipelines run per domain (a
    * threshold tuned on encyclopedia text would delete most of a forum
    * source wholesale; per-source quantiles keep the best 75% of EACH).
    *
    * Unlike `corpus_quality_band` (global threshold, two-pass driver
    * scalar) this is fully distributed: rank within source via one window,
    * pick each source's (floor(n/4)+1)-th smallest score as its threshold
    * (#sources rows), broadcast-join it back, and filter `score >=
    * threshold` (score ties at the cut survive, same keep rule as the
    * band). Ordering ties break on doc id, so the rank — and therefore the
    * threshold row — is deterministic on both engines.
    *
    * Scale shape (100 TB): the window sorts each source's (score, id)
    * pairs — parallel ACROSS sources, serial within one, so a single
    * web-scale source is the skew hazard; the production swap at that size
    * is grouped `approx_percentile(score, 0.25)` (t-digest partial agg, no
    * window at all), not used here only because sketch internals aren't
    * cross-engine comparable — the same documented degrade as q_quantiles.
    */
  def perSourceQualityGate(docs: org.apache.spark.sql.DataFrame, idCol: String,
                           sourceCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs.select(col(idCol).as("id"), col(sourceCol).as("src"),
      TextAnalysis.qualityScore(TextAnalysis.tokens(col(textCol))).as("q"))
    val w = Window.partitionBy(col("src")).orderBy(col("q"), col("id"))
    val bySrc = Window.partitionBy(col("src"))
    // the threshold attaches as a THIRD window over the same partitioning
    // (max of the one q at the threshold rank) rather than a self-join:
    // a join back to `scored` would re-evaluate the unpersisted
    // tokenize+score scan a second time — this shape scores the corpus once
    scored
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(bySrc))
      .withColumn("thr",
        max(when(col("rn") === expr("cnt div 4") + 1, col("q"))).over(bySrc))
      .filter(col("q") >= col("thr"))
      .select(col("id").as(idCol), col("src").as(sourceCol),
        col("q").as("quality_score"))
  }

  /** DuckDB twin of [[perSourceQualityGate]]. */
  def duckPerSourceQualityGate(idCol: String, sourceCol: String,
                               textCol: String): String = {
    val toks = graft.operators.TextAnalysis.duckTokens(textCol)
    val q = graft.operators.TextAnalysis.duckQualityScore("tk")
    s"""WITH scored AS (SELECT $idCol AS id, $sourceCol AS src, $q AS q
                        FROM (SELECT $idCol, $sourceCol, $toks AS tk FROM documents) x),
         ranked AS (SELECT id, src, q,
                      row_number() OVER (PARTITION BY src ORDER BY q, id) AS rn,
                      count(*) OVER (PARTITION BY src) AS cnt
                    FROM scored),
         thr AS (SELECT id, src, q,
                   max(CASE WHEN rn = cnt // 4 + 1 THEN q END)
                     OVER (PARTITION BY src) AS thr
                 FROM ranked)
       SELECT id AS $idCol, src AS $sourceCol, q AS quality_score
       FROM thr WHERE q >= thr
       ORDER BY id"""
  }

  /** Exact integer square root as a SQL expression shared by both engines:
    * `floor(sqrt(double))` is within ±1 of the true isqrt for inputs below
    * 2^52 (double sqrt is correctly rounded), and the CASE fix-up makes it
    * exact — so the temperature weights below never depend on float
    * rounding agreement between engines.
    */
  private[graft] def isqrtSql(x: String): String =
    s"""(CASE WHEN (CAST(floor(sqrt(CAST($x AS DOUBLE))) AS BIGINT) + 1)
                 * (CAST(floor(sqrt(CAST($x AS DOUBLE))) AS BIGINT) + 1) <= $x
              THEN CAST(floor(sqrt(CAST($x AS DOUBLE))) AS BIGINT) + 1
              WHEN CAST(floor(sqrt(CAST($x AS DOUBLE))) AS BIGINT)
                 * CAST(floor(sqrt(CAST($x AS DOUBLE))) AS BIGINT) > $x
              THEN CAST(floor(sqrt(CAST($x AS DOUBLE))) AS BIGINT) - 1
              ELSE CAST(floor(sqrt(CAST($x AS DOUBLE))) AS BIGINT) END)"""

  /** Temperature-scaled source mixing (alpha = 1/2): each source's share of
    * the token budget is proportional to sqrt(its token total) instead of
    * its raw size — the standard up-weighting of small high-quality sources
    * against a web-scale majority source (multilingual/multi-corpus LM
    * recipes sample source i with p_i proportional to n_i^alpha, alpha in
    * [0.3, 0.7]; alpha = 1/2 is the one exponent with an EXACT integer
    * form, via [[isqrtSql]], so both engines agree bit-for-bit and no libm
    * pow enters the pipeline). Documents are then hash-sampled toward
    * `budget * w_s / sum(w)` tokens per source, exactly like
    * [[weightedMix]] but with data-derived weights.
    *
    * Unlike [[weightedMix]] (static weights, driver-collected totals) the
    * weights here are computed fully distributed: per-source totals are one
    * map-side-combined groupBy (#sources rows), the weight-sum folds in a
    * single-row cross join, and docs pick up their keep rate through a
    * broadcast join — no driver state at any corpus size. The keep-rate
    * arithmetic runs as BigInt over the sources-sized frame: at 100 TB
    * (~1e14 tokens) the intermediate `budget * w * 1e6` reaches ~1e27,
    * past every 64-bit path (including Spark's `div`, which truncates its
    * intermediate quotient to BIGINT and wraps — see the note at the
    * computation).
    */
  def temperatureMix(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     sourceCol: String, textCol: String, budgetTokens: Long)
      : org.apache.spark.sql.DataFrame = {
    require(budgetTokens > 0, s"budgetTokens=$budgetTokens must be positive")
    val toks = size(graft.operators.TextAnalysis.tokens(col(textCol))).cast("long")
    val totals = docs.groupBy(col(sourceCol).as("src")).agg(sum(toks).as("t"))
      .withColumn("w", expr(isqrtSql("t")))
    val wsum = totals.agg(sum(col("w")).as("wsum"))
    // keep-rate arithmetic runs as BigInt in a typed map over the
    // #sources-row frame: Spark SQL's `div` truncates its INTERMEDIATE
    // quotient to BIGINT, so `budget*w*1e6 div wsum` silently wraps around
    // 9.2e18 — reached at ~1e13 budget tokens — even when the decimal
    // product itself is fine; BigInt floor-divides the same two steps the
    // DuckDB HUGEINT twin does, exactly, at any corpus size (the frame is
    // sources-sized, so the row-at-a-time map costs nothing)
    val s2 = docs.sparkSession
    import s2.implicits._
    val rates = totals.crossJoin(broadcast(wsum))
      .select(col("src"), col("t"), col("w"), col("wsum"))
      .as[(String, Long, Long, Long)]
      .map { case (src, t, w, ws) =>
        val km = BigInt(budgetTokens) * w * 1000000 / ws / t
        (src, km.min(1000000).toLong)
      }
      .toDF("src", "keep_micro")
    docs.join(broadcast(rates), col(sourceCol) === col("src"))
      .filter(pmod(GraftFunctions.md5Signed64(col(idCol).cast("string")),
        lit(1000000L)) < col("keep_micro"))
      .select(col(idCol), col(sourceCol), toks.as("n_tokens"))
  }

  /** DuckDB twin of [[temperatureMix]] — HUGEINT carries the same 128-bit
    * headroom DECIMAL(38,0) does on the Spark side, and `//` floor-divides
    * the same non-negative operands.
    */
  def duckTemperatureMix(idCol: String, sourceCol: String, textCol: String,
                         budgetTokens: Long): String = {
    val toks = s"CAST(len(${graft.operators.TextAnalysis.duckTokens(textCol)}) AS BIGINT)"
    val h = OracleSql.signedMd564(s"CAST($idCol AS VARCHAR)")
    s"""WITH tot AS (SELECT $sourceCol AS src, CAST(sum($toks) AS BIGINT) AS t
                     FROM documents GROUP BY 1),
         wt AS (SELECT src, t, ${isqrtSql("t")} AS w FROM tot),
         rates AS (SELECT src,
                     least(1000000, CAST(CAST($budgetTokens AS HUGEINT) * w
                       * 1000000 // (SELECT sum(w) FROM wt) // t AS BIGINT)) AS keep_micro
                   FROM wt)
       SELECT d.$idCol, d.$sourceCol, $toks AS n_tokens
       FROM documents d JOIN rates f ON d.$sourceCol = f.src
       WHERE (($h % 1000000 + 1000000) % 1000000) < f.keep_micro
       ORDER BY d.$idCol"""
  }

  /** Concat-and-chunk sequence packing: documents are concatenated in id
    * order within a (stratum, shard) and chunked into fixed `seqLen`-token
    * training sequences — the GPT-style packing step that turns a document
    * corpus into equal-length samples. A document's sequence id is the number
    * of whole budgets consumed before it: `floor(cumulative_tokens_before /
    * seqLen)` (documents may straddle a boundary; the trailing partial
    * sequence is kept, as in practice).
    *
    * Output: one row per (stratum, shard, seq_id) with document/token counts
    * and the first/last packed doc id.
    *
    * Scale shape: the running sum is a window partitioned by (stratum,
    * shard) — state is one counter per partition, and shards bound partition
    * width, so packing parallelizes to `strata × shards` independent streams
    * (exactly how production packers shard; a global single-order pack would
    * serialize the corpus through one window partition).
    */
  def packSequences(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, stratumCol: String,
                    seqLen: Int, nShards: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(
      col(stratumCol).as("stratum"),
      (col(idCol) % nShards).as("shard"),
      col(idCol).as("id"),
      size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tok"))
    val w = Window.partitionBy(col("stratum"), col("shard")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"cum_before div $seqLen"))
      .groupBy(col("stratum"), col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("id")).as("first_doc"), max(col("id")).as("last_doc"))
      .orderBy("stratum", "shard", "seq_id")
  }

  /** DuckDB twin of [[packSequences]] over the `documents` fixture. */
  def duckPackSequences(seqLen: Int, nShards: Int): String =
    s"""WITH base AS (SELECT lang AS stratum, doc_id % $nShards AS shard, doc_id AS id,
                             CAST(len(${TextAnalysis.duckTokens("text")}) AS BIGINT) AS n_tok
                      FROM documents),
       c AS (SELECT stratum, shard, id, n_tok,
                    CAST(COALESCE(sum(n_tok) OVER (PARTITION BY stratum, shard ORDER BY id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
             FROM base)
       SELECT stratum, shard, cum_before // $seqLen AS seq_id,
              count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              min(id) AS first_doc, max(id) AS last_doc
       FROM c GROUP BY stratum, shard, cum_before // $seqLen
       ORDER BY stratum, shard, seq_id"""

  /** Length-bucketed batching audit: assign each document to its
    * power-of-two token-length bucket (floor `minCap`, ceiling `capTokens`
    * with truncation counted, the usual tokenizer max-length contract) and
    * report per-bucket document count, real token mass, truncation count,
    * and padding waste in integer micro-units — the figure that decides a
    * training job's bucket boundaries (pad-to-bucket-cap wastes
    * `cap·n_docs − Σ eff_tokens` slots; a single global pad-to-max wastes
    * vastly more; this table quantifies the trade per bucket).
    *
    * Scale shape: one scan-parallel map-side-combined aggregate; output is
    * ≤ log2(capTokens) rows at ANY corpus size. The power-of-two cap is
    * pure integer on both engines: `1 << bitlen(x − 1)` (bit length via
    * `length(bin(·))` — no libm log2, the house discipline).
    */
  def lengthBuckets(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, minCap: Int = 16,
                    capTokens: Int = 1024): org.apache.spark.sql.DataFrame = {
    require(minCap >= 2 && Integer.bitCount(minCap) == 1,
      s"minCap=$minCap must be a power of two >= 2")
    require(capTokens >= minCap && Integer.bitCount(capTokens) == 1,
      s"capTokens=$capTokens must be a power of two >= minCap=$minCap")
    val nTok = size(TextAnalysis.tokens(col(textCol))).cast("long")
    val base = docs.select(
      col(idCol).as("id"), nTok.as("n_tok"),
      least(nTok, lit(capTokens.toLong)).as("eff"))
    // raw' = clamp(eff, minCap, capTokens) >= minCap >= 2, so bitlen(raw'-1)
    // is well-defined and cap = 2^bitlen(raw'-1) is the next power of two
    // SQL shiftleft: the Scala functions.shiftleft only takes a literal
    // shift amount, the expression form accepts a column
    val capped = base.withColumn("cap",
      expr(s"shiftleft(CAST(1 AS BIGINT), CAST(length(bin(greatest(eff, ${minCap}L) - 1)) AS INT))"))
    capped.groupBy(col("cap").as("bucket_cap"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("n_tok") > capTokens.toLong, 1L).otherwise(0L)).as("n_truncated"),
        sum(col("eff")).as("eff_tokens"))
      .select(col("bucket_cap"), col("n_docs"), col("n_tokens"), col("n_truncated"),
        expr("(bucket_cap * n_docs - eff_tokens) * 1000000 div (bucket_cap * n_docs)")
          .as("waste_micro"))
      .orderBy("bucket_cap")
  }

  /** DuckDB twin of [[lengthBuckets]] over the `documents` fixture. */
  def duckLengthBuckets(minCap: Int = 16, capTokens: Int = 1024): String =
    s"""WITH base AS (SELECT doc_id,
              CAST(len(${TextAnalysis.duckTokens("text")}) AS BIGINT) AS n_tok
            FROM documents),
       e AS (SELECT doc_id, n_tok, least(n_tok, $capTokens) AS eff FROM base),
       c AS (SELECT doc_id, n_tok, eff,
                    (CAST(1 AS BIGINT) << length(bin(greatest(eff, $minCap) - 1))) AS cap
             FROM e),
       g AS (SELECT cap AS bucket_cap, count(*) AS n_docs,
                    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                    CAST(sum(CASE WHEN n_tok > $capTokens THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
                    CAST(sum(eff) AS BIGINT) AS eff_tokens
             FROM c GROUP BY cap)
       SELECT bucket_cap, n_docs, n_tokens, n_truncated,
              (bucket_cap * n_docs - eff_tokens) * 1000000 // (bucket_cap * n_docs) AS waste_micro
       FROM g ORDER BY bucket_cap"""

  /** Overlapping-window document chunking — the retrieval/RAG preparation
    * step (and the long-document remedy for embedding models with a context
    * cap): each document splits into `chunkTokens`-token windows advancing by
    * `stride` tokens (overlap = chunkTokens − stride preserves context across
    * boundaries). Start positions are 1, 1+stride, …, through the first start
    * whose window reaches the end; the final chunk may be short, and no start
    * lies beyond the text. Pure per-row expressions until one explode — no
    * shuffle at all; chunk count ≈ n_tokens/stride rows out.
    */
  def chunk(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
            chunkTokens: Int, stride: Int,
            passThrough: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    require(stride >= 1 && stride <= chunkTokens,
      s"stride=$stride must be in [1, chunkTokens=$chunkTokens]")
    // `passThrough` columns ride along on every chunk of their document, so
    // a caller keeping per-document attributes needs no join back
    val carry = passThrough.map(col)
    docs.select((col(idCol).as("doc_id") +: carry) :+ TextAnalysis.tokens(col(textCol)).as("tk"): _*)
      .withColumn("n", size(col("tk")).cast("long"))
      // ceil((n - chunkTokens) / stride) + 1 chunks; 1 when n <= chunkTokens
      .withColumn("n_chunks",
        when(col("n") <= chunkTokens, 1L)
          .otherwise(expr(s"(n - $chunkTokens + $stride - 1) div $stride") + 1L))
      .select((col("doc_id") +: carry) ++ Seq(col("tk"), col("n"),
        explode(sequence(lit(0L), col("n_chunks") - 1L)).as("i")): _*)
      .select((Seq(col("doc_id"), col("i").as("chunk_idx"),
        (col("i") * stride + 1L).as("start_pos"),
        least(lit(chunkTokens.toLong), col("n") - col("i") * stride).as("n_chunk_tokens"),
        array_join(slice(col("tk"), (col("i") * stride + 1L).cast("int"),
          least(lit(chunkTokens.toLong), col("n") - col("i") * stride).cast("int")), " ")
          .as("chunk_text")) ++ carry): _*)
  }

  /** DuckDB twin of [[chunk]] over the `documents` fixture. */
  def duckChunk(chunkTokens: Int, stride: Int): String =
    s"""WITH base AS (SELECT doc_id, ${TextAnalysis.duckTokens("text")} AS tk FROM documents),
       sized AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n,
                        CASE WHEN len(tk) <= $chunkTokens THEN 1
                             ELSE (len(tk) - $chunkTokens + $stride - 1) // $stride + 1
                        END AS n_chunks
                 FROM base),
       ch AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
                     CAST(i * $stride + 1 AS BIGINT) AS start_pos,
                     CAST(least($chunkTokens, n - i * $stride) AS BIGINT) AS n_chunk_tokens,
                     array_to_string(tk[CAST(i * $stride + 1 AS INTEGER) :
                       CAST(i * $stride + least($chunkTokens, n - i * $stride) AS INTEGER)], ' ')
                       AS chunk_text
              FROM sized, unnest(generate_series(0, CAST(n_chunks - 1 AS INTEGER))) AS t(i))
       SELECT doc_id, chunk_idx, start_pos, n_chunk_tokens, chunk_text
       FROM ch ORDER BY doc_id, chunk_idx"""

  /** Deterministic training-order shuffle: the epoch-seeded md5 of each id
    * is a reproducible pseudo-random sort key; documents land in
    * `nShards` hash shards with a within-shard position. This is the
    * data-order randomization an LLM trainer consumes (a different `seed`
    * per epoch re-permutes), kept scale-correct by sharding FIRST: the
    * within-shard row_number window parallelizes across shards instead of
    * serializing the corpus through one global-order partition.
    */
  def shuffle(docs: org.apache.spark.sql.DataFrame, idCol: String,
              seed: Int, nShards: Int): org.apache.spark.sql.DataFrame =
    withShuffleOrder(docs.select(col(idCol).as("id")), "id", seed, nShards, "shard", "pos")
      .select(col("shard"), col("pos"), col("id"))

  /** `docs` with [[shuffle]]'s order appended as `shardCol` and `posCol`:
    * the same key and the one within-shard window, over the caller's own
    * rows, so attaching the order needs no join back to `docs`.
    */
  def withShuffleOrder(docs: org.apache.spark.sql.DataFrame, idCol: String, seed: Int,
                       nShards: Int, shardCol: String,
                       posCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = md5(concat(lit(s"$seed:"), col(idCol).cast("string")))
    val w = Window.partitionBy(col(shardCol)).orderBy(col("__k"), col(idCol))
    docs.withColumn("__k", key)
      .withColumn(shardCol,
        (conv(substring(col("__k"), 1, 8), 16, 10).cast("long") % nShards).cast("int"))
      .withColumn(posCol, row_number().over(w).cast("long"))
      .drop("__k")
  }

  /** DuckDB twin of [[shuffle]] over the `documents` fixture. */
  def duckShuffle(seed: Int, nShards: Int): String =
    s"""WITH keyed AS (SELECT doc_id AS id, md5(concat('$seed:', CAST(doc_id AS VARCHAR))) AS k
                       FROM documents),
       sharded AS (SELECT id, k,
                          CAST(CAST('0x' || substr(k, 1, 8) AS UBIGINT) % $nShards AS INTEGER) AS shard
                   FROM keyed)
       SELECT shard, CAST(row_number() OVER (PARTITION BY shard ORDER BY k, id) AS BIGINT) AS pos, id
       FROM sharded ORDER BY shard, pos"""

  /** Partitioned corpus sink: hive-layout parquet partitioned by the given
    * columns (e.g. split/lang), with file count per output partition bounded
    * by `shardsPerPartition`. The pre-write shuffle keys on (partition cols,
    * id-hash shard): all rows of one (partition, shard) land in one task, so
    * each output directory holds ≤ `shardsPerPartition` files regardless of
    * how many tasks the shuffle ran — the standard remedy for both the
    * small-files problem (too many tasks × partitions) and the one-giant-file
    * problem (coalesce(1)). Deterministic id-hash sharding keeps reruns
    * byte-stable modulo parquet metadata.
    */
  def writeSharded(docs: org.apache.spark.sql.DataFrame, outDir: String,
                   idCol: String, partitionCols: Seq[String],
                   shardsPerPartition: Int): Unit = {
    val shard = pmod(GraftFunctions.md5Signed64(col(idCol).cast("string")),
      lit(shardsPerPartition.toLong))
    docs
      .repartition((partitionCols.map(col) :+ shard): _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(outDir)
  }

  /** Eval-set decontamination: ids of `train` documents sharing ANY word
    * n-gram shingle with the (small) `eval` corpus. The eval shingle set is
    * broadcast — at corpus scale (100 TB train, MB-scale benchmark suites)
    * the train side stays a scan + broadcast left-semi join with no large
    * shuffle; the output is the (tiny) contaminated-id set for an anti-join.
    * Generators stay inline per the InferFiltersFromGenerate note on
    * [[MinHashLSH.signatures]].
    */
  def contaminatedIds(train: org.apache.spark.sql.DataFrame,
                      eval: org.apache.spark.sql.DataFrame,
                      idCol: String, textCol: String, shingleN: Int): org.apache.spark.sql.DataFrame = {
    import TextAnalysis.{shinglesFromTokens, tokens}
    val evalShingles = eval
      .withColumn("tk", tokens(col(textCol)))
      .select(explode(shinglesFromTokens(col("tk"), shingleN)).as("shingle"))
      .distinct()
    graft.core.Readers.spread(train, col(idCol))
      .withColumn("tk", tokens(col(textCol)))
      .select(col(idCol), explode(shinglesFromTokens(col("tk"), shingleN)).as("shingle"))
      .join(broadcast(evalShingles), Seq("shingle"), "left_semi")
      .select(idCol).distinct()
  }

  /** Bloom-prefiltered [[contaminatedIds]] — identical output, different 100 TB
    * cost model. [[contaminatedIds]] probes a broadcast hash relation holding
    * the full eval shingle STRINGS (memory ∝ suite size); here the train side
    * probes a bloom filter instead (~10 bits/shingle — two orders of magnitude
    * smaller than the strings, fits in L2 for MB-scale suites) via Spark's own
    * codegen'd `might_contain`, and only bloom-POSITIVE shingles — the true
    * contamination plus the ~0.8% false-positive residue — reach the exact
    * semi-join that restores set-exact output. Same two-phase shape Catalyst's
    * InjectRuntimeFilter applies inside a query; done here explicitly because
    * the filter must cross a pipeline stage (build once, filter a corpus).
    *
    * Exactness: the bloom admits false positives, never false negatives, and
    * phase 3 re-checks every survivor against the real shingle set — so the
    * result equals [[contaminatedIds]] row-for-row (CorpusSpec asserts it).
    */
  def contaminatedIdsBloom(train: org.apache.spark.sql.DataFrame,
                           eval: org.apache.spark.sql.DataFrame,
                           idCol: String, textCol: String, shingleN: Int,
                           bitsPerItem: Int = 10): org.apache.spark.sql.DataFrame = {
    import TextAnalysis.{shinglesFromTokens, tokens}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    val evalShingles = eval
      .withColumn("tk", tokens(col(textCol)))
      .select(explode(shinglesFromTokens(col("tk"), shingleN)).as("shingle"))
      .distinct().persist()
    try {
      // phase 1: size from the persisted distinct count, then one tiny
      // aggregate job builds the filter over xxhash64(shingle) — the same
      // hash `might_contain` probes with, so the two phases can never drift
      val nShingles = math.max(evalShingles.count(), 1L)
      val bloomBytes = evalShingles.agg(Bridge.column(
        new BloomFilterAggregate(
          Bridge.expression(xxhash64(col("shingle"))),
          Literal(nShingles), Literal(nShingles * bitsPerItem))
          .toAggregateExpression()).as("bf")).head().getAs[Array[Byte]](0)
      val mightContain = Bridge.column(new BloomFilterMightContain(
        Literal(bloomBytes, BinaryType), Bridge.expression(xxhash64(col("shingle")))))
      // phase 2: codegen bloom probe per exploded train shingle (no shuffle,
      // no broadcast relation); phase 3: exact semi-join over survivors only
      graft.core.Readers.spread(train, col(idCol))
        .withColumn("tk", tokens(col(textCol)))
        .select(col(idCol), explode(shinglesFromTokens(col("tk"), shingleN)).as("shingle"))
        .filter(mightContain)
        .join(broadcast(evalShingles), Seq("shingle"), "left_semi")
        .select(idCol).distinct()
    } finally evalShingles.unpersist(blocking = false)
  }

  /** Fractional n-gram overlap contamination — the published large-model
    * decontamination rule ("a training document is contaminated when at
    * least X% of its n-grams also occur in the eval suite", the
    * threshold-fraction form used by PaLM/FLAN-style dedup rather than
    * GPT-3's any-collision form): per TRAIN document, the fraction of its
    * DISTINCT `shingleN`-grams found in the eval suite's shingle set, in
    * integer micro-units for cross-engine exactness. [[contaminatedIds]]
    * is the any-collision special case (n_hit > 0).
    *
    * Shape: the same broadcast eval shingle set as [[contaminatedIds]];
    * the per-doc fraction needs COUNTS, so the semi-join becomes a
    * broadcast left join + map-side-combinable (count, sum) pair — still
    * one corpus scan, one narrow shuffle on doc_id. A bloom prefilter
    * cannot shortcut the exact n_hit (false positives would inflate the
    * numerator) without [[contaminatedIdsBloom]]'s exact phase-3 recheck,
    * which composes here unchanged if the suite outgrows a broadcast.
    * Documents too short to have any shingle report (0, 0, 0, clean).
    */
  def contaminationFraction(train: org.apache.spark.sql.DataFrame,
                            eval: org.apache.spark.sql.DataFrame,
                            idCol: String, textCol: String,
                            shingleN: Int): org.apache.spark.sql.DataFrame = {
    import TextAnalysis.{shinglesFromTokens, tokens}
    val evalShingles = eval
      .withColumn("tk", tokens(col(textCol)))
      .select(explode(shinglesFromTokens(col("tk"), shingleN)).as("shingle"))
      .distinct()
      .withColumn("__hit", lit(1L))
    graft.core.Readers.spread(train, col(idCol))
      .withColumn("tk", tokens(col(textCol)))
      .select(col(idCol).as("doc_id"),
        explode_outer(array_distinct(shinglesFromTokens(col("tk"), shingleN)))
          .as("shingle"))
      .join(broadcast(evalShingles), Seq("shingle"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(col("shingle")).as("n_shingles"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        expr("CASE WHEN n_shingles = 0 THEN 0L ELSE n_hit * 1000000 div n_shingles END")
          .as("overlap_micro"))
  }

  /** DoReMi-style domain reweighting (Xie et al. 2023, simplified to the
    * one-shot multiplicative-weights step a data pipeline runs between
    * proxy-model trainings): per-domain mean LM cross-entropy (the shared
    * [[Vocab.lmXent]] quantity), excess over the corpus-wide mean, and a
    * softmax of the excess as the domain's resampling weight — domains the
    * current model finds HARD get upweighted, exactly the DoReMi update
    * direction — smoothed toward uniform by `alphaMicro` (DoReMi's c·u
    * term, default 1%).
    *
    * Integer exactness end-to-end: the loss is the micro-ln cross-entropy,
    * and the softmax runs through [[LogReg.expNegStages]] after the
    * max-subtraction trick — exp(s_d)/Σexp(s_i) = exp(-(m-s_d))/Σexp(-(m-s_i))
    * with m = max s, so every exponent is the NEGATION of a nonnegative
    * integer, which is the exp kernel's domain (and keeps every division
    * operand positive, the cross-engine precondition).
    *
    * Shape at 100 TB: the xent LM is the existing bigram aggregation; the
    * per-domain frame is |domains| rows (tens), every op past it a
    * broadcast of single-row aggregates. Output: (source, n_docs,
    * loss_micro, excess_micro, weight_micro) — Σ weight ≈ 1e6 up to
    * |domains| micro of truncation.
    */
  def doremiWeights(docs: DataFrame, idCol: String, textCol: String,
                    domainCol: String, alphaMicro: Long = 10000L): DataFrame = {
    // the result reads only the eager `per` checkpoint, so lmXent's bigram
    // cache is released once that checkpoint is written, unless another
    // owner had cached the same plan (e.g. the staged lmXentShared memo over
    // the same documents): lmXent then reused that cache, which stays
    val shared = graft.core.Staging.isCached(Vocab.lmBigrams(docs, idCol, textCol))
    val x = Vocab.lmXent(docs, idCol, textCol)
    try doremiWeightsFromXent(x,
      docs.select(col(idCol).as("doc_id"), col(domainCol).as("source")), alphaMicro)
    finally if (!shared) graft.core.Staging.releaseCaches(x)
  }

  /** [[doremiWeights]] over a PRE-BUILT per-doc cross-entropy table
    * (doc_id, n_bigrams, mean_xent_micro) — the staged-LM seam: the bigram
    * LM build is the expensive stage and three registered queries share one
    * staged copy (`TextQueries.lmXentShared`).
    */
  def doremiWeightsFromXent(x: DataFrame, docSources: DataFrame,
                            alphaMicro: Long = 10000L): DataFrame = {
    val per = x.join(docSources, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("mean_xent_micro")).as("sx"))
      .withColumn("loss_micro", expr("sx div n_docs")) // xent >= 0: positive div
      // |domains| rows, but its lineage is the whole LM build — the four
      // downstream actions (ref, max, denominator, result) would each
      // re-run lmXent without this barrier (measured 4× on the r10 bench:
      // 10.1 s -> one LM pass)
      .localCheckpoint()
    val ref = per.agg(sum(col("sx")).as("gx"), sum(col("n_docs")).as("gn"))
      .withColumn("ref_micro", expr("gx div gn")).select("ref_micro")
    val sc = per.crossJoin(broadcast(ref))
      .withColumn("excess_micro", col("loss_micro") - col("ref_micro"))
    val withMax = sc.crossJoin(broadcast(sc.agg(max(col("excess_micro")).as("m"))))
      .withColumn("a", col("m") - col("excess_micro")) // >= 0 by construction
    val e = LogReg.withExpNeg(withMax, "a", "e")
    val den = e.agg(sum(col("e")).as("den"), count(lit(1)).as("d"))
    e.crossJoin(broadcast(den))
      .select(col("source"), col("n_docs"), col("loss_micro"), col("excess_micro"),
        // softmax share then the uniform smoothing, all positive divisions
        expr(s"((1000000 - $alphaMicro) * ((e * 1000000) div den)) div 1000000" +
          s" + $alphaMicro div d").as("weight_micro"))
  }

  /** DuckDB twin of [[doremiWeights]] over the `documents` fixture. */
  def duckDoremiSql(domainSql: String, alphaMicro: Long = 10000L,
                    table: String = "documents"): String = {
    val xent = Vocab.duckLmXentCtes(
      s"string_split(text, ' ')", table)
    val per =
      s"""dper AS (
            SELECT d.$domainSql AS source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(mean_xent_micro) AS BIGINT) AS sx
            FROM xent JOIN $table d USING (doc_id) GROUP BY 1),
          dper2 AS (SELECT *, sx // n_docs AS loss_micro FROM dper),
          dref AS (SELECT CAST(sum(sx) AS BIGINT) // CAST(sum(n_docs) AS BIGINT)
                     AS ref_micro FROM dper),
          dsc AS (SELECT source, n_docs, loss_micro,
                         loss_micro - ref_micro AS excess_micro
                  FROM dper2, dref),
          dmx AS (SELECT max(excess_micro) AS m FROM dsc),
          dsa AS (SELECT *, CAST(m - excess_micro AS BIGINT) AS a FROM dsc, dmx)"""
    val (expCtes, expName) = LogReg.duckExpNegCtes("dsa", "dxe", "a", "e",
      Seq("source", "n_docs", "loss_micro", "excess_micro"))
    s"""WITH $xent,
       $per,
       ${expCtes.mkString(",\n")},
       dden AS (SELECT CAST(sum(e) AS BIGINT) AS den,
                       CAST(count(*) AS BIGINT) AS d FROM $expName)
       SELECT source, n_docs, loss_micro, excess_micro,
              CAST(((1000000 - $alphaMicro) * ((e * 1000000) // den)) // 1000000
                   + $alphaMicro // d AS BIGINT) AS weight_micro
       FROM $expName, dden ORDER BY source"""
  }
}
