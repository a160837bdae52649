package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{minhashBands, minhashMatches, minhashSignature}
import graft.operators.TextAnalysis.{duckTokens, shinglesFromTokens, tokens}

/** Near-duplicate detection for a training-data pipeline: MinHash+LSH
  * (shingle → signature → band → bucket-join), SimHash with chunk-bucketed
  * pairing, and exact n-gram Jaccard verification of candidates.
  *
  * Hash functions are MD5-derived so every stage is engine-portable (DuckDB
  * oracle twins built from the same parameters).
  *
  * Scale shape (100 TB): signatures are one per-row codegen kernel
  * ([[graft.functions.MinHashSignature]]; scan-parallel, no shuffle).
  * Candidate generation shuffles (id, signature, band, hash) rows — the
  * standard LSH banding join — and counts matching signature positions on
  * the band join itself. Nothing ever materializes the O(n²) pair space.
  */
object MinHashLSH {

  /** Each MD5 yields 128 bits = 4 independent 32-bit hash lanes, so `numPerm`
    * permutations cost `numPerm / 4` MD5 evaluations per shingle instead of
    * `numPerm` — the dominant cost of the whole LSH pipeline (measured 4x
    * fewer digest calls at sf0.1). Lane values are unsigned-32 in a BIGINT;
    * min over longs also beats min over hex strings (no UTF8 compares).
    */
  val LanesPerMd5 = 4

  private def laneCount(numPerm: Int): Int = {
    require(numPerm % LanesPerMd5 == 0,
      s"numPerm=$numPerm must be a multiple of $LanesPerMd5 (128-bit MD5 split into 32-bit lanes)")
    numPerm / LanesPerMd5
  }

  /** Permutation p of shingle s = 32-bit lane (p % 4) of md5("{p/4}:s"). */
  def permHash(s: Column, p: Int): Column =
    conv(substring(md5(concat(lit((p / LanesPerMd5).toString), lit(":"), s)),
      (p % LanesPerMd5) * 8 + 1, 8), 16, 10).cast("long")

  def duckPermHash(sSql: String, p: Int): String =
    s"CAST(CAST('0x' || substr(md5(concat('${p / LanesPerMd5}', ':', $sSql)), " +
      s"${(p % LanesPerMd5) * 8 + 1}, 8) AS UBIGINT) AS BIGINT)"

  /** MinHash signature: for permutation p, min over shingles of [[permHash]]. */
  def signature(sh: Column, numPerm: Int): Column = {
    laneCount(numPerm)
    array((0 until numPerm).map(p => array_min(transform(sh, s => permHash(s, p)))): _*)
  }

  def duckSignature(shSql: String, numPerm: Int): String = {
    laneCount(numPerm)
    (0 until numPerm).map(p =>
      s"list_min(list_transform($shSql, s -> ${duckPermHash("s", p)}))")
      .mkString("[", ", ", "]")
  }

  /** Band hashes: signature split into `numBands` rows-per-band chunks, each
    * hashed — two docs sharing any band hash become a candidate pair.
    * Signature lanes are longs; both engines render them as plain decimal
    * before joining, so band hashes stay cross-engine identical.
    */
  def bandHashes(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(numBands - 1)),
      b => md5(array_join(
        transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), _.cast("string")), "|")))

  def duckBandHashes(sigSql: String, numBands: Int, rowsPerBand: Int): String =
    s"list_transform(generate_series(0, ${numBands - 1}), " +
      s"b -> md5(array_to_string(list_slice($sigSql, b*$rowsPerBand + 1, b*$rowsPerBand + $rowsPerBand), '|')))"

  // The signature frames persist(): the expensive shingle+signature
  // expressions must compute exactly once per row — without the barrier
  // Catalyst inlines them into downstream join predicates and re-evaluates
  // per comparison (measured: minutes instead of seconds at sf0.1). The
  // repartition in shingleFrame spreads per-row CPU across cores: a single
  // parquet file otherwise plans as one partition.

  /** Persisted `(id, sh)` stage for pipelines where shingles feed BOTH
    * candidate generation and exact verification — one tokenize+shingle pass
    * over the corpus instead of two (the r3 `dedup_ngram_jaccard` cost).
    * Always persisted: an UNPERSISTED attribute-explode over this frame
    * triggers the InferFiltersFromGenerate recompute hazard documented on
    * [[signatures]].
    */
  def shingled(df: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    graft.core.Readers.spread(
      df.select(col(idCol).as("id"), col(textCol).as("text")), col("id"))
      .withColumn("tk", tokens(col("text")))
      .select(col("id"), shinglesFromTokens(col("tk"), shingleN).as("sh"))
      .persist()

  /** Text-input signatures keep the shingle expression INLINE in the
    * kernel's argument (NOT routed through [[shingled]] + an attribute
    * explode): exploding an attribute triggers Catalyst's
    * InferFiltersFromGenerate, which synthesizes `size(sh) > 0 AND
    * isnotnull(sh)` and pushes it below the repartition with the full
    * tokenize+shingle expression substituted back in — every input row then
    * computes the shingle pipeline 2-3x (measured r4: corpus_curated 4 s →
    * ≥15 s). Here nothing is exploded and shingles compute once per row.
    *
    * One output row per input row, so ids must be unique (they are keys
    * everywhere in graft). Persisted: callers release it.
    */
  def signatures(df: DataFrame, idCol: String, textCol: String,
                 shingleN: Int, numPerm: Int): DataFrame =
    graft.core.Readers.spread(
        df.select(col(idCol).as("id"), col(textCol).as("text")), col("id"))
      .withColumn("tk", tokens(col("text")))
      .select(col("id"),
        minhashSignature(shinglesFromTokens(col("tk"), shingleN), numPerm).as("sig"))
      .persist()

  /** Signatures from a PERSISTED `(id, sh)` frame (see [[shingled]]). A row
    * with no shingles (an empty or null array) has no signature and drops,
    * as in the explode-and-`min`-aggregate form (MinHashSpec's reference).
    * Persisted: callers release it.
    */
  def signaturesFromShingles(shingled: DataFrame, numPerm: Int): DataFrame =
    shingled.filter(size(col("sh")) > 0)
      .select(col("id"), minhashSignature(col("sh"), numPerm).as("sig"))
      .persist()

  def candidatePairs(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int, numPerm: Int, numBands: Int): DataFrame =
    candidatePairsFromSigs(
      signatures(df, idCol, textCol, shingleN, numPerm), numPerm, numBands)

  /** Candidate pairs from a pre-staged `(id, sh)` frame (see [[shingled]]). */
  def candidatePairsFromShingles(shingled: DataFrame, numPerm: Int, numBands: Int): DataFrame =
    candidatePairsFromSigs(signaturesFromShingles(shingled, numPerm), numPerm, numBands)

  /** Candidate pairs from a pre-computed `(id, sig)` signature frame — the
    * entry point for callers comparing several BANDINGS of one signature
    * set (dedup_bands_curve): signatures cost one corpus pass and are
    * banding-independent, so re-signing per configuration would triple the
    * expensive stage. Pass a persisted or checkpointed `sigs`: the banding
    * caches nothing itself.
    */
  def candidatePairsFromSignatures(sigs: DataFrame, numPerm: Int,
                                   numBands: Int): DataFrame =
    candidatePairsFromSigs(sigs, numPerm, numBands)

  /** Asymmetric containment over the LSH candidates: |A∩B|/|A| and |A∩B|/|B|
    * in integer micro-units, keeping pairs where EITHER direction clears the
    * threshold (quote/subset detection — the signal symmetric Jaccard
    * misses). Joins the candidate ids back to the persisted shingle stage;
    * UNSORTED output per the operator-sort policy (order at the query).
    */
  def containmentPairs(shingled: DataFrame, numPerm: Int, numBands: Int,
                       thresholdMicro: Long): DataFrame =
    containmentPairs(shingled,
      candidatePairsFromShingles(shingled, numPerm, numBands), thresholdMicro)

  /** [[containmentPairs]] with the candidate generation supplied by the
    * caller — the seam for pipelines that already staged signatures (the
    * DedupStaging memo) and should not re-sign the corpus here.
    */
  def containmentPairs(shingled: DataFrame, candidates: DataFrame,
                       thresholdMicro: Long): DataFrame = {
    val pairs = candidates.select("doc_a", "doc_b")
    pairs
      .join(shingled.select(col("id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shingled.select(col("id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("(1000000 * cast(size(array_intersect(sh_a, sh_b)) as bigint)) div size(sh_a)")
          .as("contain_a_micro"),
        expr("(1000000 * cast(size(array_intersect(sh_a, sh_b)) as bigint)) div size(sh_b)")
          .as("contain_b_micro"))
      .filter(greatest(col("contain_a_micro"), col("contain_b_micro")) >= thresholdMicro)
  }

  /** Paragraph-unit id packing: pid = doc_id · stride + para_idx. Collision-
    * free while documents stay under `ParaStride` paragraphs — 1M tokens per
    * document at the default 10-token width, far past any training document;
    * a corpus that could breach it re-packs with a wider stride.
    */
  val ParaStride = 100000L

  /** Deterministic paragraph units: consecutive `paraTokens`-token slices of
    * each document, one row per (doc, slice). The fixture corpus carries no
    * layout newlines, so the splitter is positional — a real pipeline plugs
    * its paragraph boundaries into exactly this (doc_id, pid, ptext) frame
    * and everything downstream is unchanged. The token array is staged as an
    * attribute before the slicing HOF (the recorded staged-array lesson).
    */
  def paragraphs(df: DataFrame, idCol: String, textCol: String,
                 paraTokens: Int): DataFrame =
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, greatest((size(tk) - 1) div $paraTokens, 0)), " +
          s"i -> array_join(slice(tk, i * $paraTokens + 1, $paraTokens), ' '))"))
        .as(Seq("para_idx", "ptext")))
      .select(col("doc_id"),
        (col("doc_id") * ParaStride + col("para_idx")).as("pid"), col("ptext"))

  /** Paragraph-granularity two-pass dedup — the standard doc+paragraph
    * recipe in LLM-data pipelines (whole-doc MinHash misses a page that
    * quotes three boilerplate paragraphs among fresh ones; paragraph-level
    * matching catches it, and the DOC-level decision stays the unit of
    * curation): split into paragraph units, run the SAME banded MinHash-LSH
    * candidate generation over paragraphs, count each later doc's
    * paragraphs that near-duplicate any EARLIER doc's paragraph (keep-first
    * convention — pid order implies doc order across documents), and emit
    * one row per document with its duplicated-paragraph ratio and the drop
    * verdict at `dropRatioMicro`.
    *
    * Scale shape: unit count grows ~tokens/paraTokens but every stage stays
    * the banded-LSH shape — narrow (pid, band, hash) tuples, equi-joins
    * only, never all-pairs — and the doc rollup is one narrow groupBy. The
    * match threshold is `minMatching` signature positions (integer-exact
    * cross-engine; est_jaccard = minMatching/numPerm).
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     paraTokens: Int, shingleN: Int, numPerm: Int,
                     numBands: Int, minMatching: Int,
                     dropRatioMicro: Long): DataFrame = {
    val paras = paragraphs(df, idCol, textCol, paraTokens).persist()
    // capture the internally-persisted stages so THIS path releases them
    // once the staged call has materialized its output (r13 advisor: the
    // shingle frame — and the signature frame signatureAgg persists — were
    // never unpersisted on the from-text path, one leaked cache entry each
    // per call for library callers outside Bench's cache-clearing loop)
    val sh = shingled(paras, "pid", "ptext", shingleN)
    val sigs = signaturesFromShingles(sh, numPerm)
    val out = paragraphDedupFromStaged(paras, sigs, numPerm, numBands,
      minMatching, dropRatioMicro)
    paras.unpersist(blocking = false)
    sh.unpersist(blocking = false)
    sigs.unpersist(blocking = false)
    out
  }

  /** [[paragraphDedup]] from pre-staged paragraph units + their signature
    * frame (r13: the two registered paragraph queries re-tokenized,
    * re-shingled, and re-signed the whole corpus per invocation — the staged
    * frames are the persisted paragraph index artifact, the exact
    * [[DedupStaging]] shingle/signature contract one granularity down).
    * `paras` is the (doc_id, pid, ptext) unit frame, `sigs` the matching
    * (id=pid, sig) frame ([[paragraphSigs]] rows); value identity with the
    * from-text path is StagingSpec-pinned.
    */
  def paragraphDedupFromStaged(paras: DataFrame, sigs: DataFrame,
                               numPerm: Int, numBands: Int, minMatching: Int,
                               dropRatioMicro: Long): DataFrame = {
    val pairs = candidatePairsFromSignatures(sigs, numPerm, numBands)
      .filter(col("n_matching") >= minMatching &&
        expr(s"doc_a div $ParaStride") =!= expr(s"doc_b div $ParaStride"))
    val dup = pairs.select(col("doc_b").as("pid")).distinct()
    val perDoc = paras.groupBy(col("doc_id")).agg(count(lit(1)).as("n_paras"))
    val dupDoc = dup.select(expr(s"pid div $ParaStride").as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    val ratio = expr("(1000000 * coalesce(n_dup, 0L)) div n_paras")
    val result = perDoc.join(dupDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_paras"),
        ratio.as("dup_ratio_micro"),
        (ratio >= dropRatioMicro).as("drop_doc"))
    // materialize-then-release (the incrementalCandidates lifecycle). The
    // RETURNED frame stays persisted and the CALLER owns it (r11 advisor
    // item): it is per-doc-rollup-sized, the registered queries consume it
    // within one harness invocation (Bench clears the CacheManager between
    // queries), and a long-lived session that calls this repeatedly must
    // unpersist each returned frame once done with it.
    val out = result.persist()
    out.count()
    out
  }

  /** Paragraph-granularity signature rows — the index-build step of the
    * incremental paragraph gate, and exactly what [[writeSigIndex]]
    * persists for it (id = pid, so the doc-level index machinery and its
    * parameter guard apply unchanged at paragraph granularity).
    */
  def paragraphSigs(df: DataFrame, idCol: String, textCol: String,
                    paraTokens: Int, shingleN: Int, numPerm: Int): DataFrame =
    signaturesFromShingles(
      shingled(paragraphs(df, idCol, textCol, paraTokens), "pid", "ptext",
        shingleN), numPerm)

  /** Ingest-time paragraph gate — [[paragraphDedup]]'s incremental twin:
    * the NEW batch's paragraph units are checked against the EXISTING
    * corpus's paragraph signatures through [[incrementalCandidates]], then
    * rolled up to per-NEW-doc drop decisions under the same keep-first
    * convention. This form recomputes the corpus signatures from its text
    * (self-contained, what the registered query exercises); a real daily
    * ingest calls [[paragraphDedupFromIndex]] with [[readSigIndex]] rows so
    * the corpus text is never re-read — O(delta + index) per ingest, the
    * property that makes a daily paragraph-dedup gate feasible at 100 TB
    * (the disk-index path == this path is OperatorSpec-pinned).
    *
    * Output equals the full two-pass restricted to the new docs: for pairs
    * touching a new paragraph the banded candidate set is identical either
    * way (the doc-granularity equivalence OperatorSpec pins), the dup mark
    * lands on the LATER doc in both, and index×index pairs never reach a
    * new doc's rollup — so the oracle is the full twin with a final-row
    * filter.
    */
  def paragraphDedupIncremental(newDocs: DataFrame, corpusDocs: DataFrame,
                                idCol: String, textCol: String,
                                paraTokens: Int, shingleN: Int, numPerm: Int,
                                numBands: Int, minMatching: Int,
                                dropRatioMicro: Long): DataFrame = {
    // paragraphSigs' two cached stages, held so they can be released: the
    // result is materialized before paragraphDedupFromIndex returns
    val corpusShingled = shingled(paragraphs(corpusDocs, idCol, textCol, paraTokens),
      "pid", "ptext", shingleN)
    val corpusSigs = signaturesFromShingles(corpusShingled, numPerm)
    try paragraphDedupFromIndex(newDocs, corpusSigs, idCol, textCol, paraTokens,
      shingleN, numPerm, numBands, minMatching, dropRatioMicro)
    finally {
      corpusSigs.unpersist(blocking = false)
      corpusShingled.unpersist(blocking = false)
    }
  }

  /** The probe form of the incremental paragraph gate: `indexSigs` is the
    * persisted paragraph signature index ([[paragraphSigs]] rows via
    * [[writeSigIndex]]/[[readSigIndex]] — parameter guard included), and
    * only the delta tokenizes/shingles/signs. Per ingest the cost is
    * O(delta + index); the corpus TEXT is never re-read.
    */
  def paragraphDedupFromIndex(newDocs: DataFrame, indexSigs: DataFrame,
                              idCol: String, textCol: String,
                              paraTokens: Int, shingleN: Int, numPerm: Int,
                              numBands: Int, minMatching: Int,
                              dropRatioMicro: Long): DataFrame = {
    val parasNew = paragraphs(newDocs, idCol, textCol, paraTokens).persist()
    val shingledNew = shingled(parasNew, "pid", "ptext", shingleN)
    val sigsNew = signaturesFromShingles(shingledNew, numPerm)
    val cand = incrementalCandidates(sigsNew, indexSigs, numPerm, numBands)
    val dupNew = cand.filter(col("n_matching") >= minMatching &&
        expr(s"doc_a div $ParaStride") =!= expr(s"doc_b div $ParaStride"))
      .select(col("doc_b").as("pid")).distinct()
      // only NEW docs' paragraphs roll up (doc_b of a cross pair is the
      // LATER doc and may sit on the index side)
      .join(parasNew.select(col("pid")), Seq("pid"), "left_semi")
    val perDoc = parasNew.groupBy(col("doc_id")).agg(count(lit(1)).as("n_paras"))
    val dupDoc = dupNew.select(expr(s"pid div $ParaStride").as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    val ratio = expr("(1000000 * coalesce(n_dup, 0L)) div n_paras")
    val result = perDoc.join(dupDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_paras"),
        ratio.as("dup_ratio_micro"),
        (ratio >= dropRatioMicro).as("drop_doc"))
    // materialize-then-release: the delta paragraph caches (paragraphs,
    // shingles, signatures, and the candidate frame incrementalCandidates
    // left cached for this call's joins) must not outlive the ingest
    val out = result.persist()
    out.count()
    Seq(parasNew, shingledNew, sigsNew, cand).foreach(_.unpersist(blocking = false))
    out
  }

  /** DuckDB twin of [[paragraphDedup]] — same positional paragraphs, same
    * signature/banding chain, same keep-first doc rollup.
    *
    * `docPredSql` filters the FINAL per-doc rows only (e.g. the new-batch
    * predicate of the incremental twin) — dup detection always sees the
    * whole corpus, which is exactly why the incremental Spark path can
    * share this oracle: for pairs touching a new paragraph the banded
    * candidate set is identical whether generated incrementally or
    * full-corpus (the doc-granularity equivalence OperatorSpec pins), and
    * index×index pairs never contribute to a new doc's rollup.
    */
  def duckParagraphDedup(table: String, idCol: String, textCol: String,
                         paraTokens: Int, shingleN: Int, numPerm: Int,
                         numBands: Int, minMatching: Int,
                         dropRatioMicro: Long,
                         docPredSql: String = "TRUE"): String = {
    require(numPerm % numBands == 0,
      s"numPerm=$numPerm must be divisible by numBands=$numBands or trailing signature positions silently drop from banding")
    val rowsPerBand = numPerm / numBands
    val P = paraTokens
    s"""WITH ptoks AS (SELECT $idCol AS doc_id, ${duckTokens(textCol)} AS tk FROM $table),
       paras AS (SELECT doc_id, doc_id * $ParaStride + i AS pid,
                        array_to_string(list_slice(tk, i*$P + 1, i*$P + $P), ' ') AS ptext
                 FROM (SELECT doc_id, tk,
                         unnest(generate_series(0, greatest((len(tk) - 1) // $P, 0))) AS i
                       FROM ptoks) u),
       ${duckShingleCte("paras", "pid", "ptext", shingleN)},
       sigs AS (SELECT id, ${duckSignature("sh", numPerm)} AS sig FROM shs),
       bands AS (SELECT id, b AS band_idx,
                        md5(array_to_string(list_slice(sig, b*$rowsPerBand + 1, b*$rowsPerBand + $rowsPerBand), '|')) AS band_hash
                 FROM sigs, generate_series(0, ${numBands - 1}) AS t(b)),
       cand AS (SELECT DISTINCT x.id AS pa, y.id AS pb
                FROM bands x JOIN bands y
                  ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash AND x.id < y.id),
       dup AS (SELECT DISTINCT pb AS pid FROM cand
               JOIN sigs sa ON sa.id = pa JOIN sigs sb ON sb.id = pb
               WHERE len(list_filter(generate_series(1, $numPerm), i -> sa.sig[i] = sb.sig[i])) >= $minMatching
                 AND pa // $ParaStride <> pb // $ParaStride),
       perdoc AS (SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY doc_id),
       dupdoc AS (SELECT pid // $ParaStride AS doc_id, count(*) AS n_dup FROM dup GROUP BY 1)
       SELECT p.doc_id, CAST(p.n_paras AS BIGINT) AS n_paras,
              CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup_paras,
              CAST((1000000 * coalesce(d.n_dup, 0)) // p.n_paras AS BIGINT) AS dup_ratio_micro,
              (1000000 * coalesce(d.n_dup, 0)) // p.n_paras >= $dropRatioMicro AS drop_doc
       FROM perdoc p LEFT JOIN dupdoc d USING (doc_id)
       WHERE ($docPredSql) ORDER BY doc_id"""
  }

  /** Band rows `(id, sig, band_idx, band_hash)`: each signature explodes
    * into its `numBands` band hashes ([[bandHashes]] as one codegen
    * expression) and carries the signature along, so a band match counts
    * matching positions on the spot. The generator stays inline: an
    * attribute explode would infer a filter that recomputes the band hashes
    * below it (the note on [[signatures]]).
    */
  private def bandRows(sigs: DataFrame, numPerm: Int, numBands: Int): DataFrame = {
    require(numPerm % numBands == 0,
      s"numPerm=$numPerm must be divisible by numBands=$numBands or trailing signature positions silently drop from banding")
    sigs.select(col("id"), col("sig"),
      posexplode(minhashBands(col("sig"), numBands, numPerm / numBands))
        .as(Seq("band_idx", "band_hash")))
  }

  private def bandMatch: Column =
    col("x.band_idx") === col("y.band_idx") && col("x.band_hash") === col("y.band_hash")

  private def withJaccard(pairs: DataFrame, numPerm: Int): DataFrame =
    pairs.select(col("doc_a"), col("doc_b"), col("n_matching"),
      (col("n_matching").cast("double") / numPerm).as("est_jaccard"))

  /** One band self-join: the band rows are all the join moves, each
    * carrying its `numPerm`-long signature, and `n_matching` is computed on
    * the joined rows before one `distinct` — in place of re-shuffling the
    * full signature frame into two joins against the distinct pairs.
    * `n_matching` is a function of the pair, so the distinct keeps one row
    * per pair. No persist here: callers pass a persisted or checkpointed
    * `sigs` (each join side reads it) and own its release.
    */
  private def candidatePairsFromSigs(sigs: DataFrame, numPerm: Int, numBands: Int): DataFrame = {
    val bands = bandRows(sigs, numPerm, numBands)
    // no output sort here: downstream consumers (cluster closure, jaccard
    // verification, curation) destroy any order immediately — a global sort
    // of the pair set is pure waste at scale. Callers that need deterministic
    // output (the registered query) add their own orderBy.
    withJaccard(bands.as("x").join(bands.as("y"), bandMatch && col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        minhashMatches(col("x.sig"), col("y.sig")).as("n_matching"))
      .distinct(), numPerm)
  }

  /** CTE staging shared by duck twins: id + tokens + shingles. */
  def duckShingleCte(table: String, idCol: String, textCol: String, shingleN: Int): String =
    s"""toks AS (SELECT $idCol AS id, ${duckTokens(textCol)} AS tk FROM $table),
       shs AS (SELECT id, ${TextAnalysis.duckShinglesExpr("tk", shingleN)} AS sh FROM toks)"""

  /** Incremental dedup candidates — the daily-ingest shape: a NEW batch is
    * checked against the EXISTING corpus through its persisted band/
    * signature index, plus within-batch pairs. Only the delta is tokenized,
    * shingled, and signed; the corpus contributes index rows (|corpus| ×
    * numBands band rows, each carrying its signature), its TEXT is never
    * re-read — the property that turns a full-corpus O(corpus) re-dedup
    * into O(delta + index) per ingest at 100 TB. Existing×existing pairs
    * are absent BY CONSTRUCTION (they were resolved when those docs were
    * ingested); candidate generation stays banded, never all-pairs.
    */
  def incrementalCandidates(newSigs: DataFrame, indexSigs: DataFrame,
                            numPerm: Int, numBands: Int): DataFrame = {
    val nb = bandRows(newSigs, numPerm, numBands).persist()
    val ib = bandRows(indexSigs, numPerm, numBands)
    // delta × index: pair order normalized (ingest ids interleave with the
    // corpus, so neither side is uniformly the smaller id); n_matching is
    // symmetric, so the signatures need no reordering
    val cross = nb.as("x").join(ib.as("y"), bandMatch)
      .select(least(col("x.id"), col("y.id")).as("doc_a"),
        greatest(col("x.id"), col("y.id")).as("doc_b"),
        minhashMatches(col("x.sig"), col("y.sig")).as("n_matching"))
    val within = nb.as("x").join(nb.as("y"), bandMatch && col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        minhashMatches(col("x.sig"), col("y.sig")).as("n_matching"))
    val result = withJaccard(cross.union(within).distinct(), numPerm)
    // materialize-then-release (the ExactSubstr persist-lifecycle tail):
    // the delta band cache must not outlive this call — repeated ingests in
    // a long-lived session would otherwise accumulate cached partitions
    val out = result.persist()
    out.count()
    nb.unpersist(blocking = false)
    out
  }

  /** Persist a signature index for incremental ingest. The sketch
    * parameters ride along as metadata columns (the Merkle-snapshot
    * `n_buckets` pattern): signatures built with a different permutation
    * count, banding, or shingle width are incomparable, and a mismatched
    * probe would not fail — it would silently miss near-duplicates, the
    * worst possible failure mode for a dedup gate.
    */
  def writeSigIndex(sigs: DataFrame, numPerm: Int, numBands: Int,
                    shingleN: Int, path: String): Unit =
    sigs.withColumn("num_perm", lit(numPerm))
      .withColumn("num_bands", lit(numBands))
      .withColumn("shingle_n", lit(shingleN))
      .write.mode("overwrite").parquet(path)

  /** Read a signature index, failing loudly when it was built with
    * different sketch parameters than this ingest run expects. An empty
    * index (zero rows at write time) carries no metadata rows and probes
    * against anything.
    */
  def readSigIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                   expectPerm: Int, expectBands: Int, expectShingleN: Int): DataFrame = {
    val idx = spark.read.parquet(path)
    for (r <- idx.select("num_perm", "num_bands", "shingle_n").head(1).headOption) {
      val (p, b, s) = (r.getInt(0), r.getInt(1), r.getInt(2))
      require(p == expectPerm && b == expectBands && s == expectShingleN,
        s"signature index at $path was built with numPerm=$p numBands=$b " +
          s"shingleN=$s; this ingest expects numPerm=$expectPerm " +
          s"numBands=$expectBands shingleN=$expectShingleN — mismatched " +
          "sketches silently miss near-duplicates (rebuild the index or " +
          "match its parameters)")
    }
    idx.drop("num_perm", "num_bands", "shingle_n")
  }

  /** DuckDB twin of [[incrementalCandidates]] over one table with a
    * new-batch predicate (`newPredSql` over the table's columns).
    */
  def duckIncrementalCandidates(table: String, idCol: String, textCol: String,
                                newPredSql: String, shingleN: Int,
                                numPerm: Int, numBands: Int): String = {
    require(numPerm % numBands == 0,
      s"numPerm=$numPerm must be divisible by numBands=$numBands or trailing signature positions silently drop from banding")
    val rowsPerBand = numPerm / numBands
    s"""WITH toks AS (SELECT $idCol AS id, ($newPredSql) AS is_new,
                             ${duckTokens(textCol)} AS tk FROM $table),
       shs AS (SELECT id, is_new, ${TextAnalysis.duckShinglesExpr("tk", shingleN)} AS sh FROM toks),
       sigs AS (SELECT id, is_new, ${duckSignature("sh", numPerm)} AS sig FROM shs),
       bands AS (SELECT id, is_new, b AS band_idx,
                        md5(array_to_string(list_slice(sig, b*$rowsPerBand + 1, b*$rowsPerBand + $rowsPerBand), '|')) AS band_hash
                 FROM sigs, generate_series(0, ${numBands - 1}) AS t(b)),
       pairs AS (
         SELECT DISTINCT doc_a, doc_b FROM (
           SELECT least(x.id, y.id) AS doc_a, greatest(x.id, y.id) AS doc_b
           FROM bands x JOIN bands y
             ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
           WHERE x.is_new AND NOT y.is_new
           UNION
           SELECT x.id, y.id
           FROM bands x JOIN bands y
             ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash AND x.id < y.id
           WHERE x.is_new AND y.is_new) u)
       SELECT p.doc_a, p.doc_b,
              CAST(len(list_filter(generate_series(1, $numPerm), i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS n_matching,
              CAST(len(list_filter(generate_series(1, $numPerm), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $numPerm AS est_jaccard
       FROM pairs p JOIN sigs sa ON sa.id = p.doc_a JOIN sigs sb ON sb.id = p.doc_b
       ORDER BY doc_a, doc_b"""
  }

  def duckCandidatePairs(table: String, idCol: String, textCol: String,
                         shingleN: Int, numPerm: Int, numBands: Int): String = {
    require(numPerm % numBands == 0,
      s"numPerm=$numPerm must be divisible by numBands=$numBands or trailing signature positions silently drop from banding")
    val rowsPerBand = numPerm / numBands
    val sig = duckSignature("sh", numPerm)
    s"""WITH ${duckShingleCte(table, idCol, textCol, shingleN)},
       sigs AS (SELECT id, $sig AS sig FROM shs),
       bands AS (SELECT id, b AS band_idx,
                        md5(array_to_string(list_slice(sig, b*$rowsPerBand + 1, b*$rowsPerBand + $rowsPerBand), '|')) AS band_hash
                 FROM sigs, generate_series(0, ${numBands - 1}) AS t(b)),
       pairs AS (SELECT DISTINCT x.id AS doc_a, y.id AS doc_b
                 FROM bands x JOIN bands y
                 ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash AND x.id < y.id)
       SELECT p.doc_a, p.doc_b,
              CAST(len(list_filter(generate_series(1, $numPerm), i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS n_matching,
              CAST(len(list_filter(generate_series(1, $numPerm), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $numPerm AS est_jaccard
       FROM pairs p JOIN sigs sa ON sa.id = p.doc_a JOIN sigs sb ON sb.id = p.doc_b
       ORDER BY doc_a, doc_b"""
  }
}

/** 64-bit SimHash (Charikar'02; the Manku et al. WWW'07 near-dup config):
  * per-token 64-bit MD5-derived hash, per-bit weighted vote, near-dup =
  * Hamming distance <= k.
  *
  * Pairing uses the pigeonhole chunk trick: with 4 16-bit chunks and k = 3,
  * any pair within distance 3 shares at least one exact chunk, so a
  * chunk-bucket join finds exactly the brute-force result without O(n²).
  * Chunk selectivity is what makes this scale: 2^16 = 65,536 bucket values
  * per chunk index keeps each bucket's self-join candidate set at n/65536
  * per chunk (the former 32-bit/8-bit-chunk layout had only 256 buckets and
  * degenerated toward O(n²/1024) at large n).
  *
  * Signed-64 portability: the hash value is the two's-complement
  * reinterpretation of the first 16 MD5 hex chars. All bit extraction happens
  * on non-negative 16-bit chunk values parsed straight from the hex string
  * (no dynamic shifts on negative numbers on either engine); the DuckDB twin
  * assembles the same value via HUGEINT and subtracts 2^64 when >= 2^63.
  */
object SimHash {
  val Bits = 64
  val Chunks = 4
  val ChunkBits = 16
  val MaxHamming = 3 // must stay < Chunks for the pigeonhole guarantee

  /** Hex substring position of chunk `c` (c=0 is the LOW 16 bits, hex chars
    * 13-16 of the big-endian 16-char prefix).
    */
  private def chunkPos(c: Int): Int = 13 - 4 * c

  /** Per-row HOF reference expression — interpreted, exists so the
    * equivalence spec can pin [[simhashDf]] to an independent formulation.
    * Static Scala loops over bits/chunks keep every shift distance literal.
    */
  def simhash(text: Column): Column = {
    val th = transform(tokens(text), t => md5(t))
    (0 until Bits).map { b =>
      val vote = aggregate(th, lit(0L), (acc, hx) =>
        acc + (shiftright(conv(substring(hx, chunkPos(b / ChunkBits), 4), 16, 10).cast("long"),
          b % ChunkBits).bitwiseAND(lit(1L)) * 2 - 1))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** Scan-scale simhash: explode tokens, one codegen'd hash-aggregate with 64
    * per-bit vote sums (map-side partial agg), reassemble the hash from the
    * 64 scalars. The per-token MD5 is staged once as a column; chunk values
    * are non-negative 16-bit longs so every shift is on a literal distance.
    */
  def simhashDf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val th = graft.core.Readers.spread(
      df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("tok")), col("id"))
      .select(col("id"), md5(col("tok")).as("hx"))
      .select(col("id") +: (0 until Chunks).map(c =>
        conv(substring(col("hx"), chunkPos(c), 4), 16, 10).cast("long").as(s"c$c")): _*)
    val votes = (0 until Bits).map(b =>
      sum(shiftright(col(s"c${b / ChunkBits}"), b % ChunkBits).bitwiseAND(lit(1L)) * 2 - 1)
        .as(s"b$b"))
    val assembled = (0 until Bits).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_.bitwiseOR(_))
    th.groupBy(col("id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("id"), assembled.as("simhash"))
  }

  def duckSimhash(text: String): String = {
    val th = s"list_transform(${duckTokens(text)}, t -> md5(t))"
    // unsigned 64-bit sum in HUGEINT, then two's-complement to BIGINT
    s"""(SELECT CAST(t.u - CASE WHEN t.u >= CAST('9223372036854775808' AS HUGEINT)
               THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT)
        FROM (SELECT list_sum(list_transform(generate_series(0, ${Bits - 1}), b ->
          CASE WHEN list_sum(list_transform(th, hx ->
                 ((CAST('0x' || substr(hx, 13 - 4 * (b // $ChunkBits), 4) AS INTEGER)
                   >> (b % $ChunkBits)) & 1) * 2 - 1)) > 0
               THEN CAST(1 AS HUGEINT) << b ELSE CAST(0 AS HUGEINT) END)) AS u
          FROM (SELECT $th AS th) AS _t) AS t)"""
  }

  /** Near-dup pairs via chunk-bucket join; exactly equals brute-force
    * bit_count(xor) <= MaxHamming thanks to the pigeonhole bound.
    */
  def nearPairs(df: DataFrame, idCol: String, simhashCol: String): DataFrame = {
    // persist: the chunk relation feeds both sides of the self-join; without
    // the barrier the upstream simhash pipeline runs twice (or worse, inlines
    // into the join predicate)
    val chunks = graft.core.Readers.spread(
      df.select(col(idCol).as("id"), col(simhashCol).as("sh")), col("id"))
      .select(col("id"), col("sh"),
        posexplode(array((0 until Chunks).map(c =>
          shiftright(col("sh"), ChunkBits * c).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("chunk_idx", "chunk")))
      .persist()
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk_idx") === col("y.chunk_idx") &&
          col("x.chunk") === col("y.chunk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        bit_count(expr("x.sh ^ y.sh")).cast("long").as("hamming")).distinct()
      .filter(col("hamming") <= MaxHamming)
    // no output sort here (same policy as candidatePairs): a global sort of
    // the pair set is pure waste for downstream consumers like clustering —
    // the registered query adds its own deterministic orderBy
  }

  private def chunksOf(df: DataFrame, idCol: String, simhashCol: String): DataFrame =
    graft.core.Readers.spread(
      df.select(col(idCol).as("id"), col(simhashCol).as("sh")), col("id"))
      .select(col("id"), col("sh"),
        posexplode(array((0 until Chunks).map(c =>
          shiftright(col("sh"), ChunkBits * c).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("chunk_idx", "chunk")))

  /** Ingest-time near-dup screen against a persisted hash index: every
    * pair within MaxHamming that TOUCHES the new batch (delta × index plus
    * delta × delta), with the corpus side supplied as already-computed
    * 64-bit hashes — the expensive decode/hash step runs on the DELTA
    * only, O(delta + index) per ingest. The pigeonhole bound makes this
    * EXACTLY the full [[nearPairs]] set restricted to pairs touching a new
    * id (nearPairs equals brute force, and a qualifying pair shares a
    * chunk regardless of which side is the index), which is why the
    * registered query shares the full twin's oracle with a final-row
    * filter — the paragraphDedupIncremental convention.
    */
  def incrementalNearPairs(newHashes: DataFrame, indexHashes: DataFrame,
                           idCol: String, simhashCol: String): DataFrame = {
    val nc = chunksOf(newHashes, idCol, simhashCol).persist()
    val ic = chunksOf(indexHashes, idCol, simhashCol)
    def bandCond = col("x.chunk_idx") === col("y.chunk_idx") &&
      col("x.chunk") === col("y.chunk")
    // delta × index: ingest ids interleave with the corpus, normalize order
    val cross = nc.as("x").join(ic.as("y"), bandCond && col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("doc_a"),
        greatest(col("x.id"), col("y.id")).as("doc_b"),
        bit_count(expr("x.sh ^ y.sh")).cast("long").as("hamming"))
    val within = nc.as("x").join(nc.as("y"), bandCond && col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        bit_count(expr("x.sh ^ y.sh")).cast("long").as("hamming"))
    val result = cross.union(within).distinct().filter(col("hamming") <= MaxHamming)
    // materialize-then-release (the incrementalCandidates lifecycle): the
    // delta chunk cache must not outlive this call — repeated ingests in a
    // long-lived session would otherwise accumulate cached partitions
    val out = result.persist()
    out.count()
    nc.unpersist(blocking = false)
    out
  }

  /** Persist a 64-bit hash index (id, sh) with its banding parameters —
    * the writeSigIndex convention for the pHash/SimHash side.
    */
  def writeHashIndex(hashes: DataFrame, idCol: String, simhashCol: String,
                     path: String): Unit =
    hashes.select(col(idCol).as("id"), col(simhashCol).as("sh"))
      .withColumn("chunks", lit(Chunks))
      .withColumn("chunk_bits", lit(ChunkBits))
      .withColumn("max_hamming", lit(MaxHamming))
      .write.mode("overwrite").parquet(path)

  /** Read a hash index, failing loudly on banding-parameter mismatch —
    * a different chunking silently loses the pigeonhole guarantee. An EMPTY
    * index (no metadata rows) is deliberately accepted: it is the
    * first-ever-ingest bootstrap state, and probing it is benign — zero
    * cross pairs (correct for an empty corpus) while within-delta pairs
    * still surface.
    */
  def readHashIndex(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame = {
    val idx = spark.read.parquet(path)
    for (r <- idx.select("chunks", "chunk_bits", "max_hamming").head(1).headOption) {
      require(r.getInt(0) == Chunks && r.getInt(1) == ChunkBits && r.getInt(2) == MaxHamming,
        s"hash index at $path was built with chunks=${r.getInt(0)} " +
          s"chunkBits=${r.getInt(1)} maxHamming=${r.getInt(2)}; this build expects " +
          s"$Chunks/$ChunkBits/$MaxHamming — mismatched banding loses the pigeonhole guarantee")
    }
    idx.drop("chunks", "chunk_bits", "max_hamming")
  }
}

/** Exact duplicated-SUBSTRING detection (Lee et al., "Deduplicating Training
  * Data Makes Language Models Better", ACL'22 — the ExactSubstr family): find
  * k-token spans that occur more than once ANYWHERE in the corpus and report,
  * per document, how much of its text those duplicated spans cover. This is
  * finer-grained than doc-level MinHash/SimHash (which this engine also has):
  * boilerplate headers, license blocks, and quoted passages duplicate long
  * spans inside otherwise-unique documents, and span coverage is the signal a
  * curation pass thresholds on.
  *
  * The reference paper builds a corpus-wide suffix array; the Spark-shaped
  * equivalent is a hashed sliding-window inverted index: every k-token window
  * hashes to 16 bytes, duplicated hashes are found by one groupBy, and
  * membership joins back by hash — all shuffles are narrow (id, pos, hash)
  * tuples, never the text, and nothing is quadratic. Interval-union coverage
  * runs as a per-document window function: spans all have length k, so
  * islands split exactly where `pos - prev_pos >= k` and the union length is
  * `max(pos) - min(pos) + k` per island — pure integer arithmetic, exact on
  * both engines.
  *
  * Scale shape (100 TB): spans ≈ tokens ≈ corpus size; the groupBy(h) and the
  * per-doc window both shuffle fixed-width rows. At 100 TB the dup-hash set
  * is Zipf-concentrated — AQE's skew handling splits the hot hash partitions
  * (boilerplate spans repeat millions of times); the semi-join back is hash
  * → hash, broadcastable when the dup set is small.
  */
object ExactSubstr {

  /** (id, n, pos, h): every k-token window of every document with >= k
    * tokens; pos is 1-based, h = md5 of the space-joined window. The span
    * array computes in ONE projection (k·n md5s per doc) and is persisted
    * before the explode — the InferFiltersFromGenerate recompute hazard
    * documented on [[MinHashLSH.signatures]] applies identically here.
    * Returns (persisted staged frame, exploded span frame): the CALLER owns
    * the staged cache and must release it after materializing its result —
    * every public operator here does so, so none leaks a corpus-scale cache
    * into the rest of a pipeline run.
    */
  private def stagedSpans(df: DataFrame, idCol: String, textCol: String,
                          k: Int, carry: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val carryCols = carry.map(col)
    val staged = graft.core.Readers.spread(
        df.select(col(idCol).as("id") +: col(textCol).as("text") +: carryCols: _*), col("id"))
      .withColumn("tk", tokens(col("text")))
      .withColumn("n", size(col("tk")).cast("long"))
      .filter(col("n") >= k)
      .select(col("id") +: col("n") +:
        transform(sequence(lit(1), (col("n") - (k - 1)).cast("int")),
          p => md5(array_join(slice(col("tk"), p, lit(k)), " "))).as("hs") +:
        carryCols: _*)
      .persist()
    val spans = staged
      .select(col("id") +: col("n") +:
        posexplode(col("hs")).as(Seq("pos0", "h")) +: carryCols: _*)
      .select(col("id") +: col("n") +: (col("pos0") + 1).cast("long").as("pos") +:
        col("h") +: carryCols: _*)
    (staged, spans)
  }

  /** Materialize `result` (persisted) then release the staged span cache —
    * the persist-lifecycle tail shared by every operator in this object.
    */
  private def materializedThenRelease(result: DataFrame, staged: DataFrame): DataFrame = {
    val out = result.persist()
    out.count()
    staged.unpersist(blocking = false)
    out
  }

  /** Per-document duplicated-span coverage: token positions covered by at
    * least one k-window whose hash occurs more than once corpus-wide.
    * Returns (doc id, n_tokens, n_dup_spans, covered_tokens, coverage_micro),
    * only documents with at least one duplicated span.
    */
  def coverage(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val (staged, spans) = stagedSpans(df, idCol, textCol, k)
    val dup = spans.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("h"))
    materializedThenRelease(
      islandCoverage(spans.join(dup, Seq("h"), "left_semi"), k), staged)
  }

  /** Bloom-prefiltered [[coverage]] — row-identical output, different scale
    * shape. The dup-hash groupBy is unavoidable but CHEAP at scale (partial
    * counts collapse duplicate hashes map-side, so its shuffle carries
    * ~distinct hashes); the expensive second pass is the semi-join, whose
    * spans side re-shuffles EVERY (id, n, pos, h) occurrence. Folding the
    * dup set into a bloom filter turns that into a scan-local codegen
    * `might_contain` probe — only probable-duplicate spans (true dups + the
    * ~1/1024 false-positive tail at 10 bits/item) reach the exact semi-join
    * that removes the false positives. Same pattern as
    * [[Corpus.contaminatedIdsBloom]].
    */
  def coverageBloom(df: DataFrame, idCol: String, textCol: String, k: Int,
                    bitsPerItem: Int = 10): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    val (staged, spans) = stagedSpans(df, idCol, textCol, k)
    val dup = spans.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("h")).persist()
    try {
      val nDup = math.max(dup.count(), 1L)
      val bloomBytes = dup.agg(Bridge.column(
        new BloomFilterAggregate(
          Bridge.expression(xxhash64(col("h"))),
          Literal(nDup), Literal(nDup * bitsPerItem))
          .toAggregateExpression()).as("bf")).head().getAs[Array[Byte]](0)
      val mightContain = Bridge.column(new BloomFilterMightContain(
        Literal(bloomBytes, BinaryType), Bridge.expression(xxhash64(col("h")))))
      materializedThenRelease(islandCoverage(
        spans.filter(mightContain).join(dup, Seq("h"), "left_semi"), k), staged)
    } finally dup.unpersist(blocking = false)
  }

  /** The shared interval-union tail of both coverage variants. */
  private def islandCoverage(dupStarts: DataFrame, k: Int,
                             carry: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dupStarts
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("flag",
        when(col("prev").isNull || col("pos") - col("prev") >= k, 1L).otherwise(0L))
      .withColumn("grp", sum(col("flag")).over(run))
      .groupBy(col("id"), col("grp"))
      .agg(first(col("n")).as("n"),
        (max(col("pos")) - min(col("pos")) + k).as("ilen") +:
          count(lit(1)).as("nspans") +: carry.map(c => first(col(c)).as(c)): _*)
      .groupBy(col("id"))
      .agg(first(col("n")).as("n_tokens"),
        sum(col("nspans")).as("n_dup_spans") +:
          sum(col("ilen")).as("covered_tokens") +: carry.map(c => first(col(c)).as(c)): _*)
      .withColumn("coverage_micro", expr("(1000000 * covered_tokens) div n_tokens"))
  }

  /** The operational drill-down behind [[coverage]]: the `topN`
    * most-repeated k-token spans with their text — "WHICH license block /
    * boilerplate header dominates the corpus". A deterministic witness
    * occurrence (smallest (doc, pos), packed into one integer so both
    * engines take the same min) is joined back to slice the actual tokens;
    * only `topN` rows reach that join.
    */
  /** Witness packing base: 2^31 positions per document — covers 2-billion-
    * token documents, with ids up to 2^32 (≈ 4.3e9) before the packed long
    * overflows. Both bounds documented rather than probed: validating them
    * would cost an extra full-corpus aggregate per call.
    */
  val WitnessBase: Long = 1L << 31

  def topSpans(df: DataFrame, idCol: String, textCol: String,
               k: Int, topN: Int): DataFrame = {
    val (staged, spans) = stagedSpans(df, idCol, textCol, k)
    val top = spans.groupBy(col("h"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("id")).as("n_docs"),
        min(col("id") * WitnessBase + col("pos")).as("wit"))
      .filter(col("n_occurrences") > 1)
      .orderBy(col("n_occurrences").desc, col("h").asc)
      .limit(topN)
      .select(col("h"), col("n_occurrences"), col("n_docs"),
        expr(s"wit div $WitnessBase").as("witness_doc"),
        (col("wit") % WitnessBase).as("witness_pos"))
    val toks = graft.core.Readers.spread(
        df.select(col(idCol).as("id"), col(textCol).as("text")), col("id"))
      .select(col("id"), tokens(col("text")).as("tk"))
    materializedThenRelease(
      top.join(toks, col("witness_doc") === col("id"))
        .select(col("h"),
          array_join(slice(col("tk"), col("witness_pos").cast("int"), lit(k)), " ")
            .as("span_text"),
          col("n_occurrences"), col("n_docs"), col("witness_doc"), col("witness_pos"))
        .orderBy(col("n_occurrences").desc, col("h").asc),
      staged)
  }

  /** DuckDB twin of [[topSpans]]. */
  def duckTopSpans(table: String, idCol: String, textCol: String,
                   k: Int, topN: Int): String =
    s"""WITH toks AS (SELECT $idCol AS id, ${TextAnalysis.duckTokens(textCol)} AS tk FROM $table),
       base AS (SELECT id, tk, CAST(len(tk) AS BIGINT) AS n FROM toks WHERE len(tk) >= $k),
       spans AS (SELECT id, CAST(p AS BIGINT) AS pos,
                        md5(array_to_string(tk[p:p+${k - 1}], ' ')) AS h
                 FROM base, unnest(generate_series(1, CAST(n AS INTEGER) - ${k - 1})) AS t(p)),
       agg AS (SELECT h, CAST(count(*) AS BIGINT) AS n_occurrences,
                      CAST(count(DISTINCT id) AS BIGINT) AS n_docs,
                      min(id * $WitnessBase + pos) AS wit
               FROM spans GROUP BY h HAVING count(*) > 1),
       top AS (SELECT * FROM agg ORDER BY n_occurrences DESC, h ASC LIMIT $topN)
       SELECT t.h,
              array_to_string(b.tk[CAST(t.wit % $WitnessBase AS INTEGER) :
                CAST(t.wit % $WitnessBase + ${k - 1} AS INTEGER)], ' ') AS span_text,
              t.n_occurrences, t.n_docs,
              t.wit // $WitnessBase AS witness_doc, t.wit % $WitnessBase AS witness_pos
       FROM top t JOIN base b ON b.id = t.wit // $WitnessBase
       ORDER BY t.n_occurrences DESC, t.h ASC"""

  /** DuckDB twin of [[coverage]] (same k, same island arithmetic). */
  def duckCoverage(table: String, idCol: String, textCol: String, k: Int): String =
    s"""WITH toks AS (SELECT $idCol AS id, ${TextAnalysis.duckTokens(textCol)} AS tk FROM $table),
       base AS (SELECT id, tk, CAST(len(tk) AS BIGINT) AS n FROM toks WHERE len(tk) >= $k),
       spans AS (SELECT id, n, CAST(p AS BIGINT) AS pos,
                        md5(array_to_string(tk[p:p+${k - 1}], ' ')) AS h
                 FROM base, unnest(generate_series(1, CAST(n AS INTEGER) - ${k - 1})) AS t(p)),
       dup AS (SELECT h FROM spans GROUP BY h HAVING count(*) > 1),
       ds AS (SELECT id, n, pos FROM spans WHERE h IN (SELECT h FROM dup)),
       flagged AS (SELECT id, n, pos,
                          CASE WHEN lag(pos) OVER w IS NULL
                                 OR pos - lag(pos) OVER w >= $k
                               THEN 1 ELSE 0 END AS flag
                   FROM ds WINDOW w AS (PARTITION BY id ORDER BY pos)),
       grpd AS (SELECT id, n, pos,
                       sum(flag) OVER (PARTITION BY id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS grp
                FROM flagged),
       isl AS (SELECT id, grp, any_value(n) AS n,
                      max(pos) - min(pos) + $k AS ilen, count(*) AS nspans
               FROM grpd GROUP BY id, grp)
       SELECT id AS $idCol, CAST(any_value(n) AS BIGINT) AS n_tokens,
              CAST(sum(nspans) AS BIGINT) AS n_dup_spans,
              CAST(sum(ilen) AS BIGINT) AS covered_tokens,
              (1000000 * CAST(sum(ilen) AS BIGINT)) // CAST(any_value(n) AS BIGINT)
                AS coverage_micro
       FROM isl GROUP BY id ORDER BY id"""

  /** Cross-document boilerplate removal — the token-window analogue of
    * CCNet/RefinedWeb line-level dedup (their corpora carry newline
    * structure; token text doesn't, so the repetition unit is the k-token
    * window). A window is BOILERPLATE when it appears in at least `minDocs`
    * DISTINCT documents of the SAME source: site templates, license
    * headers, and navigation chrome repeat across a site's pages, and
    * scoping the threshold to the source keeps a phrase that is merely
    * common corpus-wide from being stripped out of every document. Returns
    * one row per affected document: total tokens, boilerplate span count,
    * removed (interval-union covered) tokens, kept tokens, and the removed
    * fraction in exact integer micro-units — the numbers a curation
    * pipeline uses to rewrite the document and to audit how much of a
    * source is chrome.
    *
    * Scale shape (100 TB): identical to [[coverage]] — spans ≈ tokens, the
    * boilerplate set comes from one map-side-combined groupBy((src, h))
    * whose `count(DISTINCT id)` is a two-level partial aggregate, and
    * membership rejoins by (src, h) only. Per-source grouping also bounds
    * skew: a corpus-wide hot window shuffles to one (src, h) cell per
    * source rather than one global cell.
    */
  def boilerplate(df: DataFrame, idCol: String, textCol: String,
                  srcCol: String, k: Int, minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs: below 2 every repeated window is boilerplate")
    val (staged, spans) = stagedSpans(df, idCol, textCol, k, carry = Seq(srcCol))
    val bp = spans.groupBy(col(srcCol), col("h"))
      .agg(countDistinct(col("id")).as("d"))
      .filter(col("d") >= minDocs)
      .select(col(srcCol), col("h"))
    // each span has exactly one (src, h), so the semi-join duplicates nothing
    val flagged = spans.join(bp, Seq(srcCol, "h"), "left_semi")
    materializedThenRelease(
      islandCoverage(flagged, k, carry = Seq(srcCol))
        .select(col("id"), col(srcCol),
          col("n_tokens"), col("n_dup_spans").as("n_bp_spans"),
          col("covered_tokens").as("removed_tokens"),
          (col("n_tokens") - col("covered_tokens")).as("kept_tokens"),
          col("coverage_micro").as("removed_micro")),
      staged)
  }

  /** DuckDB twin of [[boilerplate]]. */
  def duckBoilerplate(table: String, idCol: String, textCol: String,
                      srcCol: String, k: Int, minDocs: Int): String =
    s"""WITH toks AS (SELECT $idCol AS id, $srcCol AS src,
                             ${TextAnalysis.duckTokens(textCol)} AS tk FROM $table),
       base AS (SELECT id, src, tk, CAST(len(tk) AS BIGINT) AS n FROM toks WHERE len(tk) >= $k),
       spans AS (SELECT id, src, n, CAST(p AS BIGINT) AS pos,
                        md5(array_to_string(tk[p:p+${k - 1}], ' ')) AS h
                 FROM base, unnest(generate_series(1, CAST(n AS INTEGER) - ${k - 1})) AS t(p)),
       bp AS (SELECT src, h FROM spans GROUP BY src, h HAVING count(DISTINCT id) >= $minDocs),
       ds AS (SELECT id, src, n, pos FROM spans JOIN bp USING (src, h)),
       flagged AS (SELECT id, src, n, pos,
                          CASE WHEN lag(pos) OVER w IS NULL
                                 OR pos - lag(pos) OVER w >= $k
                               THEN 1 ELSE 0 END AS flag
                   FROM ds WINDOW w AS (PARTITION BY id ORDER BY pos)),
       grpd AS (SELECT id, src, n, pos,
                       sum(flag) OVER (PARTITION BY id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS grp
                FROM flagged),
       isl AS (SELECT id, grp, any_value(src) AS src, any_value(n) AS n,
                      max(pos) - min(pos) + $k AS ilen, count(*) AS nspans
               FROM grpd GROUP BY id, grp)
       SELECT id AS $idCol, any_value(src) AS $srcCol,
              CAST(any_value(n) AS BIGINT) AS n_tokens,
              CAST(sum(nspans) AS BIGINT) AS n_bp_spans,
              CAST(sum(ilen) AS BIGINT) AS removed_tokens,
              CAST(any_value(n) AS BIGINT) - CAST(sum(ilen) AS BIGINT) AS kept_tokens,
              (1000000 * CAST(sum(ilen) AS BIGINT)) // CAST(any_value(n) AS BIGINT)
                AS removed_micro
       FROM isl GROUP BY id ORDER BY id"""
}
