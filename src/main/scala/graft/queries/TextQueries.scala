package graft.queries

import org.apache.spark.sql.functions._

import graft.QueryEntry
import graft.core.Readers
import graft.operators.TextAnalysis._

/** Text-analysis operators over the `documents` fixture: stats/quality
  * scoring, language ID, BPE-ish token counting, document fingerprinting.
  * All pure per-row expressions — scan-parallel at any scale.
  *
  * Float parity note: ratios are per-row IEEE double ops (one division, a few
  * multiply/adds) — bit-identical on both engines; no double aggregation.
  */
object TextQueries {

  /** Hashed feature-space size for the supervised language classifiers
    * (text_lang_classifier, text_nb_langid): tokens are bucketed into this
    * many cells by the portable signed-64 MD5 — the DSIR hashing trick
    * (operators/Selection.scala) and the shape a fastText-style filter
    * actually ships. The learned tables are ≤ buckets × classes rows at ANY
    * corpus vocabulary, so broadcasting them is bounded by construction
    * (spec-pinned in RegistrySpec: a 100k-token synthetic vocabulary still
    * yields ≤ this many distinct features).
    */
  val LangFeatureBuckets = 1024

  /** The hashed classifier feature of one token (Spark side). */
  def langFeature(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.operators.Selection.bucketOf(t, LangFeatureBuckets)

  /** LogReg filter constants, frozen from the measured sweep (BASELINE.md
    * round-10 section): 1024 hashed buckets (the LangFeatureBuckets
    * convention), 5 fine-tune steps at lr 2/1 — the strongest point that
    * neither oscillates (4/1) nor diverges (8/1). MUST precede `entries`:
    * the oracle strings are built eagerly at object init.
    */
  val LrBuckets = 1024
  val LrSteps = 5
  val LrNum = 2L
  val LrDen = 1L
  /** Fine-tune steps per ingest delta (text_lr_incremental). */
  val LrDeltaSteps = 2
  /** Char-trigram variant constants: ~250 active features per doc (vs ~40
    * word bigrams) make gradients ~6x larger, so the fine-tune rate drops
    * accordingly (2/1 diverges to the all-negative corner — BASELINE.md
    * round-10 char sweep).
    */
  val LrCharNum = 1L
  val LrCharDen = 8L
  val LrCharSteps = 3

  /** The featurized full corpus (hashed word-bigram presence counts + label),
    * localCheckpoint-ed once per fixture dir and shared by the staged
    * training records ([[lrStaged]]) and the base/delta slices —
    * r10 verdict item 2: the bigram explode is the expensive LR stage and
    * each of those queries was rebuilding it. Lifecycle: the shared
    * [[graft.core.Staging]] memo (session-keyed, never evicted implicitly,
    * deterministic release).
    */
  private val lrFeatMemo = new graft.core.Staging[org.apache.spark.sql.DataFrame]()(
    (spark, sfDir) => graft.operators.LogReg.features(
      Readers.fixture(spark, sfDir, "documents"), "doc_id", "text",
      col("lang") === "en", LrBuckets).localCheckpoint())

  private[graft] def lrFeatures(spark: org.apache.spark.sql.SparkSession,
                                sfDir: String): org.apache.spark.sql.DataFrame =
    lrFeatMemo(spark, sfDir)

  /** The full-corpus feature frame staged for training and scoring
    * ([[graft.operators.LogReg.stage]]) — shared by training and the
    * text_lr_* scoring queries, released with the memo.
    */
  private val lrStagedMemo = new graft.core.Staging[graft.operators.LogReg.Staged]()(
    (spark, sfDir) => graft.operators.LogReg.stage(lrFeatures(spark, sfDir), LrBuckets))

  private[graft] def lrStaged(spark: org.apache.spark.sql.SparkSession,
                              sfDir: String): graft.operators.LogReg.Staged =
    lrStagedMemo(spark, sfDir)

  /** Training is deterministic (pure integer arithmetic, no sampling), so
    * the three text_lr_* queries share one training run per fixture dir —
    * plain driver data (1025 longs), session-independent.
    */
  private val lrMemo = new graft.core.Staging[Array[Long]](sessionScoped = false)(
    { (spark, sfDir) =>
      val nDocs = Readers.fixture(spark, sfDir, "documents").count()
      val x = lrStaged(spark, sfDir)
      x.trainWeights(nDocs, LrSteps, LrNum, LrDen, init = Some(x.nbInit()))
    })

  private[graft] def trainedLr(spark: org.apache.spark.sql.SparkSession,
                               sfDir: String): Array[Long] =
    lrMemo(spark, sfDir)

  /** The char-trigram feature frame + trained weights — the chargram
    * scorecard's deliberately DIFFERENT feature space (it cannot share the
    * word-bigram memo), staged with the same contract. Previously the
    * query re-featurized and re-trained inline per invocation and left its
    * un-memoized checkpoint blocks to GC.
    */
  private val lrCharMemo = new graft.core.Staging[
      (graft.operators.LogReg.Staged, Array[Long])]()({ (spark, sfDir) =>
    import graft.operators.LogReg
    val docs = Readers.fixture(spark, sfDir, "documents")
    val x = LogReg.stage(LogReg.featuresFromGrams(docs, "doc_id", LogReg.charTrigrams,
      "text", col("lang") === "en", LrBuckets), LrBuckets)
    val w = x.trainWeights(docs.count(), LrCharSteps, LrCharNum, LrCharDen,
      init = Some(x.nbInit()))
    (x, w)
  })

  private[graft] def lrCharTrained(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): (graft.operators.LogReg.Staged, Array[Long]) =
    lrCharMemo(spark, sfDir)

  /** The 90%-base-slice trained weights — text_lr_incremental's persisted
    * model. The query's own contract is "per ingest the cost is O(delta)":
    * the base model is the corpus-snapshot artifact a real pipeline trains
    * ONCE and persists (the query still exercises writeModel/readModel on
    * it every run); re-training it per bench invocation timed the one-time
    * build, not the recurring ingest. Deterministic integer GD, so the memo
    * is pure caching — value-pinned staged≡fresh in StagingSpec.
    */
  private val lrBaseMemo = new graft.core.Staging[Array[Long]](sessionScoped = false)(
    { (spark, sfDir) =>
      val x = graft.operators.LogReg.stage(
        lrFeatures(spark, sfDir).filter(col("doc_id") % 10 =!= 9), LrBuckets)
      try x.trainWeights(
        Readers.fixture(spark, sfDir, "documents")
          .filter(col("doc_id") % 10 =!= 9).count(),
        LrSteps, LrNum, LrDen, init = Some(x.nbInit()))
      finally x.close()
    })

  private[graft] def lrBaseTrained(spark: org.apache.spark.sql.SparkSession,
                                   sfDir: String): Array[Long] =
    lrBaseMemo(spark, sfDir)

  /** The 4-merge BPE segmentation of the corpus (train + apply — the
    * iterative fold is the expensive stage), shared by text_bpe_segment and
    * text_bpe_fertility, which re-trained and re-segmented independently.
    */
  private val bpeSegMemo = new graft.core.Staging[org.apache.spark.sql.DataFrame]()(
    { (spark, sfDir) =>
      // greedy BPE is prefix-stable (merge i+1 depends only on merges 1..i
      // and the deterministic argmax tiebreak), so the 4-iteration
      // segmentation applies the FIRST 4 rows of the staged 8-merge table
      // instead of training a second 4-iteration fold from scratch (r14:
      // the seg staging row re-ran bpeMerges end-to-end; StagingSpec pins
      // prefix == short-training and staged-seg == fresh-seg)
      val merges = bpeMergesShared(spark, sfDir).orderBy("it").collect()
        .take(4).map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Vocab.bpeSegmentWithMerges(
        Readers.fixture(spark, sfDir, "documents"), "doc_id", "text", merges)
        .localCheckpoint()
    })

  private[graft] def bpeSegShared(spark: org.apache.spark.sql.SparkSession,
                                  sfDir: String): org.apache.spark.sql.DataFrame =
    bpeSegMemo(spark, sfDir)

  /** The 8-iteration BPE merge table (one trained tokenizer per fixture
    * dir — text_bpe_merges' output and the corpus-snapshot artifact a real
    * pipeline persists).
    */
  private val bpeMergesMemo = new graft.core.Staging[org.apache.spark.sql.DataFrame]()(
    (spark, sfDir) => graft.operators.Vocab.bpeMerges(
      Readers.fixture(spark, sfDir, "documents"), "text", iters = 8)
      .localCheckpoint())

  private[graft] def bpeMergesShared(spark: org.apache.spark.sql.SparkSession,
                                     sfDir: String): org.apache.spark.sql.DataFrame =
    bpeMergesMemo(spark, sfDir)

  /** The shared per-source head-term distribution: the global top-50 term
    * list and the (source, term, n) counts restricted to it —
    * text_source_vocab_l1 and text_js_divergence (DriftQueries) each
    * rebuilt exactly this explode + two aggregates before comparing the
    * resulting distributions pairwise.
    */
  private val srcHeadTermMemo = new graft.core.Staging[
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)]()(
    { (spark, sfDir) =>
      val ex = Readers.spread(
        Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
        .filter(col("source").isNotNull)
        .select(col("source"), explode(tokens(col("text"))).as("term"))
        .persist()
      val head = ex.groupBy("term").agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("term").asc).limit(50)
        .select("term").localCheckpoint()
      val stHead = ex.join(broadcast(head), "term")
        .groupBy("source", "term").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      ex.unpersist(blocking = false)
      (stHead, head)
    })

  /** (per-source head-term counts, the top-50 head) — see [[srcHeadTermMemo]]. */
  private[graft] def srcHeadTerms(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    srcHeadTermMemo(spark, sfDir)

  /** The per-doc bigram-LM cross-entropy table over the full corpus
    * ([[graft.operators.Vocab.lmXent]]) — the LM build is the expensive
    * stage and three queries consumed their own copy (text_lm_xent,
    * corpus_ppl_buckets, corpus_domain_reweight). The waterfall's gate-5
    * xent is NOT shareable (it trains on the gate-4 survivor slice).
    */
  private val lmXentMemo = new graft.core.Staging[org.apache.spark.sql.DataFrame]()(
    (spark, sfDir) => graft.operators.Vocab.lmXent(
      Readers.spread(Readers.fixture(spark, sfDir, "documents"), col("doc_id")),
      "doc_id", "text").localCheckpoint())

  private[graft] def lmXentShared(spark: org.apache.spark.sql.SparkSession,
                                  sfDir: String): org.apache.spark.sql.DataFrame =
    lmXentMemo(spark, sfDir)

  val entries: Seq[(String, QueryEntry)] = Seq(

    // token/char stats + quality score per document
    "text_stats" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
        val tk = tokens(col("text"))
        val nTok = size(tk)
        val nDistinct = size(array_distinct(tk))
        val stopRatio = langScore(tk, "en")
        docs.select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars_calc"),
          (length(col("text")).cast("long") === col("n_chars")).as("n_chars_ok"),
          nTok.cast("long").as("n_tokens"),
          nDistinct.cast("long").as("n_distinct_tokens"),
          ((length(col("text")) - (nTok - lit(1))).cast("double") / nTok).as("avg_token_len"),
          stopRatio.as("stopword_ratio"),
          qualityScore(tk).as("quality_score")
        ).orderBy("doc_id")
      },
      oracle = Some {
        val tk = duckTokens("text")
        val stop = duckLangScore(tk, "en")
        s"""SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_calc,
             CAST(length(text) AS BIGINT) = n_chars AS n_chars_ok,
             CAST(len($tk) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct($tk)) AS BIGINT) AS n_distinct_tokens,
             CAST(length(text) - (len($tk) - 1) AS DOUBLE) / len($tk) AS avg_token_len,
             $stop AS stopword_ratio,
             ${duckQualityScore(tk)} AS quality_score
           FROM documents ORDER BY doc_id"""
      }),

    // stopword-profile language identification with argmax + tiebreak
    "text_langid" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
        val tk = tokens(col("text"))
        val scores = langs.map(l => l -> langScore(tk, l)).toMap
        docs.select(
          col("doc_id"), col("lang"),
          predictedLang(scores).as("pred_lang"),
          greatest(langs.map(scores): _*).as("best_score")
        ).orderBy("doc_id")
      },
      oracle = Some {
        val tk = duckTokens("text")
        val score = (l: String) => duckLangScore(tk, l)
        s"""SELECT doc_id, lang,
             ${duckPredictedLang(score)} AS pred_lang,
             greatest(${langs.map(score).mkString(", ")}) AS best_score
           FROM documents ORDER BY doc_id"""
      }),

    // BPE-ish token counting: letter runs / digit runs / single symbols
    "text_tokens" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
        val pieces = expr(s"regexp_extract_all(lower(text), '$piecePattern', 0)")
        docs.select(
          col("doc_id"),
          size(pieces).cast("long").as("n_pieces"),
          size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).cast("long").as("n_word_pieces"),
          size(expr("regexp_extract_all(lower(text), '[0-9]+', 0)")).cast("long").as("n_digit_pieces")
        ).orderBy("doc_id")
      },
      oracle = Some(
        s"""SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '$piecePattern')) AS BIGINT) AS n_pieces,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_word_pieces,
             CAST(len(regexp_extract_all(lower(text), '[0-9]+')) AS BIGINT) AS n_digit_pieces
           FROM documents ORDER BY doc_id""")),

    // repetition signals (the Gopher-style quality filters): duplicate
    // shingle fraction + most-frequent-token mass per document. Pure per-row
    // expressions; the token array is staged as a column so the HOF lambdas
    // reference an attribute, not a re-evaluated split()
    "text_repetition" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
          .withColumn("tk", tokens(col("text")))
        val tk = col("tk")
        // total 3-gram count mirrors shinglesFromTokens' short-doc fallback
        val totalGrams = when(size(tk) >= 3, size(tk) - 2).otherwise(lit(1))
        val distinctGrams = size(shinglesFromTokens(tk, 3))
        // per-row O(distinct × n) token scan — fine under pipeline-standard
        // document-length caps (tokens are bounded per row, not per corpus);
        // an unbounded-document corpus would swap this for explode +
        // count + max (linear, one narrow shuffle) at the cost of parity
        val topTokenCount = array_max(
          transform(array_distinct(tk), t => size(filter(tk, x => x === t))))
        docs.select(
          col("doc_id"),
          totalGrams.cast("long").as("n_grams"),
          distinctGrams.cast("long").as("n_distinct_grams"),
          (lit(1.0) - distinctGrams.cast("double") / totalGrams).as("dup_gram_ratio"),
          (topTokenCount.cast("double") / size(tk)).as("top_token_ratio")
        ).orderBy("doc_id")
      },
      oracle = Some {
        val tk = duckTokens("text")
        s"""WITH toks AS (SELECT doc_id, $tk AS tk FROM documents)
           SELECT doc_id,
             CAST(CASE WHEN len(tk) >= 3 THEN len(tk) - 2 ELSE 1 END AS BIGINT) AS n_grams,
             CAST(len(${duckShinglesExpr("tk", 3)}) AS BIGINT) AS n_distinct_grams,
             1.0 - CAST(len(${duckShinglesExpr("tk", 3)}) AS DOUBLE)
               / CASE WHEN len(tk) >= 3 THEN len(tk) - 2 ELSE 1 END AS dup_gram_ratio,
             CAST(list_max(list_transform(list_distinct(tk),
               t -> len(list_filter(tk, x -> x = t)))) AS DOUBLE) / len(tk) AS top_token_ratio
           FROM toks ORDER BY doc_id"""
      }),

    // corpus-wide top-20 trigrams by document frequency (contamination /
    // boilerplate analysis): explode per-doc DISTINCT shingles (generator
    // kept inline — see MinHashLSH.signatures), map-side partial count,
    // TakeOrdered top-k — one narrow shuffle at any corpus size
    "text_topngrams" -> QueryEntry(
      fn = (spark, sfDir) => {
        Readers.spread(Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
          .withColumn("tk", tokens(col("text")))
          .select(explode(shinglesFromTokens(col("tk"), 3)).as("shingle"))
          .groupBy(col("shingle"))
          .agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("shingle").asc)
          .limit(20)
      },
      oracle = Some(
        s"""WITH toks AS (SELECT doc_id AS id, ${duckTokens("text")} AS tk FROM documents),
           shs AS (SELECT id, ${duckShinglesExpr("tk", 3)} AS sh FROM toks),
           ex AS (SELECT unnest(sh) AS shingle FROM shs)
           SELECT shingle, count(*) AS df FROM ex
           GROUP BY shingle ORDER BY df DESC, shingle ASC LIMIT 20""")),

    // per-document novelty: the fraction of a doc's distinct 3-shingles
    // first seen in THIS doc (by doc_id ingestion order) — the doc-level
    // boilerplate/recrawl signal beside the corpus-level vocab-growth
    // curve: a novelty collapse inside a source flags template churn
    // before any pairwise dedup runs. First appearance is one map-side-
    // combined min per shingle; the join back is shingle-keyed; nothing
    // pairwise, nothing quadratic
    "text_novelty" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
          .withColumn("tk", tokens(col("text")))
          .select(col("doc_id"), explode(shinglesFromTokens(col("tk"), 3)).as("sh"))
        val staged = docs.persist()
        val firstSeen = staged.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
        val out = staged.join(firstSeen, "sh")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
          .select(col("doc_id"), col("n_shingles"), col("n_novel"),
            expr("n_novel * 1000000 div n_shingles").as("novelty_micro"))
          .orderBy("doc_id")
        out
      },
      oracle = Some {
        val tk = duckTokens("text")
        s"""WITH toks AS (SELECT doc_id, $tk AS tk FROM documents),
           shs AS (SELECT doc_id, unnest(${duckShinglesExpr("tk", 3)}) AS sh FROM toks),
           fs AS (SELECT sh, min(doc_id) AS first_doc FROM shs GROUP BY sh)
           SELECT s.doc_id, count(*) AS n_shingles,
                  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
                    * 1000000 // count(*) AS novelty_micro
           FROM shs s JOIN fs f ON s.sh = f.sh
           GROUP BY s.doc_id ORDER BY s.doc_id"""
      }),

    // quality quantiles by language: p50/p90 of the shared composite score
    // per lang — where to set per-language thresholds (one global floor
    // over languages with different stopword coverage silently biases the
    // mix; this table shows by how much). Rides Quantiles.grouped
    "text_quality_by_lang" -> QueryEntry(
      fn = (spark, sfDir) => {
        val scored = Readers.fixture(spark, sfDir, "documents")
          .select(col("lang"),
            floor(qualityScore(tokens(col("text"))) * 1e6).cast("long").as("q_micro"))
        graft.operators.Quantiles.grouped(scored, "lang", "q_micro",
            Seq("p50_q_micro" -> 0.5, "p90_q_micro" -> 0.9))
          .orderBy("lang")
      },
      oracle = Some {
        val tk = duckTokens("text")
        s"""SELECT lang,
             quantile_cont(q_micro, 0.5) AS p50_q_micro,
             quantile_cont(q_micro, 0.9) AS p90_q_micro,
             count(*) AS n
           FROM (SELECT lang,
                        CAST(floor((${duckQualityScore(tk)}) * 1e6) AS BIGINT) AS q_micro
                 FROM documents) s
           GROUP BY lang ORDER BY lang"""
      }),

    // rank correlation between length and quality (Spearman, integer):
    // rho_micro = 1e6 − 6e6·Σd² div n(n²−1) over row-number ranks with a
    // deterministic doc_id tiebreak (the tie-correction-free variant — both
    // engines rank identically, so the statistic is exact integer). Answers
    // "is the quality score just a length proxy" before anyone thresholds
    // it. Global ranks are two |docs| sorts — fine for a one-row statistic
    // at audit cadence; a 100 TB run computes it on a hash sample (the
    // numerator overflows past n≈16k anyway, documented hard bound; the
    // fixture is far inside it and both engines would diverge, not agree,
    // beyond it)
    "text_len_quality_spearman" -> QueryEntry(
      fn = (spark, sfDir) => {
        import org.apache.spark.sql.expressions.Window
        val scored = Readers.fixture(spark, sfDir, "documents")
          .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("len"),
            qualityScore(tokens(col("text"))).as("q"))
        val byLen = Window.orderBy(col("len").asc, col("doc_id").asc)
        val byQ = Window.orderBy(col("q").asc, col("doc_id").asc)
        val ranked = scored
          .withColumn("rl", row_number().over(byLen).cast("long"))
          .withColumn("rq", row_number().over(byQ).cast("long"))
        ranked.agg(count(lit(1)).as("n"),
            sum((col("rl") - col("rq")) * (col("rl") - col("rq"))).as("d2"))
          .select(col("n"), col("d2"),
            expr("1000000 - 6000000 * d2 div (n * (n * n - 1))").as("rho_micro"))
      },
      oracle = Some {
        val tk = duckTokens("text")
        s"""WITH scored AS (SELECT doc_id, CAST(len($tk) AS BIGINT) AS len,
                                   ${duckQualityScore(tk)} AS q
                            FROM documents),
           ranked AS (SELECT doc_id,
                             CAST(row_number() OVER (ORDER BY len ASC, doc_id ASC) AS BIGINT) AS rl,
                             CAST(row_number() OVER (ORDER BY q ASC, doc_id ASC) AS BIGINT) AS rq
                      FROM scored)
           SELECT count(*) AS n,
                  CAST(sum((rl - rq) * (rl - rq)) AS BIGINT) AS d2,
                  1000000 - 6000000 * CAST(sum((rl - rq) * (rl - rq)) AS BIGINT)
                    // (count(*) * (count(*) * count(*) - 1)) AS rho_micro
           FROM ranked"""
      }),

    // vocabulary distance between sources: L1 distance of term-share
    // vectors over the corpus top-50 terms, per source pair, in micro-units
    // — which sources write alike (merge their tokenizer budgets) and
    // which don't. Restricting to the top-k head keeps the vector bounded
    // (the tail is Zipf noise); shares are integer micro; the pair frame
    // is ≤|sources|²·k narrow rows. NULL sources excluded as usual
    "text_source_vocab_l1" -> QueryEntry(
      fn = (spark, sfDir) => {
        val (st, _) = srcHeadTerms(spark, sfDir)
        val totals = st.groupBy("source").agg(sum(col("n")).as("tot"))
        val shares = st.join(totals, "source")
          .select(col("source"), col("term"), expr("n * 1000000 div tot").as("share"))
        shares.as("x").join(shares.as("y"),
            col("x.term") === col("y.term") && col("x.source") < col("y.source"))
          .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
          .agg(sum(abs(col("x.share") - col("y.share"))).as("l1_micro"),
            count(lit(1)).as("n_common_terms"))
          .orderBy("source_a", "source_b")
      },
      oracle = Some {
        val tk = duckTokens("text")
        s"""WITH ex AS (SELECT source, t.term
                        FROM documents d, unnest($tk) AS t(term)
                        WHERE source IS NOT NULL),
           top AS (SELECT term FROM (SELECT term, count(*) AS tf FROM ex GROUP BY term
                   ORDER BY tf DESC, term ASC LIMIT 50) h),
           st AS (SELECT source, ex.term, count(*) AS n
                  FROM ex JOIN top ON ex.term = top.term GROUP BY source, ex.term),
           tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot FROM st GROUP BY source),
           sh AS (SELECT st.source, st.term, st.n * 1000000 // tot.tot AS share
                  FROM st JOIN tot ON st.source = tot.source)
           SELECT x.source AS source_a, y.source AS source_b,
                  CAST(sum(abs(x.share - y.share)) AS BIGINT) AS l1_micro,
                  count(*) AS n_common_terms
           FROM sh x JOIN sh y ON x.term = y.term AND x.source < y.source
           GROUP BY x.source, y.source ORDER BY source_a, source_b"""
      }),

    // hapax ratio by source: share of each source's vocabulary that occurs
    // exactly once WITHIN that source — the per-source freshness signal
    // (a template farm has almost no hapax; a natural corpus runs ~40-60%)
    // that makes the corpus-wide frequency spectrum actionable per source.
    // Two map-side-combined aggregates over (source, term)
    "text_hapax_ratio" -> QueryEntry(
      fn = (spark, sfDir) => {
        val tf = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
          .filter(col("source").isNotNull)
          .select(col("source"), explode(tokens(col("text"))).as("term"))
          .groupBy("source", "term").agg(count(lit(1)).as("tf"))
        tf.groupBy("source")
          .agg(count(lit(1)).as("n_types"),
            sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"))
          .select(col("source"), col("n_types"), col("n_hapax"),
            expr("n_hapax * 1000000 div n_types").as("hapax_micro"))
          .orderBy("source")
      },
      oracle = Some {
        val tk = duckTokens("text")
        s"""WITH tf AS (SELECT source, t.term, count(*) AS tf
                        FROM documents d, unnest($tk) AS t(term)
                        WHERE source IS NOT NULL
                        GROUP BY source, t.term)
           SELECT source, count(*) AS n_types,
                  CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
                  CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    * 1000000 // count(*) AS hapax_micro
           FROM tf GROUP BY source ORDER BY source"""
      }),

    // tokenizer fertility by language: BPE-ish pieces per whitespace word
    // in integer micro-units — the cross-lingual tokenizer-cost figure
    // (a language at 2× fertility pays 2× the context budget per word;
    // the standard argument for vocabulary rebalancing). One scan-parallel
    // aggregate over the same piece pattern text_tokens counts
    "text_fertility" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
        val pieces = size(expr(s"regexp_extract_all(lower(text), '$piecePattern', 0)")).cast("long")
        val words = size(tokens(col("text"))).cast("long")
        docs.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(pieces).as("n_pieces"), sum(words).as("n_words"))
          .select(col("lang"), col("n_docs"), col("n_pieces"), col("n_words"),
            expr("n_pieces * 1000000 div n_words").as("fertility_micro"))
          .orderBy("lang")
      },
      oracle = Some(
        s"""SELECT lang, count(*) AS n_docs,
             CAST(sum(len(regexp_extract_all(lower(text), '$piecePattern'))) AS BIGINT) AS n_pieces,
             CAST(sum(len(${duckTokens("text")})) AS BIGINT) AS n_words,
             CAST(sum(len(regexp_extract_all(lower(text), '$piecePattern'))) AS BIGINT)
               * 1000000 // CAST(sum(len(${duckTokens("text")})) AS BIGINT) AS fertility_micro
           FROM documents GROUP BY lang ORDER BY lang""")),

    // language-ID confusion matrix: heuristic prediction vs the fixture's
    // lang label, with row-conditional accuracy in integer micro-units —
    // the evaluation harness for the langid filter itself (a curation
    // pipeline that filters on predicted language needs this table to know
    // what the filter DOES to each true class). One scan + a ≤|langs|²
    // aggregate; the row-total join is broadcast-sized
    "text_langid_confusion" -> QueryEntry(
      fn = (spark, sfDir) => {
        val langs = graft.operators.TextAnalysis.langs
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
          .withColumn("tk", tokens(col("text")))
        val scores = langs.map(l => l -> langScore(col("tk"), l)).toMap
        val preds = docs.select(col("lang"), predictedLang(scores).as("pred_lang"))
        val cells = preds.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        val totals = cells.groupBy("lang").agg(sum(col("n")).as("row_total"))
        cells.join(totals, Seq("lang"))
          .select(col("lang"), col("pred_lang"), col("n"),
            expr("n * 1000000 div row_total").as("p_micro"))
          .orderBy("lang", "pred_lang")
      },
      oracle = Some {
        val tk = duckTokens("text")
        val score = (l: String) => duckLangScore(tk, l)
        s"""WITH preds AS (SELECT lang, ${duckPredictedLang(score)} AS pred_lang
                           FROM documents),
           cells AS (SELECT lang, pred_lang, count(*) AS n FROM preds
                     GROUP BY lang, pred_lang),
           totals AS (SELECT lang, CAST(sum(n) AS BIGINT) AS row_total
                      FROM cells GROUP BY lang)
           SELECT c.lang, c.pred_lang, c.n, c.n * 1000000 // t.row_total AS p_micro
           FROM cells c JOIN totals t ON c.lang = t.lang
           ORDER BY c.lang, c.pred_lang"""
      }),

    // per-class precision / recall / F1 for the langid heuristic — the
    // scorecard the confusion matrix implies but doesn't state, in integer
    // micro units (F1 = 2pr/(p+r), zero-denominator classes score 0). The
    // class frame is the FIXED language list, so a class the classifier
    // never predicts (or that never occurs) still gets its row — absent
    // classes are the interesting ones in an eval table. Aggregates are
    // |langs|²-bounded; one corpus scan.
    "text_langid_prf" -> QueryEntry(
      fn = (spark, sfDir) => {
        val langs = graft.operators.TextAnalysis.langs
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
          .withColumn("tk", tokens(col("text")))
        val scores = langs.map(l => l -> langScore(col("tk"), l)).toMap
        val preds = docs.select(col("lang"), predictedLang(scores).as("pred_lang"))
        val tp = preds.filter(col("lang") === col("pred_lang"))
          .groupBy(col("lang").as("cls")).agg(count(lit(1)).as("tp"))
        val actual = preds.groupBy(col("lang").as("cls")).agg(count(lit(1)).as("n_actual"))
        val predicted = preds.groupBy(col("pred_lang").as("cls")).agg(count(lit(1)).as("n_pred"))
        val spark0 = docs.sparkSession
        import spark0.implicits._
        langs.toDF("cls")
          .join(tp, Seq("cls"), "left").join(actual, Seq("cls"), "left")
          .join(predicted, Seq("cls"), "left")
          .na.fill(0L, Seq("tp", "n_actual", "n_pred"))
          .withColumn("p_micro",
            expr("CASE WHEN n_pred = 0 THEN 0 ELSE tp * 1000000 div n_pred END"))
          .withColumn("r_micro",
            expr("CASE WHEN n_actual = 0 THEN 0 ELSE tp * 1000000 div n_actual END"))
          .withColumn("f1_micro",
            expr("CASE WHEN p_micro + r_micro = 0 THEN 0 " +
              "ELSE 2 * p_micro * r_micro div (p_micro + r_micro) END"))
          .orderBy("cls")
      },
      oracle = Some {
        val tk = duckTokens("text")
        val score = (l: String) => duckLangScore(tk, l)
        val classRows = graft.operators.TextAnalysis.langs
          .map(l => s"('$l')").mkString(", ")
        s"""WITH preds AS (SELECT lang, ${duckPredictedLang(score)} AS pred_lang
                           FROM documents),
           classes AS (SELECT cls FROM (VALUES $classRows) AS v(cls)),
           tp AS (SELECT lang AS cls, count(*) AS tp FROM preds
                  WHERE lang = pred_lang GROUP BY lang),
           act AS (SELECT lang AS cls, count(*) AS n_actual FROM preds GROUP BY lang),
           prd AS (SELECT pred_lang AS cls, count(*) AS n_pred FROM preds GROUP BY pred_lang),
           base AS (SELECT c.cls,
                           CAST(coalesce(tp.tp, 0) AS BIGINT) AS tp,
                           CAST(coalesce(act.n_actual, 0) AS BIGINT) AS n_actual,
                           CAST(coalesce(prd.n_pred, 0) AS BIGINT) AS n_pred
                    FROM classes c LEFT JOIN tp USING (cls)
                    LEFT JOIN act USING (cls) LEFT JOIN prd USING (cls)),
           pr AS (SELECT cls, tp, n_actual, n_pred,
                         CASE WHEN n_pred = 0 THEN 0
                              ELSE tp * 1000000 // n_pred END AS p_micro,
                         CASE WHEN n_actual = 0 THEN 0
                              ELSE tp * 1000000 // n_actual END AS r_micro
                  FROM base)
           SELECT cls, tp, n_actual, n_pred, p_micro, r_micro,
                  CASE WHEN p_micro + r_micro = 0 THEN 0
                       ELSE 2 * p_micro * r_micro // (p_micro + r_micro) END AS f1_micro
           FROM pr ORDER BY cls"""
      }),

    // incremental novelty on ingest: the delta batch scored against the
    // corpus-so-far's persisted distinct-shingle index — the daily-ingest
    // twin of text_novelty, same O(delta + index-probe) shape as
    // dedup_incremental (the corpus text is never re-read; at scale the
    // index probe takes the bloom-prefilter path corpus_decontaminate_bloom
    // already demonstrates). Novelty here is vs the INDEX: shingles first
    // seen anywhere in the delta count as novel even if another delta doc
    // also has them — the per-batch "how much new material arrived" figure
    "text_novelty_incremental" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cut = 400L
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
          .withColumn("tk", tokens(col("text")))
        val index = docs.filter(col("doc_id") < cut)
          .select(explode(shinglesFromTokens(col("tk"), 3)).as("sh")).distinct()
          .withColumn("seen", lit(1L))
        val delta = docs.filter(col("doc_id") >= cut)
          .select(col("doc_id"), explode(shinglesFromTokens(col("tk"), 3)).as("sh"))
        delta.join(index, Seq("sh"), "left_outer")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
          .select(col("doc_id"), col("n_shingles"), col("n_novel"),
            expr("n_novel * 1000000 div n_shingles").as("novelty_micro"))
          .orderBy("doc_id")
      },
      oracle = Some {
        val tk = duckTokens("text")
        s"""WITH toks AS (SELECT doc_id, $tk AS tk FROM documents),
           idx AS (SELECT DISTINCT unnest(${duckShinglesExpr("tk", 3)}) AS sh
                   FROM toks WHERE doc_id < 400),
           delta AS (SELECT doc_id, unnest(${duckShinglesExpr("tk", 3)}) AS sh
                     FROM toks WHERE doc_id >= 400)
           SELECT d.doc_id, count(*) AS n_shingles,
                  CAST(sum(CASE WHEN i.sh IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                  CAST(sum(CASE WHEN i.sh IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                    * 1000000 // count(*) AS novelty_micro
           FROM delta d LEFT JOIN idx i ON d.sh = i.sh
           GROUP BY d.doc_id ORDER BY d.doc_id"""
      }),

    // vocabulary-growth (Heaps-law) curve: cumulative distinct token types
    // vs cumulative token occurrences at log2 checkpoints of the doc_id
    // ingestion order — the corpus-health plot that tells whether a crawl
    // is still finding new vocabulary or re-crawling itself (a flattening
    // curve at constant dedup rate means saturation). Checkpoints are
    // log-spaced, so the cumsum window sees at most 64 rows at ANY corpus
    // size; a type's first appearance is one map-side-combined min over
    // its (distinct-per-doc) postings — never a global sort of the corpus.
    // bit-length (length(bin(x))) stands in for floor(log2)+1 on both
    // engines: pure integer, no libm
    "text_vocab_growth" -> QueryEntry(
      fn = (spark, sfDir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
          .withColumn("tk", tokens(col("text")))
          .withColumn("bucket", length(bin(col("doc_id") + 1)).cast("long"))
        val perBucket = docs.groupBy("bucket").agg(
          count(lit(1)).as("n_docs"), sum(size(col("tk")).cast("long")).as("n_tokens"))
        val firstSeen = docs
          .select(col("bucket"), explode(array_distinct(col("tk"))).as("term"))
          .groupBy("term").agg(min(col("bucket")).as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("new_types"))
        val w = Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        perBucket.join(firstSeen, Seq("bucket"), "left_outer")
          .select(col("bucket"), col("n_docs"), col("n_tokens"),
            coalesce(col("new_types"), lit(0L)).as("new_types"))
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
          .withColumn("cum_types", sum(col("new_types")).over(w))
          .orderBy("bucket")
      },
      oracle = Some {
        val tk = duckTokens("text")
        s"""WITH docs AS (SELECT doc_id, length(bin(doc_id + 1)) AS bucket, $tk AS tk
                          FROM documents),
           pb AS (SELECT bucket, count(*) AS n_docs,
                         CAST(sum(len(tk)) AS BIGINT) AS n_tokens
                  FROM docs GROUP BY bucket),
           fs AS (SELECT bucket, CAST(count(*) AS BIGINT) AS new_types FROM (
                    SELECT t.term, min(d.bucket) AS bucket
                    FROM docs d, unnest(list_distinct(d.tk)) AS t(term)
                    GROUP BY t.term) f GROUP BY bucket)
           SELECT pb.bucket, pb.n_docs, pb.n_tokens,
                  coalesce(fs.new_types, 0) AS new_types,
                  CAST(sum(pb.n_tokens) OVER (ORDER BY pb.bucket) AS BIGINT) AS cum_tokens,
                  CAST(sum(coalesce(fs.new_types, 0)) OVER (ORDER BY pb.bucket) AS BIGINT) AS cum_types
           FROM pb LEFT JOIN fs ON pb.bucket = fs.bucket
           ORDER BY pb.bucket"""
      }),

    // Zipf frequency spectrum: distinct token types and occurrence mass per
    // log2 corpus-frequency band — the vocabulary-shape audit behind
    // tokenizer sizing (how much mass the head captures, how heavy the
    // hapax tail is; a natural corpus is Zipfian, a template farm is not).
    // Two map-side-combined hash aggregates (term → tf, then lg(tf) →
    // counts); the spectrum itself is ≤64 rows at any corpus size
    "text_freq_spectrum" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
        val tf = docs.select(explode(tokens(col("text"))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("tf"))
        tf.groupBy(length(bin(col("tf"))).cast("long").as("freq_band"))
          .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("mass"))
          .orderBy("freq_band")
      },
      oracle = Some {
        val tk = duckTokens("text")
        s"""WITH tf AS (SELECT t.term, count(*) AS tf
                        FROM documents d, unnest($tk) AS t(term) GROUP BY t.term)
           SELECT CAST(length(bin(tf)) AS BIGINT) AS freq_band,
                  count(*) AS n_terms, CAST(sum(tf) AS BIGINT) AS mass
           FROM tf GROUP BY freq_band ORDER BY freq_band"""
      }),

    // top-3 terms per document by integer TF-IDF (reciprocal-df weighting in
    // pure 64-bit integer arithmetic — see graft.operators.Vocab for the
    // parity rationale): explode → two hash-aggs → term join → window rank
    "text_tfidf" -> QueryEntry(
      fn = (spark, sfDir) =>
        graft.operators.Vocab.tfIdfTopK(
          Readers.fixture(spark, sfDir, "documents"), "doc_id", "text", k = 3)
          .orderBy("doc_id", "rank"),
      oracle = Some(graft.operators.Vocab.duckTfIdfTopK(k = 3))),

    // inverted index: term → document frequency + MD5 digest of the sorted
    // posting list — the retrieval-side complement of the dedup operators
    "text_inverted_index" -> QueryEntry(
      fn = (spark, sfDir) =>
        graft.operators.Vocab.invertedIndex(
          Readers.fixture(spark, sfDir, "documents"), "doc_id", "text")
          .orderBy("term"),
      oracle = Some(graft.operators.Vocab.duckInvertedIndex)),

    // Unicode canonicalization ahead of exact dedup: NFC (custom codegen
    // expression — Spark ships no normalizer) + lowercase + whitespace
    // collapse, then group by the canonical form. The planted variant rows
    // (decomposed vs precomposed accents, case, spacing) MUST collapse to
    // one group each — the spellings that defeat a byte-hash dedup stage;
    // fixture text rides along to prove the ASCII fast path is unchanged
    "text_normalize" -> QueryEntry(
      fn = (spark, sfDir) => {
        val s2 = spark; import s2.implicits._
        val variants = Seq(
          (9000001L, "cafe\u0301 menu"),            // e + combining acute
          (9000002L, "caf\u00e9 menu"),             // precomposed e-acute
          (9000003L, "CAF\u00c9   MENU"),           // case + inner whitespace
          (9000004L, " caf\u00e9 menu"),            // leading space
          (9000005L, "a\u030angstro\u0308m unit"), // a+ring, o+diaeresis
          (9000006L, "\u00e5ngstr\u00f6m unit"),   // precomposed a-ring, o-diaeresis
          (9000007L, "plain ascii text")
        ).toDF("doc_id", "text")
        val all = Readers.fixture(spark, sfDir, "documents")
          .select(col("doc_id"), col("text")).unionByName(variants)
        val canon = graft.functions.GraftFunctions.nfcNormalize(
          lower(trim(regexp_replace(col("text"), "\\s+", " "))))
        all.select(col("doc_id"), canon.as("canonical"))
          .groupBy("canonical")
          .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("rep_id"))
          .filter(col("n_variants") > 1)
          .orderBy("rep_id")
      },
      oracle = Some {
        val vals = Seq(
          9000001L -> "cafe\u0301 menu",
          9000002L -> "caf\u00e9 menu",
          9000003L -> "CAF\u00c9   MENU",
          9000004L -> " caf\u00e9 menu",
          9000005L -> "a\u030angstro\u0308m unit",
          9000006L -> "\u00e5ngstr\u00f6m unit",
          9000007L -> "plain ascii text")
          .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
        s"""WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL SELECT * FROM (VALUES $vals) v(doc_id, text)),
            canon AS (SELECT doc_id,
                nfc_normalize(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS canonical
              FROM all_docs)
            SELECT canonical, count(*) AS n_variants, min(doc_id) AS rep_id
            FROM canon GROUP BY canonical HAVING count(*) > 1
            ORDER BY rep_id"""
      }),

    // per-source OOV rate against the corpus top-20 vocabulary: the
    // tokenizer-coverage audit (which sources will fragment into fallback
    // pieces under a candidate vocab) — two passes, broadcast membership
    "text_oov_rate" -> QueryEntry(
      fn = (spark, sfDir) =>
        graft.operators.Vocab.oovRate(
          Readers.fixture(spark, sfDir, "documents"), "doc_id", "source", "text",
          vocabSize = 20)
          .withColumnRenamed("src", "source")
          .orderBy("source"),
      oracle = Some(graft.operators.Vocab.duckOovRate("doc_id", "source", "text",
        vocabSize = 20))),

    // bigram language-model counts: top-20 bigrams with integer conditional
    // probability P(w2|w1) in micro-units — the count statistics classic LM
    // smoothing starts from. One corpus explode; context counts roll up from
    // the pair table (vocabulary-sized) instead of a second corpus pass
    "text_bigram_lm" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
        val tk = tokens(col("text"))
        val bigrams = transform(sequence(lit(1), size(tk) - 1),
          i => struct(element_at(tk, i).as("w1"), element_at(tk, i + 1).as("w2")))
        val pair = docs.filter(size(tk) >= 2)
          .select(explode(bigrams).as("bg"))
          .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
        val uni = pair.groupBy(col("w1")).agg(sum(col("n_pair")).as("n_w1"))
        pair.join(uni, "w1")
          .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"),
            expr("(1000000 * n_pair) div n_w1").as("p_cond_micro"))
          .orderBy(col("n_pair").desc, col("w1").asc, col("w2").asc)
          .limit(20)
      },
      oracle = Some {
        val tk = duckTokens("text")
        s"""WITH toks AS (SELECT doc_id, $tk AS tk FROM documents),
           ex AS (SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
                    i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS bg
                  FROM toks WHERE len(tk) >= 2),
           pair AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS n_pair
                    FROM ex GROUP BY 1, 2),
           uni AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_w1
                   FROM pair GROUP BY w1)
           SELECT w1, w2, n_pair, n_w1, (1000000 * n_pair) // n_w1 AS p_cond_micro
           FROM pair JOIN uni USING (w1)
           ORDER BY n_pair DESC, w1 ASC, w2 ASC LIMIT 20"""
      }),

    // supervised language classifier — the learned counterpart of
    // text_langid's fixed heuristic: per-FEATURE class-posterior voting over
    // a HASHED feature space. Tokens are bucketed into [[LangFeatureBuckets]]
    // cells by the portable signed-64 MD5 (the DSIR hashing trick,
    // operators/Selection.scala — and what a fastText-shaped filter really
    // ships: feature ids are hash buckets, not a vocabulary), so the learned
    // table is ≤ buckets × classes rows REGARDLESS of corpus vocabulary and
    // the broadcast below is bounded by construction at any scale — a
    // web-scale vocabulary never rides to executors. Training tabulates
    // P(class|bucket) = n(class,bkt)/n(bkt) in integer micro-units on the
    // 80% labeled split; a held-out doc's class score is the SUM of its
    // features' posteriors, argmax predicted (ties break to the
    // lexicographically first class). Posterior voting still degrades
    // gracefully: a bucket carrying no class signal votes ≈ the class
    // priors, and a hash collision only blurs its tokens toward that same
    // prior-shaped vote. Log-free linear scoring keeps it oracle-exact.
    "text_lang_classifier" -> QueryEntry(
      fn = (spark, sfDir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
        val isTrain = col("doc_id") % 10 < 8
        val trainTok = docs.filter(isTrain)
          .select(col("lang"), explode(tokens(col("text"))).as("t"))
          .select(col("lang"), langFeature(col("t")).as("f"))
        val ct = trainTok.groupBy(col("lang"), col("f")).agg(count(lit(1)).as("n_cf"))
        val rates = ct
          .join(ct.groupBy("f").agg(sum(col("n_cf")).as("n_f")), "f")
          .select(col("lang").as("cand"), col("f"),
            expr("(1000000 * n_cf) div n_f").as("r"))
        val testTok = docs.filter(!isTrain)
          .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("t"))
          .select(col("doc_id"), col("lang"), langFeature(col("t")).as("f"))
        val scored = testTok.join(broadcast(rates), "f")
          .groupBy(col("doc_id"), col("lang"), col("cand"))
          .agg(sum(col("r")).as("s"))
        val best = scored
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("s").desc, col("cand").asc)))
          .filter(col("rn") === 1)
        docs.filter(!isTrain).select(col("doc_id"), col("lang"))
          .join(best.select(col("doc_id"), col("cand").as("pred_lang")),
            Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("lang"), col("pred_lang"),
            (col("pred_lang") === col("lang")).as("correct"))
          .orderBy("doc_id")
      },
      oracle = Some {
        val tk = duckTokens("text")
        val f = graft.operators.Selection.duckBucketOf("t", LangFeatureBuckets)
        s"""WITH train AS (SELECT lang, $f AS f FROM
                (SELECT lang, unnest($tk) AS t FROM documents WHERE doc_id % 10 < 8) u),
           ct AS (SELECT lang, f, count(*) AS n_cf FROM train GROUP BY 1, 2),
           tz AS (SELECT f, CAST(sum(n_cf) AS BIGINT) AS n_f FROM ct GROUP BY f),
           rates AS (SELECT ct.lang AS cand, ct.f AS f, (1000000 * n_cf) // n_f AS r
                     FROM ct JOIN tz ON ct.f = tz.f),
           test AS (SELECT doc_id, lang, $f AS f FROM
                (SELECT doc_id, lang, unnest($tk) AS t
                 FROM documents WHERE doc_id % 10 >= 8) u),
           sc AS (SELECT doc_id, lang, cand, CAST(sum(r) AS BIGINT) AS s
                  FROM test JOIN rates USING (f) GROUP BY 1, 2, 3),
           rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY s DESC, cand ASC) AS rn FROM sc)
           SELECT d.doc_id, d.lang, rk.cand AS pred_lang, rk.cand = d.lang AS correct
           FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 10 >= 8) d
           LEFT JOIN rk ON rk.doc_id = d.doc_id AND rk.rn = 1
           ORDER BY d.doc_id"""
      }),

    // PMI-style collocation extraction: adjacent pairs scored by integer
    // LIFT = T·n(ab) / (n(a·)·n(·b)) in micro-units over the bigram
    // contingency table — monotone in PMI (lift = 2^PMI), so the ranking
    // thresholds curation uses are identical while staying log-free and
    // oracle-exact. All three marginals roll up from the vocabulary-sized
    // pair table (one corpus explode, no second pass); min-support 5 drops
    // the rare-pair noise PMI is notorious for. Integer domain: exact while
    // 1e6·n_pair·T < 2^63 (~3e12 bigram-position·pair product — switch the
    // numerator to DECIMAL(38,0) on both engines past that)
    "text_pmi_bigrams" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
        val tk = tokens(col("text"))
        val bigrams = transform(sequence(lit(1), size(tk) - 1),
          i => struct(element_at(tk, i).as("w1"), element_at(tk, i + 1).as("w2")))
        val pair = docs.filter(size(tk) >= 2)
          .select(explode(bigrams).as("bg"))
          .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
          .persist() // feeds both marginals, the total, and the scoring join
        val left = pair.groupBy(col("w1")).agg(sum(col("n_pair")).as("n_left"))
        val right = pair.groupBy(col("w2")).agg(sum(col("n_pair")).as("n_right"))
        val total = pair.agg(sum(col("n_pair")).as("t"))
        pair.filter(col("n_pair") >= 5)
          .join(left, "w1").join(right, "w2")
          .crossJoin(broadcast(total))
          // floor(floor(x/a)/b) = floor(x/(a*b)) for positive integers, so
          // the chained div is the exact lift without the a*b product.
          // Documented bound (the WitnessBase convention): 1e6·n_pair·t must
          // fit 64 bits — holds through ~3e12 corpus bigrams with n_pair ≤
          // 1e6·t/1e6; past that (and for the output itself, which reaches
          // 1e6·T for a singleton-marginal pair) the computation moves to
          // 128-bit (DuckDB HUGEINT / Spark decimal with explicit floor),
          // traded here for the fixture-exact 64-bit oracle parity
          .select(col("w1"), col("w2"), col("n_pair"),
            expr("((1000000 * n_pair * t) div n_left) div n_right").as("lift_micro"))
          .orderBy(col("lift_micro").desc, col("w1").asc, col("w2").asc)
          .limit(20)
      },
      oracle = Some {
        val tk = duckTokens("text")
        s"""WITH toks AS (SELECT doc_id, $tk AS tk FROM documents),
           ex AS (SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
                    i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS bg
                  FROM toks WHERE len(tk) >= 2),
           pair AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS n_pair
                    FROM ex GROUP BY 1, 2),
           lft AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_left FROM pair GROUP BY w1),
           rgt AS (SELECT w2, CAST(sum(n_pair) AS BIGINT) AS n_right FROM pair GROUP BY w2),
           tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS t FROM pair)
           SELECT w1, w2, n_pair,
                  ((1000000 * n_pair * t) // n_left) // n_right AS lift_micro
           FROM pair JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN tot
           WHERE n_pair >= 5
           ORDER BY lift_micro DESC, w1 ASC, w2 ASC LIMIT 20"""
      }),

    // per-document LM fluency score: mean bigram conditional probability
    // under the corpus-trained count LM, in exact integer micro-units — the
    // deterministic screen standing where perplexity filtering stands in a
    // production pipeline (log-free, so it stays oracle-exact; rank order is
    // what curation thresholds use). LM table is vocabulary-sized and
    // broadcasts; one corpus explode scores every document
    "text_lm_score" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
        val tk = tokens(col("text"))
        val bigrams = transform(sequence(lit(1), size(tk) - 1),
          i => struct(element_at(tk, i).as("w1"), element_at(tk, i + 1).as("w2")))
        // persist barrier (the SimHash.nearPairs pattern): the exploded
        // bigram frame feeds BOTH the LM training aggregation and the
        // scoring join — unpersisted, the tokenize+explode runs twice and
        // the broadcast side drags the whole corpus pass into its lineage
        val docBg = docs.filter(size(tk) >= 2)
          .select(col("doc_id"), explode(bigrams).as("bg"))
          .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
          .persist()
        val pair = docBg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
        val uni = pair.groupBy(col("w1")).agg(sum(col("n_pair")).as("n_w1"))
        val lm = pair.join(uni, "w1")
          .select(col("w1"), col("w2"), expr("(1000000 * n_pair) div n_w1").as("p_micro"))
        // no broadcast hint: the LM table is corpus-derived (grows ~vocab²
        // at web scale) — let AQE pick the join strategy from runtime stats
        docBg.join(lm, Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("p_micro")).as("sum_p"))
          .select(col("doc_id"), col("n_bigrams"),
            expr("sum_p div n_bigrams").as("mean_pcond_micro"))
          .orderBy("doc_id")
      },
      oracle = Some {
        val tk = duckTokens("text")
        s"""WITH toks AS (SELECT doc_id, $tk AS tk FROM documents),
           ex AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
                    i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS bg
                  FROM toks WHERE len(tk) >= 2),
           docbg AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM ex),
           pair AS (SELECT w1, w2, count(*) AS n_pair FROM docbg GROUP BY 1, 2),
           uni AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_w1 FROM pair GROUP BY w1),
           lm AS (SELECT w1, w2, (1000000 * n_pair) // n_w1 AS p_micro
                  FROM pair JOIN uni USING (w1))
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                  CAST(sum(p_micro) AS BIGINT) // count(*) AS mean_pcond_micro
           FROM docbg JOIN lm USING (w1, w2)
           GROUP BY doc_id ORDER BY doc_id"""
      }),

    // per-doc bigram cross-entropy in micro NATS — the principled form of
    // text_lm_score's probability-ratio sum: xent(bigram) = ln n_w1 − ln
    // n_pair exactly, through the cross-engine integer micro-ln, so the
    // standard perplexity-filter quantity (mean negative log conditional
    // probability) hash-matches the oracle. Same persisted-explode plan as
    // text_lm_score; the ln staging is two extra columns on the vocab-sized
    // LM table, not on the corpus
    "text_lm_xent" -> QueryEntry(
      fn = (spark, sfDir) => lmXentShared(spark, sfDir).orderBy("doc_id"),
      oracle = Some(
        s"""WITH ${graft.operators.Vocab.duckLmXentCtes(duckTokens("text"))}
           SELECT doc_id, n_bigrams, mean_xent_micro FROM xent ORDER BY doc_id""")),

    // CCNet-style perplexity buckets: documents banded by half-nat bins of
    // their LM cross-entropy, crossed with source — the head/middle/tail
    // split CCNet uses to stratify web data by fluency, as one table per
    // (source, band): counts + mean length. Integer bands (xent div 0.5
    // nat), no percentile pass, deterministic in both engines
    "corpus_ppl_buckets" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
        val x = lmXentShared(spark, sfDir)
        docs.select(col("doc_id"), col("source"), col("n_chars"))
          .join(x, "doc_id")
          .withColumn("band", expr("mean_xent_micro div 500000"))
          .groupBy(col("source"), col("band"))
          .agg(count(lit(1)).as("n_docs"),
            expr("sum(n_chars) div count(1)").as("mean_chars"))
          .orderBy("source", "band")
      },
      oracle = Some(
        s"""WITH ${graft.operators.Vocab.duckLmXentCtes(duckTokens("text"))}
           SELECT d.source, mean_xent_micro // 500000 AS band,
                  count(*) AS n_docs,
                  CAST(sum(d.n_chars) AS BIGINT) // count(*) AS mean_chars
           FROM documents d JOIN xent USING (doc_id)
           GROUP BY 1, 2 ORDER BY source, band""")),

    // multinomial Naive Bayes language ID with add-1 smoothing and EXACT
    // integer log-probabilities (the micro-ln again): score(d, c) =
    // ln n_docs_c + Σ_f ln(n_fc + 1) − |d|·ln(n_c + V) — proper NB, unlike
    // text_lang_classifier's posterior-rate vote, and every term is the
    // same integer in both engines so the argmax (and the scores behind
    // it) hash-match. Features are HASHED buckets ([[langFeature]], the
    // DSIR trick), so the class-feature table is ≤ classes × buckets rows
    // at any corpus size and the broadcast is bounded by construction; V is
    // the observed distinct-bucket count (≤ buckets), the smoothing
    // vocabulary of the hashed space. Plan: one train explode →
    // class-feature table, one scoring explode, per-(doc, class) map-side
    // sums, windowed argmax
    "text_nb_langid" -> QueryEntry(
      fn = (spark, sfDir) => {
        import org.apache.spark.sql.expressions.Window
        import graft.operators.Selection
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
          .withColumn("tk", tokens(col("text")))
        val isTrain = col("doc_id") % 10 < 8
        // train pass: ONE job collects the bounded class-feature counts
        // (≤ classes × buckets rows — the DSIR bounded-collect convention);
        // per-class token totals and the distinct-feature vocabulary V
        // derive from those rows in the driver, and every ln is the
        // spec-pinned lnMicroLong mirror of the SQL integer ln — same
        // integers as the previous all-DataFrame form, ~half the
        // driver-synchronous jobs (the r10 bench showed this query's cost
        // was job-count overhead: 10.5 s cold vs 2.1 s steady)
        val spark2 = spark; import spark2.implicits._
        val cfCounts = docs.filter(isTrain)
          .select(col("lang").as("c"), explode(col("tk")).as("t"))
          .select(col("c"), langFeature(col("t")).as("f"))
          .groupBy(col("c"), col("f")).agg(count(lit(1)).as("n_fc"))
          .as[(String, Long, Long)].collect()
        val ctab = broadcast(cfCounts.toSeq
          .map { case (c, f, nfc) => (c, f, Selection.lnMicroLong(nfc + 1)) }
          .toDF("c", "f", "ln_tc"))
        val v = cfCounts.map(_._2).distinct.length.toLong
        val nC = cfCounts.groupBy(_._1).map { case (c, rs) => (c, rs.map(_._3).sum) }
        val prior = docs.filter(isTrain).groupBy(col("lang").as("c"))
          .agg(count(lit(1)).as("n_docs"))
          .as[(String, Long)].collect() // ≤ |classes| rows
        val classes = broadcast(prior.toSeq.map { case (c, nDocs) =>
          (c, Selection.lnMicroLong(nC(c) + v), Selection.lnMicroLong(nDocs))
        }.toDF("c", "ln_pen", "ln_prior"))
        val test = docs.filter(!isTrain)
          .select(col("doc_id"), col("lang"), col("tk"))
        val hits = test.select(col("doc_id"), explode(col("tk")).as("t"))
          .select(col("doc_id"), langFeature(col("t")).as("f"))
          .join(broadcast(ctab), "f")
          .groupBy(col("doc_id"), col("c")).agg(sum(col("ln_tc")).as("s_hits"))
        val scored = test.select(col("doc_id"), col("lang"),
            size(col("tk")).cast("long").as("len"))
          .crossJoin(broadcast(classes))
          .join(hits, Seq("doc_id", "c"), "left_outer")
          .select(col("doc_id"), col("lang"), col("c"),
            (col("ln_prior") + coalesce(col("s_hits"), lit(0L))
              - col("len") * col("ln_pen")).as("score_micro"))
        scored.withColumn("rn", row_number().over(
            Window.partitionBy(col("doc_id"))
              .orderBy(col("score_micro").desc, col("c").asc)))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("lang"), col("c").as("pred_lang"),
            col("score_micro"),
            when(col("c") === col("lang"), 1L).otherwise(0L).as("correct"))
          .orderBy("doc_id")
      },
      oracle = Some {
        import graft.operators.Selection
        val tk = duckTokens("text")
        val f = Selection.duckBucketOf("t", LangFeatureBuckets)
        s"""WITH toks AS (SELECT doc_id, lang, $tk AS tk FROM documents),
           train_tok AS (SELECT c, $f AS f FROM
             (SELECT lang AS c, unnest(tk) AS t FROM toks WHERE doc_id % 10 < 8) u),
           ctab AS (SELECT c, f, ${Selection.duckLnMicro("nt1")} AS ln_tc FROM
                      (SELECT c, f, CAST(count(*) + 1 AS BIGINT) AS nt1
                       FROM train_tok GROUP BY c, f) g),
           stats AS (SELECT c, ${Selection.duckLnMicro("ncv")} AS ln_pen FROM
                       (SELECT c, CAST(count(*) + (SELECT count(DISTINCT f) FROM train_tok) AS BIGINT) AS ncv
                        FROM train_tok GROUP BY c) g),
           prior AS (SELECT c, ${Selection.duckLnMicro("n_docs")} AS ln_prior FROM
                       (SELECT lang AS c, CAST(count(*) AS BIGINT) AS n_docs
                        FROM toks WHERE doc_id % 10 < 8 GROUP BY lang) g),
           classes AS (SELECT s.c, s.ln_pen, p.ln_prior FROM stats s JOIN prior p USING (c)),
           test AS (SELECT doc_id, lang, tk, CAST(len(tk) AS BIGINT) AS len
                    FROM toks WHERE doc_id % 10 >= 8),
           hits AS (SELECT e.doc_id, ct.c, CAST(sum(ct.ln_tc) AS BIGINT) AS s_hits
                    FROM (SELECT doc_id, $f AS f FROM
                            (SELECT doc_id, unnest(tk) AS t FROM test) w) e
                    JOIN ctab ct USING (f) GROUP BY e.doc_id, ct.c),
           scored AS (SELECT t.doc_id, t.lang, cl.c,
                             cl.ln_prior + coalesce(h.s_hits, 0) - t.len * cl.ln_pen AS score_micro
                      FROM test t CROSS JOIN classes cl
                      LEFT JOIN hits h ON h.doc_id = t.doc_id AND h.c = cl.c),
           ranked AS (SELECT doc_id, lang, c, score_micro,
                             row_number() OVER (PARTITION BY doc_id
                               ORDER BY score_micro DESC, c ASC) AS rn
                      FROM scored)
           SELECT doc_id, lang, c AS pred_lang, CAST(score_micro AS BIGINT) AS score_micro,
                  CAST(CASE WHEN c = lang THEN 1 ELSE 0 END AS BIGINT) AS correct
           FROM ranked WHERE rn = 1 ORDER BY doc_id"""
      }),

    // BPE tokenizer training: 8 highest-count-bigram merges over the corpus
    "text_bpe_merges" -> QueryEntry(
      fn = (spark, sfDir) => bpeMergesShared(spark, sfDir),
      oracle = Some(graft.operators.Vocab.duckBpeMerges(iters = 8))),

    // the apply half of the tokenizer: segment every document with the
    // trained 4-merge table (train + tokenize, end to end — staged once per
    // fixture dir; the checkpoint is also the persist-before-sort barrier
    // the segmentation fold needs ahead of the global orderBy)
    "text_bpe_segment" -> QueryEntry(
      fn = (spark, sfDir) => bpeSegShared(spark, sfDir).orderBy("doc_id"),
      oracle = Some(graft.operators.Vocab.duckBpeSegment(iters = 4))),

    // BPE compression audit: corpus fertility before merges (character
    // pieces per word — BPE's starting point) vs after the 4 trained
    // merges, and the micro fraction of pieces the merges eliminated —
    // the "is this vocabulary earning its size" figure per merge budget.
    // Character pieces per word fall out of length arithmetic (chars minus
    // the spaces), no second tokenization pass; the BPE side reuses the
    // persisted segment fold
    "text_bpe_fertility" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.fixture(spark, sfDir, "documents")
        val seg = bpeSegShared(spark, sfDir)
        val bpe = seg.agg(sum(col("n_pieces")).as("n_bpe_pieces"))
        val base = docs.select(
            size(tokens(col("text"))).cast("long").as("w"),
            (length(col("text")).cast("long") - (size(tokens(col("text"))) - 1)).as("c"))
          .agg(sum(col("w")).as("n_words"), sum(col("c")).as("n_char_pieces"))
        base.crossJoin(bpe)
          .select(col("n_words"), col("n_char_pieces"), col("n_bpe_pieces"),
            expr("n_char_pieces * 1000000 div n_words").as("fert_char_micro"),
            expr("n_bpe_pieces * 1000000 div n_words").as("fert_bpe_micro"),
            expr("(n_char_pieces - n_bpe_pieces) * 1000000 div n_char_pieces")
              .as("saved_micro"))
      },
      oracle = Some(
        s"""WITH seg AS (SELECT sum(n_pieces) AS n_bpe_pieces
                         FROM (${graft.operators.Vocab.duckBpeSegment(iters = 4)}) s),
           base AS (SELECT CAST(sum(len(${duckTokens("text")})) AS BIGINT) AS n_words,
                           CAST(sum(length(text) - (len(${duckTokens("text")}) - 1)) AS BIGINT)
                             AS n_char_pieces
                    FROM documents)
           SELECT base.n_words, base.n_char_pieces,
                  CAST(seg.n_bpe_pieces AS BIGINT) AS n_bpe_pieces,
                  base.n_char_pieces * 1000000 // base.n_words AS fert_char_micro,
                  CAST(seg.n_bpe_pieces AS BIGINT) * 1000000 // base.n_words AS fert_bpe_micro,
                  (base.n_char_pieces - CAST(seg.n_bpe_pieces AS BIGINT)) * 1000000
                    // base.n_char_pieces AS saved_micro
           FROM base, seg""")),

    // winnowing-style bottom-k fingerprint over char 8-grams
    "text_fingerprint" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
        docs.select(
          col("doc_id"),
          fingerprint(col("text"), n = 8, k = 4).as("doc_fingerprint")
        ).orderBy("doc_id")
      },
      oracle = Some(
        s"""SELECT doc_id, ${duckFingerprint("text", 8, 4)} AS doc_fingerprint
           FROM documents ORDER BY doc_id""")),

    // Gopher-style rule table (Rae et al. 2021 §A1.1, thresholds adapted
    // where the synthetic fixture is degenerate — it is single-line
    // lowercase word salad, so the line-format and case rules are omitted
    // and the stopword rule is replaced by the short-token bound): one row
    // per doc with every rule's metric AND verdict, plus the conjunction —
    // the explainable form of a hard quality gate (a doc fails WITH the
    // rule that failed it). All per-row HOF expressions, scan-parallel
    "text_quality_rules" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
          .withColumn("tk", tokens(col("text")))
        val tk = col("tk")
        val m = docs
          .withColumn("n_words", size(tk).cast("long"))
          .withColumn("char_sum",
            aggregate(transform(tk, t => length(t).cast("long")), lit(0L), (a, x) => a + x))
          .withColumn("max_wlen", array_max(transform(tk, t => length(t).cast("long"))))
          .withColumn("top_tok", array_max(
            transform(array_distinct(tk), t => size(filter(tk, x => x === t)).cast("long"))))
          .withColumn("n_grams",
            when(size(tk) >= 3, size(tk) - 2).otherwise(lit(1)).cast("long"))
          .withColumn("n_dg", size(shinglesFromTokens(tk, 3)).cast("long"))
          .withColumn("digit_toks",
            size(filter(tk, x => x.rlike("^[0-9]+$"))).cast("long"))
          .withColumn("short_toks",
            size(filter(tk, x => length(x) < 3)).cast("long"))
          .withColumn("mean_wlen_micro", expr("char_sum * 1000000 div n_words"))
          .withColumn("top_ratio_micro", expr("top_tok * 1000000 div n_words"))
          .withColumn("dup_gram_micro", expr("(n_grams - n_dg) * 1000000 div n_grams"))
          .withColumn("digit_micro", expr("digit_toks * 1000000 div n_words"))
          .withColumn("short_micro", expr("short_toks * 1000000 div n_words"))
        m.select(col("doc_id"), col("n_words"), col("mean_wlen_micro"),
            col("top_ratio_micro"), col("dup_gram_micro"),
            expr("CAST(n_words BETWEEN 50 AND 100000 AS BIGINT)").as("r_word_count"),
            expr("CAST(mean_wlen_micro BETWEEN 3000000 AND 10000000 AS BIGINT)").as("r_mean_wlen"),
            expr("CAST(max_wlen <= 30 AS BIGINT)").as("r_max_wlen"),
            expr("CAST(top_ratio_micro <= 200000 AS BIGINT)").as("r_top_token"),
            expr("CAST(dup_gram_micro <= 600000 AS BIGINT)").as("r_dup_gram"),
            expr("CAST(digit_micro <= 200000 AS BIGINT)").as("r_digit"),
            expr("CAST(short_micro <= 300000 AS BIGINT)").as("r_short_tokens"),
            expr("""CAST(n_words BETWEEN 50 AND 100000
                    AND mean_wlen_micro BETWEEN 3000000 AND 10000000
                    AND max_wlen <= 30
                    AND top_ratio_micro <= 200000
                    AND dup_gram_micro <= 600000
                    AND digit_micro <= 200000
                    AND short_micro <= 300000 AS BIGINT)""").as("pass"))
          .orderBy("doc_id")
      },
      oracle = Some {
        val tk = duckTokens("text")
        s"""WITH toks AS (SELECT doc_id, $tk AS tk FROM documents),
           m AS (SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_words,
             CAST(list_reduce(list_transform(tk, t -> CAST(length(t) AS BIGINT)),
                  (a, x) -> a + x) AS BIGINT) AS char_sum,
             CAST(list_max(list_transform(tk, t -> length(t))) AS BIGINT) AS max_wlen,
             CAST(list_max(list_transform(list_distinct(tk),
                  t -> len(list_filter(tk, x -> x = t)))) AS BIGINT) AS top_tok,
             CAST(CASE WHEN len(tk) >= 3 THEN len(tk) - 2 ELSE 1 END AS BIGINT) AS n_grams,
             CAST(len(${duckShinglesExpr("tk", 3)}) AS BIGINT) AS n_dg,
             CAST(len(list_filter(tk, x -> regexp_full_match(x, '[0-9]+'))) AS BIGINT) AS digit_toks,
             CAST(len(list_filter(tk, x -> length(x) < 3)) AS BIGINT) AS short_toks
             FROM toks),
           r AS (SELECT doc_id, n_words,
             char_sum * 1000000 // n_words AS mean_wlen_micro,
             top_tok * 1000000 // n_words AS top_ratio_micro,
             (n_grams - n_dg) * 1000000 // n_grams AS dup_gram_micro,
             digit_toks * 1000000 // n_words AS digit_micro,
             short_toks * 1000000 // n_words AS short_micro,
             max_wlen FROM m)
           SELECT doc_id, n_words, mean_wlen_micro, top_ratio_micro, dup_gram_micro,
             CAST(n_words BETWEEN 50 AND 100000 AS BIGINT) AS r_word_count,
             CAST(mean_wlen_micro BETWEEN 3000000 AND 10000000 AS BIGINT) AS r_mean_wlen,
             CAST(max_wlen <= 30 AS BIGINT) AS r_max_wlen,
             CAST(top_ratio_micro <= 200000 AS BIGINT) AS r_top_token,
             CAST(dup_gram_micro <= 600000 AS BIGINT) AS r_dup_gram,
             CAST(digit_micro <= 200000 AS BIGINT) AS r_digit,
             CAST(short_micro <= 300000 AS BIGINT) AS r_short_tokens,
             CAST(n_words BETWEEN 50 AND 100000
                  AND mean_wlen_micro BETWEEN 3000000 AND 10000000
                  AND max_wlen <= 30
                  AND top_ratio_micro <= 200000
                  AND dup_gram_micro <= 600000
                  AND digit_micro <= 200000
                  AND short_micro <= 300000 AS BIGINT) AS pass
           FROM r ORDER BY doc_id"""
      }),

    // trained logistic-regression quality/language filter (operators/
    // LogReg.scala): hashed-bigram presence features + bias, Bernoulli-NB
    // log-odds init, full-batch GD fine-tune — every arithmetic step
    // integer micro fixed-point, so the learned weights are bit-identical
    // to the oracle's CTE replay of the same training run. The fine-tune
    // measurably improves on the generative init at these constants
    // (sf0.01: 426/500 → 438/500 correct; see text_lr_scorecard)
    "text_lr_weights" -> QueryEntry(
      fn = (spark, sfDir) =>
        graft.operators.LogReg.weightsTable(spark, trainedLr(spark, sfDir))
          .orderBy("bkt"),
      oracle = Some(graft.operators.LogReg.duckWeightsSql(
        "lang = 'en'", LrBuckets, LrSteps, LrNum, LrDen))),

    // the trained filter applied back to its corpus: confusion scorecard
    // (y × pred counts + summed posterior mass) — the gate-quality readout
    // a pipeline monitors when it retrains the filter
    "text_lr_scorecard" -> QueryEntry(
      fn = (spark, sfDir) => {
        lrStaged(spark, sfDir).score(trainedLr(spark, sfDir))
          .groupBy(col("y"), col("pred"))
          .agg(count(lit(1)).as("n"), sum(col("sigma")).as("sum_sigma"))
          .orderBy(col("y"), col("pred"))
      },
      oracle = Some(graft.operators.LogReg.duckScorecardSql(
        "lang = 'en'", LrBuckets, LrSteps, LrNum, LrDen))),

    // the same trained filter over CHARACTER-trigram features — the
    // featurization a fastText-style langid actually ships (char n-grams
    // see orthography). Same integer training machinery, only the gram
    // producer and the rate change (~250 active features per doc vs ~40:
    // see LrChar* constants). The measured finding this query records: on
    // the SYNTHETIC fixture word bigrams win (85% vs 71% — generated text
    // carries its language signal in word identity, the languages share
    // character statistics), the reverse of real-corpus behavior; the
    // scorecard keeps that comparison a number, not an assumption
    "text_lr_chargram_scorecard" -> QueryEntry(
      fn = (spark, sfDir) => {
        val (x, w) = lrCharTrained(spark, sfDir)
        x.score(w)
          .groupBy(col("y"), col("pred"))
          .agg(count(lit(1)).as("n"), sum(col("sigma")).as("sum_sigma"))
          .orderBy(col("y"), col("pred"))
      },
      oracle = Some(graft.operators.LogReg.duckScorecardSql(
        "lang = 'en'", LrBuckets, LrCharSteps, LrCharNum, LrCharDen,
        gramsSql = graft.operators.LogReg.duckCharTrigrams("text")))),

    // reliability diagram for the trained filter: posterior deciles vs the
    // empirical positive rate per band (sigma=1e6 folds into band 9). A
    // calibrated filter has pos_rate tracking mean_sigma band by band —
    // the readout that justifies using sigma as a curate THRESHOLD rather
    // than only an argmax
    "text_lr_calibration" -> QueryEntry(
      fn = (spark, sfDir) => {
        lrStaged(spark, sfDir).score(trainedLr(spark, sfDir))
          .withColumn("band", least(expr("sigma div 100000"), lit(9L)))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
            expr("sum(sigma) div count(1)").as("mean_sigma_micro"),
            expr("sum(y) * 1000000 div count(1)").as("pos_rate_micro"))
          .orderBy("band")
      },
      oracle = Some(graft.operators.LogReg.duckCalibrationSql(
        "lang = 'en'", LrBuckets, LrSteps, LrNum, LrDen))),

    // active-learning margin mining: the 20 documents the trained filter is
    // LEAST sure about (posterior closest to the 0.5 boundary) — the rows a
    // labeling loop sends for human review first. Plans as
    // TakeOrderedAndProject (bounded heap per partition), never a global
    // sort — the same scale shape as every other top-k here
    "text_lr_margin_mining" -> QueryEntry(
      fn = (spark, sfDir) => {
        lrStaged(spark, sfDir).score(trainedLr(spark, sfDir))
          .withColumn("margin", abs(col("sigma") - 500000L))
          .select(col("doc_id"), col("y"), col("sigma"), col("margin"))
          .orderBy(col("margin").asc, col("doc_id").asc)
          .limit(20)
      },
      oracle = Some {
        val (ctes, wFin) = graft.operators.LogReg.duckTrainCtes(
          "lang = 'en'", LrBuckets, LrSteps, LrNum, LrDen)
        s"""WITH ${ctes.mkString(",\n")},
           zs AS (SELECT doc_id, y, CAST(sum(cnt * w) AS BIGINT) AS z
                  FROM x JOIN $wFin USING (bkt) GROUP BY doc_id, y),
           ${graft.operators.LogReg.duckScoreCtesPublic("zs", "sgm", "z", "sigma",
              Seq("doc_id", "y")).mkString(",\n")}
           SELECT doc_id, y, sigma, abs(sigma - 500000) AS margin
           FROM sgm ORDER BY margin ASC, doc_id ASC LIMIT 20"""
      }),

    // the persisted-model ingest workflow: train on the 90% base corpus,
    // persist the weights (writeModel/readModel with the feature-space
    // parameter guard — the signature-index convention), then FINE-TUNE
    // two GD steps on the 10% delta from the persisted weights and
    // scorecard the delta under the adapted model. Per ingest the cost is
    // O(delta) — the corpus text is never re-read; the oracle replays
    // base-train + delta-steps as one CTE chain
    "text_lr_incremental" -> QueryEntry(
      fn = (spark, sfDir) => {
        import graft.operators.LogReg
        val docs = Readers.fixture(spark, sfDir, "documents")
        val isDelta = col("doc_id") % 10 === 9
        // features are per-(doc, bucket) rows, so the base/delta slices are
        // doc_id FILTERS of the shared checkpointed frame — no re-explode
        // (a real ingest featurizes only its delta; the fixture form reuses
        // the staged corpus the other LR rows already paid for)
        val wBase = lrBaseTrained(spark, sfDir)
        val path = java.nio.file.Files
          .createTempDirectory("graft-lr-model").resolve("m").toString
        LogReg.writeModel(spark, path, wBase, LrBuckets)
        val persisted = LogReg.readModel(spark, path, LrBuckets)
        // the delta's staged records serve the fine-tune; the returned
        // scorecard re-reads them from the staging shuffle after close
        val xd = LogReg.stage(lrFeatures(spark, sfDir).filter(isDelta), LrBuckets)
        try xd.score(xd.trainWeights(docs.filter(isDelta).count(),
            LrDeltaSteps, LrNum, LrDen, init = Some(persisted)))
          .groupBy(col("y"), col("pred"))
          .agg(count(lit(1)).as("n"), sum(col("sigma")).as("sum_sigma"))
          .orderBy(col("y"), col("pred"))
        finally xd.close()
      },
      oracle = Some(graft.operators.LogReg.duckIncrementalSql(
        "lang = 'en'", LrBuckets, LrSteps, LrDeltaSteps, LrNum, LrDen,
        basePred = "doc_id % 10 <> 9", deltaPred = "doc_id % 10 = 9"))),

    // the trained filter as an ingest-time gate: train on the static
    // corpus, FREEZE the 1025-long weight vector into a per-row scoring
    // expression (bias literal + bounded weight map + integer sigmoid),
    // and score the document stream with ZERO streaming state — no
    // watermark, no shuffle, append mode (the corpus_dsir_stream shape).
    // Replayed over the fixture the scores equal the batch training run's
    // own scoring bit-for-bit, which is what the oracle replays
    "text_lr_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        import graft.operators.LogReg
        import graft.streaming.{EventStreams, IngestStreams}
        val stream = LogReg.scoreRows(
          IngestStreams.readDocuments(spark, DedupQueries.rawDocsDir(sfDir)),
          "doc_id", "text", trainedLr(spark, sfDir), LrBuckets)
        EventStreams.runToBatch(stream,
          s"text_lr_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append)
          .orderBy("doc_id")
      },
      oracle = Some(graft.operators.LogReg.duckScoreRowsSql(
        "lang = 'en'", LrBuckets, LrSteps, LrNum, LrDen)))
  )
}
