package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vocabulary-level text operators for a training-data pipeline: TF-IDF term
  * scoring and an inverted (term → postings) index — the corpus-wide
  * complements to [[TextAnalysis]]'s per-row signals.
  *
  * Cross-engine parity: scores use a reciprocal-df TF-IDF variant,
  * `tf/len × N/df`, computed entirely in 64-bit INTEGER arithmetic
  * (`floor(1e6·tf·N / (df·len))` via integer division) — no `ln`, so there is
  * no libm last-ulp risk between JVM `Math.log` and DuckDB's C `log`. The
  * classic `ln(N/df)` weighting is a one-expression swap where exactness is
  * not required.
  *
  * Scale shape (100 TB): both operators are explode → hash-aggregate with
  * map-side partial combine; the only wide exchanges are keyed by term
  * (vocabulary-sized, Zipf-distributed — AQE skew handling or a stopword cap
  * absorbs the hot head). The tf⋈df join is an equi-join on term that AQE
  * broadcasts when the vocabulary is small.
  */
object Vocab {

  import TextAnalysis.{duckTokens, tokens}

  /** Top-k terms per document by integer TF-IDF.
    * Output: (doc_id, term, tfidf_micro, rank), rank 1..k per document.
    *
    * Generators stay inline (not an explode of a projected `split()`
    * attribute): InferFiltersFromGenerate would re-substitute the defining
    * expression into a pushed filter and recompute it per row — the round-4
    * regression documented on [[MinHashLSH.signatures]].
    *
    * Numeric bound: `tfidf_micro = (1e6 * tf * n_docs) div (df * len)` is
    * int64 throughout, so the numerator must stay under 2^63 ≈ 9.2e18 —
    * i.e. `tf * n_docs < 9.2e12`. A 1e9-document corpus is safe while
    * `tf < 9200` (per-doc term frequency); beyond that, stage the division
    * as `(1e6 * tf div len) * something` or widen to decimal(38,0) on BOTH
    * engines — the DuckDB twin shares the same int64 formula, so a silent
    * Spark wrap would be an overflow DuckDB raises on instead.
    */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val ex = graft.core.Readers.spread(docs, col(idCol))
      .select(col(idCol).as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("len"),
        explode(tokens(col(textCol))).as("term"))
    val tf = ex.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("len")).as("len"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      // documented bound: 1e6·tf·n_docs must fit 64 bits — holds to ~1e8
      // docs at 1e4 within-doc term counts; a larger corpus moves the
      // weight to 128-bit on both engines (HUGEINT / decimal-floor)
      .select(col("doc_id"), col("term"),
        expr("(1000000 * tf * n_docs) div (df * len)").as("tfidf_micro"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf_micro").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
    // presentation sort lives at the registered query (c74635b sort policy)
  }

  /** DuckDB twin of [[tfIdfTopK]] over the `documents` fixture. */
  def duckTfIdfTopK(k: Int): String =
    s"""WITH ex AS (SELECT doc_id, CAST(len(${duckTokens("text")}) AS BIGINT) AS len,
                           unnest(${duckTokens("text")}) AS term FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf, max(len) AS len
              FROM ex GROUP BY doc_id, term),
       df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       nd AS (SELECT count(*) AS n_docs FROM documents),
       scored AS (SELECT doc_id, term,
                         (1000000 * tf * n_docs) // (df * len) AS tfidf_micro
                  FROM tf JOIN df USING (term) CROSS JOIN nd)
       SELECT doc_id, term, tfidf_micro, rank FROM (
         SELECT doc_id, term, tfidf_micro,
                CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf_micro DESC, term ASC) AS BIGINT) AS rank
         FROM scored) t
       WHERE rank <= $k ORDER BY doc_id, rank"""

  /** Inverted index: one row per distinct term with its document frequency
    * and an MD5 digest of the sorted posting list (doc ids). The digest keeps
    * the compared output narrow; a production sink would write the postings
    * themselves, partitioned by term range. Postings are per-term
    * `collect_list` buffers — bounded by document frequency; a stopword-class
    * term holds its whole posting list in one buffer, so corpus-scale builds
    * cap df (drop terms present in >X% of documents — they carry no retrieval
    * signal) or shard the digest Merkle-style like
    * [[graft.core.Fingerprints]].
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = graft.core.Readers.spread(docs, col(idCol))
      .select(col(idCol).as("id"),
        explode(array_distinct(tokens(col(textCol)))).as("term"))
    ex.groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        md5(array_join(
          transform(array_sort(collect_list(col("id"))), x => x.cast("string")),
          ",")).as("postings_md5"))
    // presentation sort lives at the registered query (c74635b sort policy)
  }

  /** DuckDB twin of [[invertedIndex]] over the `documents` fixture. */
  def duckInvertedIndex: String =
    s"""WITH toks AS (SELECT doc_id, list_distinct(${duckTokens("text")}) AS tk
                      FROM documents),
       ex AS (SELECT doc_id, unnest(tk) AS term FROM toks)
       SELECT term, count(*) AS df,
              md5(array_to_string(list_sort(list(doc_id)), ',')) AS postings_md5
       FROM ex GROUP BY term ORDER BY term"""

  /** Per-source out-of-vocabulary rate against the corpus top-`vocabSize`
    * vocabulary — the coverage audit run before committing to a tokenizer
    * vocabulary: a source whose OOV rate is high under the candidate vocab
    * will fragment into byte-fallback pieces and inflate its token bill.
    * Vocabulary membership is deterministic (count desc, token asc
    * tie-break) so both engines pick the identical top-N.
    *
    * Scale shape (100 TB): the vocabulary is a map-side-combined token
    * groupBy + TakeOrdered(N) — N rows cross the wire per partition; the
    * OOV flag is then a broadcast left join at the scan, so the whole audit
    * is two passes with no wide shuffle of token rows.
    */
  def oovRate(docs: DataFrame, idCol: String, srcCol: String, textCol: String,
              vocabSize: Int): DataFrame = {
    val ex = graft.core.Readers.spread(docs, col(idCol))
      .select(col(srcCol).as("src"), explode(tokens(col(textCol))).as("term"))
    val vocab = ex.groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term").asc).limit(vocabSize)
      .select(col("term"), lit(1).as("in_vocab"))
    ex.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
      .select(col("src"), col("n_tokens"), col("n_oov"),
        expr("(1000000 * n_oov) div n_tokens").as("oov_micro"))
  }

  /** DuckDB twin of [[oovRate]] over the `documents` fixture. */
  def duckOovRate(idCol: String, srcCol: String, textCol: String,
                  vocabSize: Int): String =
    s"""WITH ex AS (SELECT $srcCol AS src, unnest(${duckTokens(textCol)}) AS term
                    FROM documents),
       vocab AS (SELECT term FROM ex GROUP BY term
                 ORDER BY count(*) DESC, term ASC LIMIT $vocabSize),
       flagged AS (SELECT e.src, e.term, v.term AS vt
                   FROM ex e LEFT JOIN vocab v ON e.term = v.term)
       SELECT src AS $srcCol, count(*) AS n_tokens,
              count(CASE WHEN vt IS NULL THEN 1 END) AS n_oov,
              (1000000 * count(CASE WHEN vt IS NULL THEN 1 END)) // count(*)
                AS oov_micro
       FROM flagged GROUP BY src ORDER BY src"""

  // ---------------------------------------------------------------------
  // BPE tokenizer training: k iterations of highest-count adjacent-pair
  // merge over the word-frequency dictionary — the piece between
  // text_bigram_lm's pair counts and real LLM preprocessing.
  // ---------------------------------------------------------------------

  /** One BPE merge applied to a space-joined symbol string: every adjacent
    * (l, r) pair becomes the symbol `l||r`, greedy left-to-right, via a fold
    * whose accumulator is the merged prefix with its last symbol still
    * eligible ("a a a a" under (a,a) → "aa aa", never "aa a a"). The same
    * fold runs in the DuckDB twin (`list_reduce`), so the two engines
    * implement literally one algorithm.
    */
  private def applyMerge(seg: Column, l: Column, r: Column): Column = {
    val syms = split(seg, " ")
    def last(acc: Column): Column = regexp_extract(acc, "[^ ]+$", 0)
    aggregate(
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      element_at(syms, 1),
      (acc, x) =>
        when(last(acc) === l && x === r,
          concat(acc.substr(lit(1), length(acc) - length(last(acc))), l, r))
          .otherwise(concat(acc, lit(" "), x)))
  }

  /** Train `iters` BPE merges over the corpus; returns one row per merge:
    * (it, left_sym, right_sym, n_pair), the merge table a tokenizer ships.
    *
    * Scale shape (100 TB): ONE corpus pass builds the (word, count)
    * dictionary; every iteration after that runs over the VOCABULARY
    * (Heaps'-law sized, millions of rows at web scale — not the corpus).
    * Per iteration: one explode → hash-agg for pair counts (map-side
    * partial), one TakeOrderedAndProject for the argmax (a single tiny row
    * to the driver, like the reference's scalar fetches), one projection
    * applying the merge. The vocab is persisted per step and the previous
    * step unpersisted, so the k plans stay shallow and each stage reads a
    * cached parent instead of recomputing the chain.
    */
  def bpeMerges(docs: DataFrame, textCol: String, iters: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // word-frequency dict, words pre-segmented to space-joined characters
    // (bijective: words are whitespace tokens, so they contain no spaces)
    var vocab = docs
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(rtrim(regexp_replace(col("word"), "(.)", "$1 ")).as("seg"), col("n"))
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (it <- 1 to iters) {
      val syms = split(col("seg"), " ")
      val best = vocab.filter(size(syms) >= 2)
        .select(col("n"), explode(transform(sequence(lit(1), size(syms) - 1),
          i => struct(element_at(syms, i).as("w1"), element_at(syms, i + 1).as("w2")))).as("bg"))
        .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .agg(sum(col("n")).as("n_pair"))
        .orderBy(col("n_pair").desc, col("w1").asc, col("w2").asc)
        .limit(1).collect()
      require(best.nonEmpty,
        s"corpus exhausted at merge $it/$iters: every word is a single symbol")
      val (l, r, np) = (best.head.getString(0), best.head.getString(1), best.head.getLong(2))
      merges += ((it.toLong, l, r, np))
      val next = vocab
        .select(applyMerge(col("seg"), lit(l), lit(r)).as("seg"), col("n")).persist()
      next.count() // materialize before dropping the parent from cache
      vocab.unpersist()
      vocab = next
    }
    vocab.unpersist()
    merges.toSeq.toDF("it", "left_sym", "right_sym", "n_pair").orderBy("it")
  }

  /** Shared CTE pieces for the BPE twins: initial char segmentation and the
    * per-iteration (pair counts, argmax, merge-applied vocab) stages.
    */
  private def duckBpeInit: String =
    s"""vocab0 AS (
         SELECT rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seg, count(*) AS n
         FROM (SELECT unnest(${duckTokens("text")}) AS word FROM documents) w GROUP BY 1)"""

  /** The greedy leftmost-merge fold as a DuckDB lambda body over a
    * space-joined segmentation expression, merging `(w1Ref, w2Ref)`.
    */
  private def duckMergeFold(segSql: String, w1Ref: String, w2Ref: String): String = {
    val lastTok = "regexp_extract(acc, '[^ ]+$')"
    s"""list_reduce(string_split($segSql, ' '), (acc, x) -> CASE
          WHEN $lastTok = $w1Ref AND x = $w2Ref
          THEN substr(acc, 1, length(acc) - length($lastTok)) || $w1Ref || $w2Ref
          ELSE acc || ' ' || x END)"""
  }

  private def duckBpeStage(i: Int): String = {
    val prev = s"vocab${i - 1}"
    s"""pairs$i AS (
         SELECT bg.w1 AS w1, bg.w2 AS w2, CAST(sum(n) AS BIGINT) AS n_pair
         FROM (SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
                 i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS bg, n
               FROM (SELECT string_split(seg, ' ') AS tk, n FROM $prev) t
               WHERE len(tk) >= 2) ex
         GROUP BY 1, 2),
       best$i AS (SELECT w1, w2, n_pair FROM pairs$i
                  ORDER BY n_pair DESC, w1 ASC, w2 ASC LIMIT 1),
       vocab$i AS (
         SELECT ${duckMergeFold("v.seg", "b.w1", "b.w2")} AS seg, v.n AS n
         FROM $prev v CROSS JOIN best$i b)"""
  }

  /** DuckDB twin of [[bpeMerges]]: the iteration unrolled as CTE stages
    * (same segmentation, pair counts, argmax tiebreak, and `list_reduce`
    * merge fold), same pattern as [[KMeans.duckSummary]].
    */
  def duckBpeMerges(iters: Int): String = {
    val rows = (1 to iters).map(i =>
      s"SELECT CAST($i AS BIGINT) AS it, w1 AS left_sym, w2 AS right_sym, n_pair FROM best$i")
    s"""WITH $duckBpeInit, ${(1 to iters).map(duckBpeStage).mkString(",\n")}
       SELECT * FROM (${rows.mkString(" UNION ALL ")}) ORDER BY it"""
  }

  /** Tokenize the corpus with a freshly-trained merge table: train `iters`
    * merges ([[bpeMerges]]), then segment every document's words by applying
    * the merges in rank order — the apply half of the tokenizer the train
    * half ships. Output per doc: piece count + space-joined pieces.
    *
    * Scale shape: words explode to rows and EACH merge stage materializes
    * behind a persist barrier before the next applies — k linear passes.
    * Chaining the k folds in one projection instead lets Catalyst collapse
    * them into a single expression where every level re-evaluates its input
    * ~6×, i.e. 6^k inner evaluations (measured: 89 s vs ~3 s at sf0.1 for
    * k=4). A production 50k-merge tokenizer leaves expressions entirely and
    * applies merges via a rank-lookup loop in a mapPartitions codec, the
    * same boundary as [[Multimodal.MediaDecoder]]. Training cost is
    * [[bpeMerges]]'s vocabulary-sized iteration.
    */
  def bpeSegment(docs: DataFrame, idCol: String, textCol: String, iters: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val merges = bpeMerges(docs, textCol, iters)
      .as[(Long, String, String, Long)].collect().map(m => (m._2, m._3)).toSeq
    bpeSegmentWithMerges(docs, idCol, textCol, merges)
  }

  /** Apply-only half of [[bpeSegment]]: fold an ALREADY-TRAINED merge list
    * over the corpus (r14). Greedy BPE training is prefix-stable — merge
    * i+1 depends only on merges 1..i and the deterministic argmax — so the
    * first k rows of a longer-trained merge table ARE the k-iteration
    * training, and a caller holding a staged merge table segments without
    * re-training (StagingSpec pins prefix == short-training and
    * staged-seg == fresh-seg).
    */
  def bpeSegmentWithMerges(docs: DataFrame, idCol: String, textCol: String,
                           merges: Seq[(String, String)]): DataFrame = {
    var words = graft.core.Readers.spread(
      docs.select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "seg"))), col("doc_id"))
      .withColumn("seg", rtrim(regexp_replace(col("seg"), "(.)", "$1 ")))
      .persist()
    words.count()
    for ((l, r) <- merges) {
      val next = words.select(col("doc_id"), col("pos"),
        applyMerge(col("seg"), lit(l), lit(r)).as("seg")).persist()
      next.count() // materialize before dropping the parent from cache
      words.unpersist()
      words = next
    }
    // reassemble in word order; joining per-word segs with ' ' flattens to
    // exactly the piece string (pieces themselves are space-free)
    words.groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("seg")))),
        w => w.getField("seg")), " ").as("pieces_str"))
      .select(col("doc_id"),
        size(split(col("pieces_str"), " ")).cast("long").as("n_pieces"),
        col("pieces_str"))
  }

  /** DuckDB twin of [[bpeSegment]]: the training CTEs of [[duckBpeMerges]]
    * followed by per-document application stages (each document's word list
    * folded with stage i's best pair). Joining the per-word segmentations
    * with ' ' flattens to exactly the piece string.
    */
  def duckBpeSegment(iters: Int): String = {
    val docInit =
      s"""doc0 AS (SELECT doc_id, list_transform(${duckTokens("text")},
             w -> rtrim(regexp_replace(w, '(.)', '\\1 ', 'g'))) AS segs
           FROM documents)"""
    def docStage(i: Int): String =
      s"""doc$i AS (SELECT doc_id,
             list_transform(segs, s -> ${duckMergeFold("s", "b.w1", "b.w2")}) AS segs
           FROM doc${i - 1} CROSS JOIN best$i b)"""
    s"""WITH $duckBpeInit, ${(1 to iters).map(duckBpeStage).mkString(",\n")},
         $docInit, ${(1 to iters).map(docStage).mkString(",\n")}
       SELECT doc_id,
              CAST(len(string_split(joined, ' ')) AS BIGINT) AS n_pieces,
              joined AS pieces_str
       FROM (SELECT doc_id, array_to_string(segs, ' ') AS joined FROM doc$iters) f
       ORDER BY doc_id"""
  }

  /** Per-doc bigram cross-entropy in micro nats: train the conditional
    * bigram LM on the corpus and score every doc with
    * mean[ln n_w1 − ln n_pair] through the cross-engine integer micro-ln
    * ([[Selection.lnMicroSparkSql]]) — the perplexity-filter quantity,
    * exact in both engines. One persisted explode feeds train AND score.
    * Output: (doc_id, n_bigrams, mean_xent_micro); docs with < 2 tokens
    * drop (no bigram to score).
    */
  def lmXent(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docBg = lmBigrams(docs, idCol, textCol).persist()
    val pair = docBg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
    val uni = pair.groupBy(col("w1")).agg(sum(col("n_pair")).as("n_w1"))
    val lm = pair.join(uni, "w1")
      .withColumn("__ln_pair", expr(Selection.lnMicroSparkSql("n_pair")))
      .withColumn("__ln_w1", expr(Selection.lnMicroSparkSql("n_w1")))
      .select(col("w1"), col("w2"),
        (col("__ln_w1") - col("__ln_pair")).as("xent_micro"))
    docBg.join(lm, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("xent_micro")).as("sum_x"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_x div n_bigrams").as("mean_xent_micro"))
  }

  /** The (doc_id, w1, w2) bigram rows [[lmXent]] persists, unpersisted: a
    * caller can ask whether that plan is already cached before it runs
    * [[lmXent]].
    */
  private[graft] def lmBigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = split(col(textCol), " ")
    val bigrams = transform(sequence(lit(1), size(tk) - 1),
      i => struct(element_at(tk, i).as("w1"), element_at(tk, i + 1).as("w2")))
    docs.filter(size(tk) >= 2)
      .select(col(idCol).as("doc_id"), explode(bigrams).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
  }

  /** DuckDB twin CTE chain for [[lmXent]], ending in
    * `xent(doc_id, n_bigrams, mean_xent_micro)`.
    */
  def duckLmXentCtes(tkSql: String, table: String = "documents"): String =
    s"""xtoks AS (SELECT doc_id, $tkSql AS tk FROM $table),
       xex AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
                 i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS bg
               FROM xtoks WHERE len(tk) >= 2),
       xdocbg AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM xex),
       xpair AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair FROM xdocbg GROUP BY 1, 2),
       xuni AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_w1 FROM xpair GROUP BY w1),
       xlm AS (SELECT w1, w2,
                 ${Selection.duckLnMicro("n_w1")} - ${Selection.duckLnMicro("n_pair")}
                   AS xent_micro
               FROM xpair JOIN xuni USING (w1)),
       xent AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                       CAST(sum(xent_micro) AS BIGINT) // count(*) AS mean_xent_micro
                FROM xdocbg JOIN xlm USING (w1, w2) GROUP BY doc_id)"""
}
