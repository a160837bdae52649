package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.MinHashLSH

/** Streaming ingest dedup — the online form of the MinHash-LSH banding join.
  *
  * Batch LSH finds near-duplicate candidates by self-joining band hashes; a
  * continuously-ingesting corpus can't re-run that join per arrival. The
  * streaming shape keeps the BAND INDEX as keyed state: each (band_idx,
  * band_hash) bucket remembers the doc ids that ever hashed into it, and a
  * new arrival emits one candidate pair per prior occupant of any of its
  * buckets — exactly the pairs the batch join would produce, discovered
  * incrementally. This is [[graft.operators.MinHashLSH.incrementalCandidates]]
  * with the persisted index moved into the state store, so ingest needs no
  * explicit index read/merge/write cycle at all: the checkpoint IS the index,
  * and exactly-once recovery replaces the sketch-parameter guard that the
  * file-based index needs ([[graft.operators.MinHashLSH.readSigIndex]]) —
  * a checkpoint can only ever be resumed by the same query.
  *
  * Scale shape (100 TB corpus, unbounded ingest): state is one row per
  * occupied bucket holding its occupant ids — in total `corpus × numBands`
  * longs, the same cardinality as the batch band index, held in the state
  * store (RocksDB-backed at scale) and sharded by bucket key across
  * executors. Per micro-batch work is `delta × numBands` state lookups plus
  * output-proportional pair emission — the banded join's property that
  * candidates, never the O(n²) pair space, bound the cost. A Zipf-hot bucket
  * (the boilerplate hash every shard of a crawl lands in) concentrates pairs
  * on one key, exactly as it concentrates them on one join cell in batch;
  * the mitigation is the same as there — tighter bands or a per-bucket
  * occupancy cap — and belongs to parameter tuning, not the operator.
  */
object IngestStreams {

  final case class BandRow(id: Long, bandIdx: Int, bandHash: String)
  final case class CandidatePair(doc_a: Long, doc_b: Long)

  /** File-source stream over a staged documents directory (footer-inferred
    * schema, same rationale as [[EventStreams.readEvents]]).
    */
  def readDocuments(spark: SparkSession, dir: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val fileSchema = spark.read.parquet(dir).schema
    val reader = spark.readStream.schema(fileSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(dir)
  }

  /** Stateless per-arrival banding: tokenize → shingle → MinHash signature →
    * band hashes, one row per (doc, band), computed in plain JVM code via a
    * typed flatMap. NOT the batch Catalyst forms: the explode+groupBy
    * aggregate would itself become stateful on a stream, and the per-row
    * HOF expression CANNOT be persisted on a stream — projection collapse
    * plus the InferFiltersFromGenerate hazard (see
    * [[MinHashLSH.signatures]]) re-inlines the interpreted signature
    * expression into every consumer (measured: 60 s for a 5k-doc replay at
    * sf0.1, ~20x the whole batch join). Per-arrival imperative hashing is
    * the honest delta-path shape, computes each digest exactly once, and
    * [[bandHashesOf]] is pinned hash-identical to the batch SQL expressions
    * by spec + the oracle equality of the end-to-end pair set.
    */
  def bandRows(docs: DataFrame, idCol: String, textCol: String,
               shingleN: Int, numPerm: Int, numBands: Int): Dataset[BandRow] = {
    require(numPerm % numBands == 0,
      s"numPerm=$numPerm must be divisible by numBands=$numBands or trailing signature positions silently drop from banding")
    require(numPerm % MinHashLSH.LanesPerMd5 == 0,
      s"numPerm=$numPerm must be a multiple of ${MinHashLSH.LanesPerMd5} " +
        "(the batch signature path rejects it too; here trailing lanes would " +
        "silently band as uninitialized values)")
    val rowsPerBand = numPerm / numBands
    val spark = docs.sparkSession
    import spark.implicits._
    // null text drops, matching the batch path (Catalyst null propagation
    // drops null-text docs before the explode) — without the filter one
    // poison row would kill the query and every restart replaying it
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .flatMap { case (id, text) =>
        bandHashesOf(text, shingleN, numPerm, numBands, rowsPerBand)
          .iterator.zipWithIndex.map { case (h, b) => BandRow(id, b, h) }
      }
  }

  /** JVM twin of the batch banding expressions: tokenization is
    * `split(text, " ")` (trailing empties kept, as Spark's `split` keeps
    * them), shingles are the k-token windows with the short-doc whole-text
    * fallback of [[TextAnalysis.shinglesFromTokens]] (duplicates need no
    * dedup — the min is unaffected); signing and banding call the batch
    * kernels' own entry points ([[graft.functions.MinHashSignature]],
    * [[graft.functions.MinHashBands]]) on that shingle array.
    */
  private[streaming] def bandHashesOf(text: String, shingleN: Int, numPerm: Int,
                                      numBands: Int, rowsPerBand: Int): Seq[String] = {
    import org.apache.spark.unsafe.types.UTF8String
    val tk = text.split(" ", -1)
    val shingles =
      if (tk.length >= shingleN)
        (0 to tk.length - shingleN).map(i => tk.slice(i, i + shingleN).mkString(" "))
      else Seq(tk.mkString(" "))
    val sig = graft.functions.MinHashSignature.sign(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        shingles.map(UTF8String.fromString).toArray[Any]), numPerm)
    val bands = graft.functions.MinHashBands.bands(sig, numBands, rowsPerBand)
    (0 until numBands).map(b => bands.getUTF8String(b).toString)
  }

  /** The stateful bucket join: emits each candidate pair at the arrival of
    * its LATER document. Pairs may repeat across bands (two docs agreeing on
    * several bands) and within-batch pairs may repeat across buckets — the
    * same multiplicity the batch band join produces before its `distinct()`;
    * dedup stays with the downstream consumer (the registered query, or at
    * scale the verification join, which is idempotent per pair).
    */
  def lshCandidates(bands: Dataset[BandRow]): Dataset[CandidatePair] = {
    val spark = bands.sparkSession
    import spark.implicits._
    bands.groupByKey(r => (r.bandIdx, r.bandHash))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(emitPairs)
  }

  /** Ingest-time contamination alerts: each arriving document whose word
    * shingles intersect a STATIC eval-suite shingle set emits one alert row
    * — the stream-static form of [[graft.operators.Corpus.contaminatedIds]]
    * that catches eval data the batch it arrives instead of at the next
    * nightly decontamination run. The eval set is a static frame (Spark
    * broadcasts it under the join threshold exactly as in batch); the only
    * state is the streaming `dropDuplicates` on alert ids, bounded by the
    * number of CONTAMINATED documents — in a healthy pipeline, near zero.
    */
  def contaminationAlerts(docs: DataFrame, evalDocs: DataFrame,
                          idCol: String, textCol: String, shingleN: Int): DataFrame = {
    import graft.operators.TextAnalysis.{shinglesFromTokens, tokens}
    val evalShingles = evalDocs
      .withColumn("tk", tokens(col(textCol)))
      .select(explode(shinglesFromTokens(col("tk"), shingleN)).as("shingle"))
      .distinct()
    // spread the arriving batch BEFORE the shingle explode: a single-file
    // microbatch (and the single-file batch fixture) otherwise plans as one
    // partition, so the tokenize→shingle→probe pipeline ran on one core —
    // the whole gap between this twin (~5 s) and contaminatedIds (~0.7 s)
    // in the round-13 decomposition (BASELINE.md, "Heavy streaming twins
    // attributed"). A stateless repartition is legal ahead of the stateful
    // dedup; it moves each arriving doc's text once — bounded by the delta.
    graft.core.Readers.spread(docs.filter(col(textCol).isNotNull), col(idCol))
      .select(col(idCol).cast("long").as("doc_id"),
        explode(shinglesFromTokens(tokens(col(textCol)), shingleN)).as("shingle"))
      .join(broadcast(evalShingles), Seq("shingle"), "left_semi")
      .select(col("doc_id"))
      .dropDuplicates("doc_id")
  }

  /** Continuous per-source corpus quality: running (docs, tokens, summed
    * quality in integer micro-units) per source — the ingest-side monitor
    * that catches a source going bad (a crawler regression, a spam wave)
    * BATCHES after it starts, not at the next nightly job. State is one
    * counter row per source forever (complete-mode aggregate); quality is
    * floored to micro-units per document BEFORE summation so the running sum
    * is exact integer arithmetic — batch boundaries cannot perturb it, and
    * the drained table equals the batch aggregate bit for bit.
    */
  def runningSourceQuality(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val tk = graft.operators.TextAnalysis.tokens(col(textCol))
    val qMicro = floor(graft.operators.TextAnalysis.qualityScore(tk) * 1000000).cast("long")
    docs
      .select(col(srcCol).as("source"), size(tk).cast("long").as("n_tok"), qMicro.as("qm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("qm")).as("quality_sum_micro"))
  }

  /** Shared batch/stream oracle of [[runningSourceQuality]]. */
  def duckSourceQuality(srcCol: String, textCol: String): String = {
    val tk = graft.operators.TextAnalysis.duckTokens(textCol)
    val q = graft.operators.TextAnalysis.duckQualityScore("tk")
    s"""WITH toks AS (SELECT $srcCol AS source, $tk AS tk FROM documents)
       SELECT source, count(*) AS n_docs,
              CAST(sum(len(tk)) AS BIGINT) AS n_tokens,
              CAST(sum(CAST(floor(($q) * 1000000) AS BIGINT)) AS BIGINT)
                AS quality_sum_micro
       FROM toks GROUP BY source ORDER BY source"""
  }

  final case class ChunkRow(doc_id: Long, ch: String, clen: Long)
  final case class ChunkFirst(ch: String, clen: Long, first_doc: Long)

  /** Continuous chunk-store index: arriving documents chunk STATELESSLY per
    * row (the whole-row [[graft.operators.Cdc.chunkStructsFromEnds]]
    * expression over the rolling kernel — no per-doc window, which would be
    * stateful on a stream), then each chunk hash keys one Boolean of
    * flatMapGroupsWithState state. A hash's FIRST arrival emits one
    * (ch, clen, first_doc) row — the exactly-once "new bytes" feed a chunk
    * store ingests; repeat arrivals emit nothing. State is one bit per
    * DISTINCT chunk — precisely the index a content-addressed store keeps
    * anyway; replayed over the fixture the emitted set equals the batch
    * chunk table's per-hash (min doc, len) rows.
    */
  def cdcChunkIndex(docs: DataFrame, idCol: String, textCol: String,
                    window: Int, divisor: Int): Dataset[ChunkFirst] = {
    import graft.operators.Cdc
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(length(col(textCol)) > 0)
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__t"),
        Cdc.chunkEnds(col(textCol), window, divisor).as("__ends"))
      .select(col("doc_id"),
        explode(Cdc.chunkStructsFromEnds(col("__t"), col("__ends"))).as("c"))
      .select(col("doc_id"), col("c.ch").as("ch"), col("c.clen").as("clen"))
      .as[ChunkRow]
      .groupByKey(_.ch)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(emitFirstChunk)
  }

  private def emitFirstChunk(key: String, rows: Iterator[ChunkRow],
                             state: GroupState[Boolean]): Iterator[ChunkFirst] =
    if (state.exists) Iterator.empty
    else {
      state.update(true)
      val rs = rows.toArray
      Iterator.single(ChunkFirst(key, rs.head.clen, rs.iterator.map(_.doc_id).min))
    }

  private def emitPairs(key: (Int, String), rows: Iterator[BandRow],
                        state: GroupState[List[Long]]): Iterator[CandidatePair] = {
    val existing = state.getOption.getOrElse(Nil)
    // sort for deterministic emission order; distinct because a doc can land
    // in the same bucket only once per band but replays must stay idempotent
    val fresh = rows.map(_.id).toArray.distinct.sorted
    state.update(existing ++ fresh.toList)
    val cross = for {
      n <- fresh.iterator
      o <- existing.iterator if o != n
    } yield CandidatePair(math.min(o, n), math.max(o, n))
    val within = for {
      i <- fresh.indices.iterator
      j <- (i + 1 until fresh.length).iterator
    } yield CandidatePair(fresh(i), fresh(j))
    cross ++ within
  }
}
