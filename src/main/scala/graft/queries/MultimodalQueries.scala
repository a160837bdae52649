package graft.queries

import org.apache.spark.sql.functions._

import graft.QueryEntry
import graft.core.Readers
import graft.operators.Multimodal

/** Multimodal binary-column operators. Fixture media is synthesized as
  * `unhex(md5(text))` (16 opaque bytes per document) so both engines derive
  * identical binaries; the decode stage itself is a marked stub
  * ([[Multimodal.decodeStub]]) with real Spark plumbing around it.
  */
object MultimodalQueries {

  val entries: Seq[(String, QueryEntry)] = Seq(

    // batch decode + feature extraction via mapPartitions over binary column
    "mm_meta" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.fixture(spark, sfDir, "documents")
          .select(col("doc_id"), unhex(md5(col("text"))).as("img"))
        // serialize the feature vector at the query boundary: the driver's
        // comparator sorts result cells and can't hash raw arrays
        Multimodal.extractMeta(docs, "doc_id", "img")
          .withColumn("feat", array_join(col("feat").cast("array<string>"), ","))
          .orderBy("doc_id")
      },
      oracle = Some(Multimodal.duckMetaSql("documents", "doc_id"))),

    // per-frame video sampling through the decoder seam: every-2nd frame of
    // each "container" becomes one row (the frame-level training table) —
    // mapPartitions decode, no shuffle, output divided by the stride
    "mm_framesample" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.fixture(spark, sfDir, "documents")
          .select(col("doc_id"), unhex(md5(col("text"))).as("vid"))
        Multimodal.sampleFrames(docs, "doc_id", "vid", everyN = 2)
          .withColumn("feat", array_join(col("feat").cast("array<string>"), ","))
          .orderBy("doc_id", "frame_idx")
      },
      oracle = Some(Multimodal.duckFrameSample("documents", "doc_id", everyN = 2))),

    // windowed audio energy (hop stride 4, window 6 over the 16-byte
    // payloads): per-window sum of squared centered samples — the
    // silence/voice-detection feature, byte-as-sample stub decode with the
    // real per-window plumbing
    "mm_audio_energy" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.fixture(spark, sfDir, "documents")
          .select(col("doc_id"), unhex(md5(col("text"))).as("pcm"))
        Multimodal.audioEnergy(docs, "doc_id", "pcm", width = 6, stride = 4)
          .orderBy("doc_id", "window_idx")
      },
      oracle = Some(Multimodal.duckAudioEnergy("documents", "doc_id",
        width = 6, stride = 4))),

    // video scene-change detection: consecutive-frame feature deltas per
    // clip (L1 over the 4-lane stub features), cuts counted above a fixed
    // threshold — the shot-boundary primitive that decides which frames
    // deserve expensive per-frame models. The frame walk is the same
    // shuffle-free mapPartitions decode as mm_framesample; the delta is a
    // narrow per-clip window ordered by frame index (frames per clip bound
    // the partition, not corpus size)
    "mm_scene_changes" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.fixture(spark, sfDir, "documents")
          .select(col("doc_id"), unhex(md5(col("text"))).as("vid"))
        val frames = Multimodal.sampleFrames(docs, "doc_id", "vid", everyN = 1)
        val byClip = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
        frames
          .withColumn("prev", lag(col("feat"), 1).over(byClip))
          .withColumn("delta",
            when(col("prev").isNull, lit(null))
              .otherwise(aggregate(zip_with(col("feat"), col("prev"),
                (a, b) => abs(a - b)), lit(0L), (acc, x) => acc + x)))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_frames"),
            sum(when(col("delta") > 100L, 1L).otherwise(0L)).as("n_cuts"),
            coalesce(max(col("delta")), lit(0L)).as("max_delta"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH hx AS (SELECT doc_id, md5(text) AS h FROM documents),
        meta AS (SELECT doc_id, h,
                   2 + CAST('0x' || substr(h, 7, 2) AS UBIGINT) % 6 AS nf FROM hx),
        fr AS (SELECT doc_id, h,
                      unnest(generate_series(0, CAST(nf - 1 AS INTEGER))) AS f
               FROM meta),
        feats AS (SELECT doc_id, f,
                    list_transform(generate_series(0, 3), l ->
                      CAST(list_sum(list_transform(generate_series(0, 3), m ->
                        (CAST('0x' || substr(h, 2*(4*m + l) + 1, 2) AS UBIGINT) + 7*f) % 256))
                        AS BIGINT)) AS feat
                  FROM fr),
        deltas AS (SELECT doc_id, f, feat,
                     lag(feat) OVER (PARTITION BY doc_id ORDER BY f) AS prev
                   FROM feats),
        d2 AS (SELECT doc_id,
                 CASE WHEN prev IS NULL THEN NULL
                      ELSE list_sum(list_transform(generate_series(1, 4),
                             i -> abs(feat[i] - prev[i]))) END AS delta
               FROM deltas)
        SELECT doc_id, count(*) AS n_frames,
               CAST(sum(CASE WHEN delta > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
               CAST(coalesce(max(delta), 0) AS BIGINT) AS max_delta
        FROM d2 GROUP BY doc_id ORDER BY doc_id""")),

    // audio fingerprint matching: (window, energy-band) landmarks joined
    // through the landmark inverted index, pairs kept at >= 3 shared of 4
    // (see operators/Multimodal.audioFingerprintPairs — candidate
    // generation is landmark-bucket-local, never clip x clip). Identical
    // payloads land at n_shared = 4 (pinned by spec on planted dups);
    // 3-of-4 survivors on the pseudorandom fixture payloads are the
    // documented collision floor of the deliberately small landmark space
    // (4 windows x 64 bands here — production widens both)
    "mm_audio_fingerprint" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.fixture(spark, sfDir, "documents")
          .select(col("doc_id"), unhex(md5(col("text"))).as("pcm"))
        Multimodal.audioFingerprintPairs(docs, "doc_id", "pcm",
            width = 6, stride = 4, bandDiv = 1024L, minShared = 3)
          .orderBy("doc_a", "doc_b")
      },
      oracle = Some(Multimodal.duckAudioFingerprintPairs("documents", "doc_id",
        width = 6, stride = 4, bandDiv = 1024L, minShared = 3) +
        "\nORDER BY doc_a, doc_b")),

    // pHash-style near-dup over decoder features: stub-decode → 64-bit
    // rank-hash → SimHash chunk-banded hamming pairs (exact for <= 3 by
    // pigeonhole). Media bytes are the 32-char text prefix so the planted
    // near-dup documents produce genuinely near features (md5-derived bytes
    // would be pseudorandom and pair nothing)
    "mm_phash_pairs" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.fixture(spark, sfDir, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 32).cast("binary").as("img"))
        val ph = Multimodal.extractMeta(docs, "doc_id", "img")
          .select(col("doc_id").as("id"), Multimodal.phash(col("feat")).as("ph"))
        graft.operators.SimHash.nearPairs(ph, "id", "ph")
          .orderBy("doc_a", "doc_b")
      },
      oracle = Some(Multimodal.duckPhashPairs("documents", "doc_id", "text",
        maxHamming = graft.operators.SimHash.MaxHamming))),

    // video near-dup matching: clip pairs sharing >= 2 DISTINCT frame
    // signatures through the signature inverted index — never clip x clip,
    // temporally shift-tolerant (frame index is not in the key). On the
    // stub-decoded fixture only BYTE-identical payloads produce matching
    // frames; sf0.01 has none (the oracle-gated empty set is the correct
    // answer there — the text_pii_scan convention), sf0.1 has 8. Positive
    // behavior and the incremental equivalence are OperatorSpec-pinned on
    // planted clips; production swaps the decoder
    "mm_video_neardup" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.fixture(spark, sfDir, "documents")
          .select(col("doc_id"), unhex(md5(col("text"))).as("vid"))
        Multimodal.videoNearDupPairs(docs, "doc_id", "vid",
            everyN = 1, minShared = 2)
          .orderBy("doc_a", "doc_b")
      },
      oracle = Some(Multimodal.duckVideoNearDupPairs("documents", "doc_id",
        minShared = 2) + "\nORDER BY doc_a, doc_b")),

    // ...and its ingest twin: delta clips decoded and probed against a
    // PERSISTED frame-signature index (writeFrameSigIndex/readFrameSigIndex
    // with the sampling-stride guard). Shared-distinct-signature counts
    // depend only on the clip pair, so the oracle is the full matcher
    // restricted to delta-touching pairs
    "mm_video_incremental" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.fixture(spark, sfDir, "documents")
          .select(col("doc_id"), unhex(md5(col("text"))).as("vid"))
        val isDelta = col("doc_id") % 10 === 9
        val path = java.nio.file.Files
          .createTempDirectory("graft-vsig-idx").resolve("i").toString
        Multimodal.writeFrameSigIndex(
          Multimodal.videoFrameSigs(docs.filter(!isDelta), "doc_id", "vid", 1),
          everyN = 1, path)
        Multimodal.videoNearDupIncremental(docs.filter(isDelta),
            Multimodal.readFrameSigIndex(spark, path, expectEveryN = 1),
            "doc_id", "vid", everyN = 1, minShared = 2)
          .orderBy("doc_a", "doc_b")
      },
      oracle = Some {
        val inner = Multimodal.duckVideoNearDupPairs("documents", "doc_id",
          minShared = 2)
        s"""WITH vp AS ($inner)
           SELECT doc_a, doc_b, n_shared FROM vp
           WHERE doc_a % 10 = 9 OR doc_b % 10 = 9
           ORDER BY doc_a, doc_b"""
      }),

    // ingest-time audio matcher: the 10% delta's clips are landmarked and
    // probed against a PERSISTED landmark index of the 90% corpus
    // (writeLandmarkIndex/readLandmarkIndex with the quantization guard) —
    // the corpus audio is never re-decoded. n_shared depends only on the
    // two clips, so the output is exactly the full mm_audio_fingerprint
    // set restricted to delta-touching pairs, which is the oracle
    "mm_audio_incremental" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.fixture(spark, sfDir, "documents")
          .select(col("doc_id"), unhex(md5(col("text"))).as("pcm"))
        val isDelta = col("doc_id") % 10 === 9
        val idxLm = Multimodal.audioLandmarks(docs.filter(!isDelta),
          "doc_id", "pcm", width = 6, stride = 4, bandDiv = 1024L)
        val path = java.nio.file.Files
          .createTempDirectory("graft-lm-idx").resolve("i").toString
        Multimodal.writeLandmarkIndex(idxLm, 6, 4, 1024L, path)
        Multimodal.audioFingerprintIncremental(docs.filter(isDelta),
            Multimodal.readLandmarkIndex(spark, path, 6, 4, 1024L),
            "doc_id", "pcm", width = 6, stride = 4, bandDiv = 1024L,
            minShared = 3)
          .orderBy("doc_a", "doc_b")
      },
      oracle = Some {
        val inner = Multimodal.duckAudioFingerprintPairs("documents", "doc_id",
          width = 6, stride = 4, bandDiv = 1024L, minShared = 3)
        s"""WITH ap AS ($inner)
           SELECT doc_a, doc_b, n_shared FROM ap
           WHERE doc_a % 10 = 9 OR doc_b % 10 = 9
           ORDER BY doc_a, doc_b"""
      }),

    // ingest-time image near-dup screen: the 10% delta's pHashes are
    // checked against a PERSISTED hash index of the 90% corpus
    // (writeHashIndex/readHashIndex with the banding-parameter guard) —
    // the corpus images are never re-decoded, O(delta + index) per
    // ingest. Pigeonhole equality makes the output exactly the full
    // mm_phash_pairs set restricted to pairs touching a delta image, which
    // is the oracle (the dedup_paragraph_incremental convention)
    "mm_phash_incremental" -> QueryEntry(
      fn = (spark, sfDir) => {
        import graft.operators.SimHash
        val docs = Readers.fixture(spark, sfDir, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 32).cast("binary").as("img"))
        val isDelta = col("doc_id") % 10 === 9
        val corpusPh = Multimodal.extractMeta(docs.filter(!isDelta), "doc_id", "img")
          .select(col("doc_id").as("id"), Multimodal.phash(col("feat")).as("ph"))
        val path = java.nio.file.Files
          .createTempDirectory("graft-phash-idx").resolve("i").toString
        SimHash.writeHashIndex(corpusPh, "id", "ph", path)
        val deltaPh = Multimodal.extractMeta(docs.filter(isDelta), "doc_id", "img")
          .select(col("doc_id").as("id"), Multimodal.phash(col("feat")).as("ph"))
        SimHash.incrementalNearPairs(deltaPh,
            SimHash.readHashIndex(spark, path).withColumnRenamed("sh", "ph"),
            "id", "ph")
          .orderBy("doc_a", "doc_b")
      },
      oracle = Some {
        val inner = Multimodal.duckPhashPairs("documents", "doc_id", "text",
          maxHamming = graft.operators.SimHash.MaxHamming)
        s"""WITH p AS ($inner)
           SELECT doc_a, doc_b, hamming FROM p
           WHERE doc_a % 10 = 9 OR doc_b % 10 = 9
           ORDER BY doc_a, doc_b"""
      }),

    // pHash hamming tuning curve: image near-pairs per hamming distance
    // with the cumulative at-or-under count — the image-side sibling of
    // dedup_hamming_curve (pick the pHash match threshold from the cliff);
    // ≤ MaxHamming+1 rows out of the pigeonhole-banded pair generation
    "mm_phash_curve" -> QueryEntry(
      fn = (spark, sfDir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Readers.fixture(spark, sfDir, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 32).cast("binary").as("img"))
        val ph = Multimodal.extractMeta(docs, "doc_id", "img")
          .select(col("doc_id").as("id"), Multimodal.phash(col("feat")).as("ph"))
        val pairs = graft.operators.SimHash.nearPairs(ph, "id", "ph")
        val w = Window.orderBy(col("hamming").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pairs.groupBy(col("hamming")).agg(count(lit(1)).as("n_pairs"))
          .withColumn("cum_pairs_at_or_under", sum(col("n_pairs")).over(w))
          .orderBy("hamming")
      },
      oracle = Some {
        val inner = Multimodal.duckPhashPairs("documents", "doc_id", "text",
          maxHamming = graft.operators.SimHash.MaxHamming)
        s"""WITH p AS ($inner),
           g AS (SELECT hamming, count(*) AS n_pairs FROM p GROUP BY hamming)
           SELECT hamming, n_pairs,
                  CAST(sum(n_pairs) OVER (ORDER BY hamming ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                    AS cum_pairs_at_or_under
           FROM g ORDER BY hamming"""
      }),

    // end-to-end image near-dup GROUPS: the pHash hamming pairs closed into
    // connected components — what an image dedup actually ships (keep one
    // representative per cluster), composing the multimodal feature path
    // with the same size-aware clustering the text dedup family uses.
    // Pair volume stays banded (SimHash pigeonhole buckets, never all-pairs)
    "mm_phash_clusters" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.fixture(spark, sfDir, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 32).cast("binary").as("img"))
        val ph = Multimodal.extractMeta(docs, "doc_id", "img")
          .select(col("doc_id").as("id"), Multimodal.phash(col("feat")).as("ph"))
        val pairs = graft.operators.SimHash.nearPairs(ph, "id", "ph")
          .select(col("doc_a"), col("doc_b"))
        graft.operators.DedupClusters.components(pairs).orderBy("doc_id")
      },
      oracle = Some(graft.operators.DedupClusters.duckComponents(
        s"""SELECT doc_a, doc_b FROM (${Multimodal.duckPhashPairs(
            "documents", "doc_id", "text",
            maxHamming = graft.operators.SimHash.MaxHamming)}) AS pp"""))),

    // resize + frame-sample, expression path (hex-pair parsing via conv):
    // aspect-preserving resize to max dim 64, every-4th-byte "frame" sample
    "mm_transform" -> QueryEntry(
      fn = (spark, sfDir) => {
        val docs = Readers.fixture(spark, sfDir, "documents")
          .select(col("doc_id"), unhex(md5(col("text"))).as("img"))
        val hx = lower(hex(col("img")))
        // byte i (1-based) = hex chars (2i-1, 2i)
        def b(i: Int) = conv(hx.substr(lit(2 * i - 1), lit(2)), 16, 10).cast("long")
        val width = lit(32L) + b(1) % 224
        val height = lit(32L) + b(2) % 224
        val scale = lit(64.0) / greatest(width, height).cast("double")
        docs.select(
          col("doc_id"),
          width.as("width"), height.as("height"),
          floor(width.cast("double") * scale).cast("long").as("resized_w"),
          floor(height.cast("double") * scale).cast("long").as("resized_h"),
          array_join(transform(sequence(lit(1), lit(16), lit(4)),
            i => conv(hx.substr(i * 2 - 1, lit(2)), 16, 10).cast("string")), ",")
            .as("frame_sample")
        ).orderBy("doc_id")
      },
      oracle = Some {
        val b = (i: Int) => s"CAST(CAST('0x' || substr(h, ${2 * i - 1}, 2) AS UBIGINT) AS BIGINT)"
        s"""WITH hx AS (SELECT doc_id, md5(text) AS h FROM documents),
           dims AS (SELECT doc_id, h, 32 + ${b(1)} % 224 AS width, 32 + ${b(2)} % 224 AS height FROM hx)
           SELECT doc_id, CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
                  CAST(floor(width * (64.0 / greatest(width, height))) AS BIGINT) AS resized_w,
                  CAST(floor(height * (64.0 / greatest(width, height))) AS BIGINT) AS resized_h,
                  array_to_string(list_transform(generate_series(1, 16, 4), i ->
                    CAST(CAST('0x' || substr(h, 2*i - 1, 2) AS UBIGINT) AS BIGINT)), ',') AS frame_sample
           FROM dims ORDER BY doc_id"""
      })
  )
}
