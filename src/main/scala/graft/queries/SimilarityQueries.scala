package graft.queries

import scala.util.chaining._

import org.apache.spark.sql.functions._

import graft.QueryEntry
import graft.core.Readers
import graft.operators.Similarity

/** Similarity search over the `embeddings` fixture: exact brute-force cosine
  * top-k (baseline) and the random-hyperplane LSH bucketed ANN (scale path).
  */
object SimilarityQueries {

  private val K = 10
  private val NumPlanes = 8
  // family parameters live on SimilarityStaging so the staged structures
  // and the oracle strings here can never disagree
  private val Dims = SimilarityStaging.Dims
  // 32 sketch dims (2× reduction): measured mean recall@10 via the
  // shortlist-5K rerank is 0.55 at sf0.01 — above both LSH (0.33) and IVF
  // (0.41) on the same hard fixture; 16 dims measured 0.38
  private lazy val jlSigns = SimilarityStaging.jlSigns
  private val NumCentroids = SimilarityStaging.SampledCentroids
  // IVF queries probe their 4 nearest cells (of 20): 4× the single-cell
  // candidate scan for the recall measured by sim_ann_recall's floor gate
  private val Nprobe = 4
  private lazy val planeMatrix = Similarity.planes(NumPlanes, Dims)

  /** File-source streams need a directory; stage the embeddings fixture
    * once per sfDir (the rawDocsDir pattern from DedupQueries).
    */
  private val rawEmbMemo = new graft.core.Staging[String](
    sessionScoped = false)({ (_, sfDir) =>
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val dir = Files.createTempDirectory("graft-embraw")
      Files.copy(Paths.get(s"$sfDir/embeddings.parquet"), dir.resolve("embeddings.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      dir.toString
    })
  private[graft] def rawEmbDir(sfDir: String): String = rawEmbMemo(sfDir)

  /** Shared oracle for sim_topk AND the ground-truth side of sim_ann_recall —
    * one string so recall is measured against exactly the gated baseline.
    * (Parameterized by k so the MMR shortlist reuses the identical text.)
    */
  private def topkOracle(k: Int) =
    s"""SELECT query_id, neighbor_id, cos_micro, rank FROM (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                ${Similarity.duckCosineScaled("q.embedding", "n.embedding")} AS cos_micro,
                CAST(row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY ${Similarity.duckCosineScaled("q.embedding", "n.embedding")} DESC,
                           n.vec_id ASC) AS BIGINT) AS rank
         FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
         WHERE q.vec_id < 8) AS t
       WHERE rank <= $k ORDER BY query_id, rank"""
  private lazy val TopkOracle = topkOracle(K)

  /** Shared oracle for sim_ann_lsh and sim_ann_recall's LSH side — the
    * multi-probe formulation: each query probes every bucket within the same
    * hamming radius as [[Similarity.annTopK]], from the same mask list.
    */
  private lazy val AnnLshOracle = {
    val bucket = Similarity.duckLshBucket("embedding", planeMatrix)
    val probeList = Similarity.probeMasks(NumPlanes, radius = 2)
      .map(m => s"xor(bucket, CAST($m AS BIGINT))").mkString(", ")
    s"""WITH b AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
         qp AS (SELECT vec_id, embedding, unnest([$probeList]) AS bucket
                FROM b WHERE vec_id < 8)
       SELECT query_id, neighbor_id, cos_micro, rank FROM (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                ${Similarity.duckCosineScaled("q.embedding", "n.embedding")} AS cos_micro,
                CAST(row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY ${Similarity.duckCosineScaled("q.embedding", "n.embedding")} DESC,
                           n.vec_id ASC) AS BIGINT) AS rank
         FROM qp q JOIN b n ON q.bucket = n.bucket AND n.vec_id <> q.vec_id) AS t
       WHERE rank <= $K ORDER BY query_id, rank"""
  }

  /** recall@k of one approximate result against the exact top-k: hits =
    * |approx ∩ exact| per query (left-semi join on the pair), queries with
    * zero hits kept via the exact query list. Integer micro-units.
    */
  private def recallOf(exact: org.apache.spark.sql.DataFrame,
                       approx: org.apache.spark.sql.DataFrame,
                       method: String): org.apache.spark.sql.DataFrame = {
    val hits = exact.select("query_id", "neighbor_id")
      .join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"), lit(method).as("method"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr(s"(1000000 * coalesce(n_hits, 0)) div $K").as("recall_micro"))
  }

  val entries: Seq[(String, QueryEntry)] = Seq(

    // exact top-k: broadcast queries × full scan, bounded-heap rank per
    // query — sliced from the ONE staged widest exact ranking
    // (SimilarityStaging.exactTopK; ten consumers share the scan)
    "sim_topk" -> QueryEntry(
      fn = (spark, sfDir) =>
        SimilarityStaging.exactTopK(spark, sfDir, K, queryBound = 8)
          .select("query_id", "neighbor_id", "cos_micro", "rank")
          .orderBy("query_id", "rank"),
      oracle = Some(TopkOracle)),

    // IVF coarse quantization: fixed-k deterministic centroid sample (size
    // independent of n), nearest-cell assignment, nprobe-cell search — the
    // clustered ANN scale path; the ranked assignment is the staged
    // 20-cell index frame, built once per fixture dir
    "sim_ivf" -> QueryEntry(
      fn = (spark, sfDir) =>
        Similarity.searchRanked(SimilarityStaging.rankedSampled(spark, sfDir),
            col("vec_id") < 8, K, Nprobe)
          .select("query_id", "neighbor_id", "cos_micro", "rank"),
      oracle = Some(Similarity.duckIvfTopK(K, NumCentroids, "q.vec_id < 8", Nprobe))),

    // in-engine k-means training (2 unrolled Lloyd iterations): the trainer
    // for IVF centroids — deterministic hash init, floor-scaled cosine
    // assignment, ordered-fold means for cross-engine bit parity. The
    // centroids and final assignment come from the staged trainer
    // (SimilarityStaging — four queries shared this exact training run)
    "sim_kmeans" -> QueryEntry(
      fn = (spark, sfDir) => graft.operators.KMeans.summaryFromAssigned(
        SimilarityStaging.centroids(spark, sfDir),
        SimilarityStaging.assignTrained(spark, sfDir)),
      oracle = Some(graft.operators.KMeans.duckSummary(k = 8, iters = 2, dims = Dims))),

    // train → assign → probe, end to end: IVF search over the k-means-trained
    // centroids instead of the deterministic sample — the full clustered-index
    // story inside the engine
    // embedding-distribution drift via cluster occupancy: train k-means on
    // the full corpus (deterministic integer pipeline), split vectors by id
    // parity (the stand-in for before/after batches), and compare each
    // cluster's occupancy share between halves in micro units. The
    // embedding-space twin of ev_psi_weekly: a new scrape that lands in
    // different clusters moves shares even when counts look flat. Scale
    // shape: one assignment pass (broadcast centroid list) + a k-row
    // aggregate; shares via window over the k-row frame.
    "sim_cluster_drift" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cells = SimilarityStaging.assignTrained(spark, sfDir)
          .select(col("cent_id"), pmod(col("vec_id"), lit(2)).as("half"))
          .groupBy("cent_id")
          .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_a"),
            sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_b"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy()
        cells
          .withColumn("ta", sum(col("n_a")).over(w))
          .withColumn("tb", sum(col("n_b")).over(w))
          .select(col("cent_id"), col("n_a"), col("n_b"),
            expr("n_a * 1000000 div ta").as("share_a_micro"),
            expr("n_b * 1000000 div tb").as("share_b_micro"),
            expr("abs(n_a * 1000000 div ta - n_b * 1000000 div tb)").as("drift_micro"))
          .orderBy("cent_id")
      },
      oracle = Some {
        val (ctes, last) = graft.operators.KMeans.duckTrainCtes(8, 2, Dims)
        s"""WITH $ctes,
           assigned AS ${graft.operators.KMeans.duckAssign(last)},
           cells AS (SELECT cent_id,
                            CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                            CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
                     FROM assigned GROUP BY cent_id),
           tot AS (SELECT cent_id, n_a, n_b,
                          CAST(sum(n_a) OVER () AS BIGINT) AS ta,
                          CAST(sum(n_b) OVER () AS BIGINT) AS tb
                   FROM cells)
           SELECT cent_id, n_a, n_b,
                  n_a * 1000000 // ta AS share_a_micro,
                  n_b * 1000000 // tb AS share_b_micro,
                  abs(n_a * 1000000 // ta - n_b * 1000000 // tb) AS drift_micro
           FROM tot ORDER BY cent_id"""
      }),

    "sim_ivf_kmeans" -> QueryEntry(
      fn = (spark, sfDir) =>
        Similarity.searchRanked(SimilarityStaging.rankedTrained(spark, sfDir),
            col("vec_id") < 8, K, nprobe = 2)
          .select("query_id", "neighbor_id", "cos_micro", "rank"),
      oracle = Some {
        val (ctes, last) = graft.operators.KMeans.duckTrainCtes(8, 2, Dims)
        val cos = Similarity.duckCosineScaled("v.embedding", "c.cv")
        s"""WITH $ctes,
           ranked AS (SELECT vec_id, embedding, cent_id, rn FROM (
             SELECT v.vec_id, v.embedding, c.cent_id,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY $cos DESC, c.cent_id ASC) AS rn
             FROM embeddings v CROSS JOIN $last c) AS t WHERE rn <= 2)
           SELECT query_id, neighbor_id, cos_micro, rank FROM (
             SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                    ${Similarity.duckCosineScaled("q.embedding", "n.embedding")} AS cos_micro,
                    CAST(row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY ${Similarity.duckCosineScaled("q.embedding", "n.embedding")} DESC,
                               n.vec_id ASC) AS BIGINT) AS rank
             FROM ranked q JOIN ranked n
               ON q.cent_id = n.cent_id AND n.vec_id <> q.vec_id AND n.rn = 1
             WHERE q.vec_id < 8) AS t
           WHERE rank <= $K ORDER BY query_id, rank"""
      }),

    // persisted-index incremental ANN — the retrieval-side twin of
    // dedup_incremental: the corpus (vec_id % 10 != 9) is trained and
    // indexed ONCE (centroids + home-cell assignments, the frames
    // writeIvfIndex/readIvfIndex persist with a parameter guard —
    // round-trip + guard spec'd in OperatorSpec); the new batch
    // (vec_id % 10 = 9) probes its nprobe nearest cells WITHOUT retraining
    // or touching corpus embeddings beyond the probed cells. Per ingest:
    // O(delta·k) assignment + cell-bounded probe join — never O(corpus·k)
    "sim_ivf_incremental" -> QueryEntry(
      fn = (spark, sfDir) => {
        val e = Readers.fixture(spark, sfDir, "embeddings")
        val isNew = col("vec_id") % 10 === 9
        val corpus = e.filter(!isNew)
        val cent = graft.operators.KMeans.train(corpus, k = 8, iters = 2)
        val idx = Similarity.assignRanked(corpus, cent).filter(col("rn") === 1)
          .select(col("vec_id"), col("embedding"), col("cent_id"))
        Similarity.ivfIncrementalTopK(e.filter(isNew), idx, cent, K, nprobe = 2)
          .select("query_id", "neighbor_id", "cos_micro", "rank")
      },
      oracle = Some {
        val (ctes, last) = graft.operators.KMeans.duckTrainCtes(8, 2, Dims, source = "corpus")
        val cos = Similarity.duckCosineScaled("v.embedding", "c.cv")
        s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 9),
           $ctes,
           idx AS ${graft.operators.KMeans.duckAssign(last, "corpus")},
           newb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 9),
           probe AS (SELECT vec_id, embedding, cent_id FROM (
             SELECT v.vec_id, v.embedding, c.cent_id,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY $cos DESC, c.cent_id ASC) AS rn
             FROM newb v CROSS JOIN $last c) AS t WHERE rn <= 2)
           SELECT query_id, neighbor_id, cos_micro, rank FROM (
             SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                    ${Similarity.duckCosineScaled("q.embedding", "n.embedding")} AS cos_micro,
                    CAST(row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY ${Similarity.duckCosineScaled("q.embedding", "n.embedding")} DESC,
                               n.vec_id ASC) AS BIGINT) AS rank
             FROM probe q JOIN idx n ON q.cent_id = n.cent_id) AS t
           WHERE rank <= $K ORDER BY query_id, rank"""
      }),

    // cluster-balanced (density-flattening) sampling: per trained cluster
    // keep isqrt(|cluster|) members — dense regions contribute relatively
    // FEWER of their members while rare modes keep coverage, the diversity
    // selection a uniform sample can't give (it mirrors density). Member
    // choice is the deterministic md5-of-id order (reproducible, engine-
    // neutral, and unbiased w.r.t. content). 100 TB: assignment broadcasts
    // the centroid list; per-cluster selection is the same bounded-heap
    // top-k shape as every other top-k here (k rows of state per cluster)
    "sim_cluster_sample" -> QueryEntry(
      fn = (spark, sfDir) => {
        import org.apache.spark.sql.expressions.Window
        val assigned = SimilarityStaging.assignTrained(spark, sfDir)
        val sizes = assigned.groupBy(col("cent_id"))
          .agg(count(lit(1)).as("n_members"))
          .withColumn("quota", expr(graft.operators.Corpus.isqrtSql("n_members")))
        val ranked = assigned.withColumn("srn", row_number().over(
          Window.partitionBy(col("cent_id"))
            .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))))
        ranked.join(broadcast(sizes), "cent_id")
          .filter(col("srn") <= col("quota"))
          .select(col("vec_id"), col("cent_id"), col("n_members"), col("quota"))
          .orderBy("vec_id")
      },
      oracle = Some {
        val (ctes, last) = graft.operators.KMeans.duckTrainCtes(8, 2, Dims)
        val quota = graft.operators.Corpus.isqrtSql("s.n_members")
        s"""WITH $ctes,
             asg AS ${graft.operators.KMeans.duckAssign(last)},
             sizes AS (SELECT cent_id, count(*) AS n_members FROM asg GROUP BY cent_id),
             ranked AS (SELECT vec_id, cent_id,
                               row_number() OVER (PARTITION BY cent_id
                                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn
                        FROM asg)
           SELECT r.vec_id, r.cent_id, s.n_members, $quota AS quota
           FROM ranked r JOIN sizes s USING (cent_id)
           WHERE r.srn <= $quota
           ORDER BY r.vec_id"""
      }),

    // cross-modal dedup cross-check: embedding cosine for every TEXT-LSH
    // candidate pair (documents and embeddings share ids) — the agreement
    // signal curation uses to decide whether text near-dups are also
    // semantic near-dups. Candidates come from the text pipeline; only the
    // (tiny) pair set joins the vector table, keyed by id
    "sim_text_crosscheck" -> QueryEntry(
      fn = (spark, sfDir) => {
        val pairs = DedupStaging.candidatePairs(spark, sfDir)
          .select("doc_a", "doc_b")
        val e = Readers.fixture(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            Similarity.norm(col("embedding")).as("nrm"))
        pairs
          .join(e.select(col("vec_id").as("doc_a"), col("embedding").as("va"),
            col("nrm").as("na")), "doc_a")
          .join(e.select(col("vec_id").as("doc_b"), col("embedding").as("vb"),
            col("nrm").as("nb")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            Similarity.cosineScaledWithNorms(col("va"), col("vb"), col("na"), col("nb"))
              .as("cos_micro"))
          .orderBy("doc_a", "doc_b")
      },
      oracle = Some {
        import graft.operators.MinHashLSH
        s"""WITH cand AS (SELECT doc_a, doc_b FROM (${MinHashLSH.duckCandidatePairs(
              "documents", "doc_id", "text", 3, 16, 4)}) AS c)
           SELECT doc_a, doc_b,
                  ${Similarity.duckCosineScaled("a.embedding", "b.embedding")} AS cos_micro
           FROM cand JOIN embeddings a ON a.vec_id = cand.doc_a
                     JOIN embeddings b ON b.vec_id = cand.doc_b
           ORDER BY doc_a, doc_b"""
      }),

    // hard-negative mining: per query, the most-similar DIFFERENT-label
    // vectors — the wrong-class examples a contrastive trainer batches
    "sim_hard_negatives" -> QueryEntry(
      fn = (spark, sfDir) => {
        val e = Readers.fixture(spark, sfDir, "embeddings")
        Similarity.hardNegatives(e.filter(col("vec_id") < 8), e, K)
          .select("query_id", "neighbor_id", "cos_micro", "rank")
      },
      oracle = Some(Similarity.duckHardNegatives(K, "q.vec_id < 8"))),

    // int8-quantized exact top-k: the memory-bandwidth scale path — 8-bit
    // codes (4× less scan traffic than float32) scored in pure integer
    // arithmetic, so cross-engine parity is exact by construction
    "sim_topk_int8" -> QueryEntry(
      fn = (spark, sfDir) => {
        val e = Readers.fixture(spark, sfDir, "embeddings")
        Similarity.quantizedTopK(e.filter(col("vec_id") < 8), e, K)
          .select("query_id", "neighbor_id", "qdot", "rank")
      },
      oracle = Some(Similarity.duckQuantizedTopK(K, "q.vec_id < 8"))),

    // product quantization + asymmetric distance (Jégou et al.): m=4
    // independent sub-codebooks k-means-trained in-engine, vectors stored as
    // 4 byte-sized codes, queries scored against a broadcast per-query lookup
    // table — the compressed-domain scan that reads 64× less at 100 TB
    "sim_pq_topk" -> QueryEntry(
      fn = (spark, sfDir) => {
        val e = Readers.fixture(spark, sfDir, "embeddings")
        Similarity.pqTopKWithSubs(SimilarityStaging.pqSubs(spark, sfDir),
            e.filter(col("vec_id") < 8), K, Dims / SimilarityStaging.PqM)
          .select("query_id", "neighbor_id", "adc_micro", "rank")
      },
      oracle = Some(Similarity.duckPqTopK("q.vec_id < 8", K, m = 4,
        dims = Dims, codebook = 8, iters = 1))),

    // two-stage retrieval, the production ANN recipe end to end: the PQ-ADC
    // compressed-domain scan nominates a 3k shortlist, then ONLY those pairs
    // are re-scored against the raw float vectors and re-ranked to the final
    // k — the exact math runs on a broadcast-sized pair set (point lookups
    // by id, never a second scan). Quantization can reorder CANDIDATES but
    // not the final ranking: output order is exact-cosine over the shortlist
    // embedding-space density outlier filter: per-vector count of
    // same-coarse-cell neighbors above cosine 0.80; fewer than 2 flags the
    // vector — the CLIP-filtering-style noise screen. Cluster-bounded pair
    // volume (Σ|cell|², never n²), the SemDeDup approximation applied to
    // density instead of dedup
    "sim_density_outliers" -> QueryEntry(
      fn = (spark, sfDir) => Similarity.densityOutliersFromAssigned(
        SimilarityStaging.rankedSampled(spark, sfDir).filter(col("rn") === 1)
          .select(col("vec_id"), col("embedding"), col("cent_id"),
            Similarity.norm(col("embedding")).as("nm")),
        thresholdMicro = 800000L, minNeighbors = 2L)
        .orderBy("vec_id"),
      oracle = Some(Similarity.duckDensityOutliers(
        NumCentroids, thresholdMicro = 800000L, minNeighbors = 2L))),

    // IVF index-health monitor, batch form: per-cell occupancy under the
    // sampled-centroid coarse quantizer, computed by the streaming-safe
    // argmax EXPRESSION (no window) so batch and stream share one
    // assignment path. Occupancy drift after ingest = re-train signal
    "sim_cell_occupancy" -> QueryEntry(
      fn = (spark, sfDir) => {
        val e = Readers.fixture(spark, sfDir, "embeddings")
        Similarity.cellOccupancy(e, SimilarityStaging.cellCentroids(spark, sfDir))
          .orderBy("cell")
      },
      oracle = Some(Similarity.duckCellOccupancy(NumCentroids))),

    // streaming twin: arriving vectors assigned by the SAME expression
    // (stateless per row — a window would be illegal on the stream), cell
    // counts as a complete-mode aggregate whose state is exactly k rows
    // forever. The online half of the monitor: batch says what the index
    // looked like at train time, the stream says what ingest is doing to it
    "sim_cell_occupancy_stream" -> QueryEntry(
      fn = (spark, sfDir) => {
        val cents = SimilarityStaging.cellCentroids(spark, sfDir)
        val stream = graft.streaming.IngestStreams.readDocuments(
          spark, rawEmbDir(sfDir))
        val counts = Similarity.cellOccupancy(stream, cents)
        graft.streaming.EventStreams.runToBatch(counts,
          s"sim_cells_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Complete)
          .orderBy("cell")
      },
      oracle = Some(Similarity.duckCellOccupancy(NumCentroids))),

    // easy-negative sampling: per query, m deterministic pseudo-random
    // non-neighbors (md5 hash order over the pair key) drawn from OUTSIDE
    // the exact top-k — the contrastive-batch complement of
    // sim_hard_negatives (a batch needs both: hard negatives carry the
    // gradient, easy negatives anchor the margin). Exact cosine is then
    // computed ONLY for the m×|queries| picked pairs (point lookups by id,
    // the rerankExact principle). Reproducible across runs and engines by
    // construction — sampling is a hash, not an RNG
    "sim_easy_negatives" -> QueryEntry(
      fn = (spark, sfDir) => {
        val e = Readers.fixture(spark, sfDir, "embeddings")
        val top = SimilarityStaging.exactTopK(spark, sfDir, K, queryBound = 8)
          .select(col("query_id"), col("neighbor_id"))
        val cand = e.select(col("vec_id").as("neighbor_id"))
          .crossJoin(broadcast(
            e.filter(col("vec_id") < 8).select(col("vec_id").as("query_id"))))
          .filter(col("query_id") =!= col("neighbor_id"))
          .join(top, Seq("query_id", "neighbor_id"), "left_anti")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(md5(concat(col("query_id").cast("string"), lit(":"),
            col("neighbor_id").cast("string"))), col("neighbor_id"))
        val picks = cand.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= K)
        val vecs = e.select(col("vec_id"), col("embedding"),
          Similarity.norm(col("embedding")).as("nrm"))
        picks
          .join(vecs.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
            col("nrm").as("qn")), "query_id")
          .join(vecs.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
            col("nrm").as("nn")), "neighbor_id")
          .select(col("query_id"), col("neighbor_id"),
            Similarity.cosineScaledWithNorms(col("qv"), col("nv"), col("qn"), col("nn"))
              .as("cos_micro"),
            col("rank"))
          .orderBy("query_id", "rank")
      },
      oracle = Some(
        s"""WITH top AS MATERIALIZED (
              SELECT query_id, neighbor_id FROM (${topkOracle(K)}) AS tk),
           picks AS (
             SELECT query_id, neighbor_id, rank FROM (
               SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                      CAST(row_number() OVER (PARTITION BY q.vec_id
                        ORDER BY md5(CAST(q.vec_id AS VARCHAR) || ':' ||
                                     CAST(n.vec_id AS VARCHAR)), n.vec_id) AS BIGINT) AS rank
               FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
               WHERE q.vec_id < 8
                 AND NOT EXISTS (SELECT 1 FROM top t
                                 WHERE t.query_id = q.vec_id
                                   AND t.neighbor_id = n.vec_id)) AS r
             WHERE rank <= $K)
           SELECT p.query_id, p.neighbor_id,
                  ${Similarity.duckCosineScaled("a.embedding", "b.embedding")} AS cos_micro,
                  p.rank
           FROM picks p JOIN embeddings a ON a.vec_id = p.query_id
                        JOIN embeddings b ON b.vec_id = p.neighbor_id
           ORDER BY p.query_id, p.rank""")),

    // hybrid retrieval via reciprocal-rank fusion: the dense cosine top-20
    // and the lexical shingle-Jaccard top-20 (documents and embeddings
    // share ids) fused by RRF into a final top-10 — the standard
    // dense+sparse search combiner, reading only RANKS so the two score
    // scales never need calibrating. The fuse is a union + one narrow
    // aggregate over k-by-|queries|-sized frames (no join); see
    // Similarity.rrfFuse
    "sim_rrf_hybrid" -> QueryEntry(
      fn = (spark, sfDir) => {
        val dense = SimilarityStaging.exactTopK(spark, sfDir, 20, queryBound = 8)
          .select("query_id", "neighbor_id", "rank")
        val sh = DedupStaging.shingles(spark, sfDir)
        val lex = Similarity.textJaccardTopK(sh, col("id") < 8, 20)
          .select("query_id", "neighbor_id", "rank")
        Similarity.rrfFuse(Seq(dense, lex), k = K)
          .select("query_id", "neighbor_id", "rrf_micro", "rank")
      },
      oracle = Some {
        import graft.operators.MinHashLSH
        val denseSql = topkOracle(20)
        val jac = "len(list_intersect(n.sh, q.sh)) * 1000000 // " +
          "len(list_distinct(list_concat(n.sh, q.sh)))"
        val lexSql =
          s"""WITH ${MinHashLSH.duckShingleCte("documents", "doc_id", "text", 3)}
             SELECT query_id, neighbor_id, rank FROM (
               SELECT q.id AS query_id, n.id AS neighbor_id,
                      CAST(row_number() OVER (PARTITION BY q.id
                        ORDER BY $jac DESC, n.id ASC) AS BIGINT) AS rank
               FROM shs q JOIN shs n ON n.id <> q.id
               WHERE q.id < 8) AS t
             WHERE rank <= 20"""
        Similarity.duckRrfFuse(Seq(denseSql, lexSql), k = K)
      }),

    // per-dimension embedding stats: the quality screen run before training
    // any quantizer — dead dimensions (min≈max), scale-dominant dimensions
    // (outsized second moment), and snapshot-over-snapshot mean drift (an
    // encoder change that invalidates persisted indexes). One posexplode
    // into one dims-keyed map-side-combined aggregate; all figures are
    // floor-quantized exact integers (see Similarity.dimStats for bounds)
    "sim_dim_stats" -> QueryEntry(
      fn = (spark, sfDir) => Similarity.dimStats(
        Readers.fixture(spark, sfDir, "embeddings")).orderBy("dim"),
      oracle = Some(Similarity.duckDimStats("embeddings") + "\nORDER BY dim")),

    // MMR diversified re-rank: greedy lambda-weighted relevance-vs-redundancy
    // selection (7/10) of 8 from the exact top-20 shortlist — the
    // retrieval-side dedup that keeps a RAG context / hard-negative batch
    // from being k copies of one neighborhood. Shortlist-bound by contract
    // (pairwise sims are |shortlist|^2 per query); oracle unrolls the greedy
    // steps as CTE stages over the SAME shortlist text as sim_topk's gate
    "sim_mmr_rerank" -> QueryEntry(
      fn = (spark, sfDir) => {
        val e = Readers.fixture(spark, sfDir, "embeddings")
        val shortlist = SimilarityStaging.exactTopK(spark, sfDir, 20, queryBound = 8)
        Similarity.mmrRerank(shortlist, e, k = 8, lamNum = 7L, lamDen = 10L)
          .select("query_id", "neighbor_id", "cos_micro", "mmr_rank")
      },
      oracle = Some(Similarity.duckMmrRerank(
        s"SELECT query_id, neighbor_id, cos_micro FROM (${topkOracle(20)}) tk",
        k = 8, lamNum = 7L, lamDen = 10L))),

    "sim_pq_rerank" -> QueryEntry(
      fn = (spark, sfDir) => {
        val e = Readers.fixture(spark, sfDir, "embeddings")
        val shortlist = Similarity.pqTopKWithSubs(
          SimilarityStaging.pqSubs(spark, sfDir),
          e.filter(col("vec_id") < 8), 3 * K, Dims / SimilarityStaging.PqM)
        Similarity.rerankExact(shortlist, e, K)
          .select("query_id", "neighbor_id", "cos_micro", "rank")
      },
      oracle = Some(Similarity.duckRerankExact(
        Similarity.duckPqTopK("q.vec_id < 8", 3 * K, m = 4, dims = Dims,
          codebook = 8, iters = 1), K))),

    // IVF-PQ: the production billion-scale composition — coarse k-means
    // cells gate the scan (nprobe=2), global PQ codebooks over CELL
    // RESIDUALS compress it; score = exact query-cell dot + residual ADC
    // (only the small-magnitude residual is quantized)
    "sim_ivfpq" -> QueryEntry(
      fn = (spark, sfDir) => {
        val e = Readers.fixture(spark, sfDir, "embeddings")
        val (cent, codesHomed, subs) = SimilarityStaging.ivfPqIndex(spark, sfDir)
        Similarity.ivfPqProbeTopK(cent, codesHomed, subs,
            e.filter(col("vec_id") < 8), K, nprobe = 2,
            subDims = Dims / SimilarityStaging.PqM)
          .select("query_id", "neighbor_id", "score_micro", "rank")
      },
      oracle = Some(Similarity.duckIvfPqTopK("q.vec_id < 8", K, kc = 8,
        nprobe = 2, m = 4, dims = Dims, codebook = 8, iters = 1))),

    // ANN: candidates restricted to the query's LSH bucket (deterministic
    // MD5-derived hyperplanes embedded as literals on both engines)
    "sim_ann_lsh" -> QueryEntry(
      fn = (spark, sfDir) => {
        val e = Readers.fixture(spark, sfDir, "embeddings")
        Similarity.annTopK(e.filter(col("vec_id") < 8), e, K, planeMatrix)
          .select("query_id", "neighbor_id", "cos_micro", "rank")
      },
      oracle = Some(AnnLshOracle)),

    // recall@k of the two approximate paths against the exact top-k — the
    // regression tripwire for any ANN change: a bucketing/centroid tweak
    // that silently drops recall shows up as a changed recall_micro here.
    // Cost shape: reuses the three gated formulations; the recall join is
    // keyed on (query_id, neighbor_id) — |queries|·k rows, broadcast-sized
    // leave-one-out kNN label accuracy: each probe's label predicted by
    // majority vote of its exact top-10 neighbors' labels (ties to the
    // smaller label id — deterministic), scored against its own label —
    // the embedding-quality evaluation that answers "do these vectors
    // separate the classes" before anyone trains on them. Reuses the
    // broadcast top-k scan; the vote is a ≤k-row-per-probe aggregate.
    // (On this synthetic fixture the measured accuracy is 4/32 ≈ the 10%
    // 10-class chance floor — the labels do NOT follow cosine structure,
    // and the harness's job is exactly to say so before training does.)
    "sim_knn_accuracy" -> QueryEntry(
      fn = (spark, sfDir) => {
        val e = Readers.fixture(spark, sfDir, "embeddings")
        val labels = e.select(col("vec_id"), col("label").cast("long").as("label"))
        val top = SimilarityStaging.exactTopK(spark, sfDir, K, queryBound = 32)
        val votes = top
          .join(labels.withColumnRenamed("vec_id", "neighbor_id")
            .withColumnRenamed("label", "n_label"), "neighbor_id")
          .groupBy(col("query_id"), col("n_label")).agg(count(lit(1)).as("votes"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("votes").desc, col("n_label").asc)
        val pred = votes.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("query_id"), col("n_label").as("pred_label"), col("votes"))
        pred.join(labels.withColumnRenamed("vec_id", "query_id"), "query_id")
          .select(col("query_id"), col("label").as("true_label"),
            col("pred_label"), col("votes"),
            when(col("pred_label") === col("label"), 1L).otherwise(0L).as("correct"))
          .orderBy("query_id")
      },
      oracle = Some {
        s"""WITH exact AS (${topkOracle(K).replace("q.vec_id < 8", "q.vec_id < 32")}),
             votes AS (SELECT e.query_id, CAST(n.label AS BIGINT) AS n_label,
                              count(*) AS votes
                       FROM exact e JOIN embeddings n ON n.vec_id = e.neighbor_id
                       GROUP BY e.query_id, n.label),
             pred AS (SELECT query_id, n_label AS pred_label, votes,
                             row_number() OVER (PARTITION BY query_id
                               ORDER BY votes DESC, n_label ASC) AS rn
                      FROM votes)
           SELECT p.query_id, CAST(q.label AS BIGINT) AS true_label,
                  p.pred_label, p.votes,
                  CAST(CASE WHEN p.pred_label = q.label THEN 1 ELSE 0 END AS BIGINT) AS correct
           FROM pred p JOIN embeddings q ON q.vec_id = p.query_id
           WHERE p.rn = 1 ORDER BY p.query_id"""
      }),

    // Johnson–Lindenstrauss sketch: 64-dim float vectors projected to 16
    // exact-integer dims through a deterministic ±1 matrix (quantize, then
    // project — everything after the per-element floor is 64-bit integer,
    // see operators/Similarity.jlProject). The sketch is what a 100 TB
    // pre-ranking pass would move: 16 longs per vector, one codegen intDot
    // per output dim, scan-parallel
    "sim_jl_project" -> QueryEntry(
      fn = (spark, sfDir) =>
        // posexplode to (vec_id, dim, value): the driver's comparator hashes
        // scalar cells only — a raw array<bigint> column is unhashable there
        SimilarityStaging.jl32(spark, sfDir)
          .select(col("vec_id"), posexplode(col("jl")).as(Seq("dim", "value")))
          .select(col("vec_id"), col("dim").cast("long").as("dim"), col("value"))
          .orderBy("vec_id", "dim"),
      oracle = Some {
        s"""WITH jlp AS (${Similarity.duckJlProject(jlSigns)})
           SELECT vec_id, CAST(idx.i - 1 AS BIGINT) AS dim, jl[idx.i] AS value
           FROM jlp, (SELECT unnest(generate_series(1, ${jlSigns.length})) AS i) idx
           ORDER BY vec_id, dim"""
      }),

    // distance preservation of the JL sketch, measured as recall@10 of the
    // sketch-shortlist-then-exact-rerank ranking (shortlist 5K in sketch
    // space — the 10%-of-corpus pruning a 100 TB pre-rank would run — then
    // exact cosine over the shortlist only) against the exact top-k. Same
    // floor-gated methodology as sim_ann_recall: a tuning change that
    // degrades the sketch fails the gate, not just a benchmark
    "sim_jl_recall" -> QueryEntry(
      fn = (spark, sfDir) => {
        val e = Readers.fixture(spark, sfDir, "embeddings")
        // exact and proj are staged checkpoints — the old per-query persist
        // barriers (each frame feeds 2+ plan positions) ride on the staging
        val exact = SimilarityStaging.exactTopK(spark, sfDir, K, queryBound = 8)
        val proj = SimilarityStaging.jl32(spark, sfDir)
        val shortlist = Similarity.jlTopK(proj.filter(col("vec_id") < 8), proj, 5 * K)
        val reranked = Similarity.rerankExact(shortlist, e, K)
        recallOf(exact, reranked, "jl").orderBy("method", "query_id")
      },
      oracle = Some {
        val d2 = "list_reduce(list_transform(generate_series(1, len(q.jl)), " +
          "i -> (q.jl[i] - n.jl[i]) * (q.jl[i] - n.jl[i])), (x, y) -> x + y)"
        val shortlistSql =
          s"""SELECT query_id, neighbor_id FROM (
               SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY d2 ASC, neighbor_id ASC) AS srank
               FROM (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                            $d2 AS d2
                     FROM proj q JOIN proj n ON n.vec_id <> q.vec_id
                     WHERE q.vec_id < 8) sc) rk
             WHERE srank <= ${5 * K}"""
        s"""WITH exact AS ($TopkOracle),
             proj AS (${Similarity.duckJlProject(jlSigns)}),
             jl AS (${Similarity.duckRerankExact(shortlistSql, K)}),
             eq AS (SELECT DISTINCT query_id FROM exact),
             jh AS (SELECT e.query_id, count(*) AS n_hits
                    FROM exact e JOIN jl a USING (query_id, neighbor_id) GROUP BY 1)
           SELECT * FROM (
             SELECT eq.query_id, 'jl' AS method,
                    CAST(coalesce(jh.n_hits, 0) AS BIGINT) AS n_hits,
                    (1000000 * coalesce(jh.n_hits, 0)) // $K AS recall_micro
             FROM eq LEFT JOIN jh ON jh.query_id = eq.query_id)
           ORDER BY method, query_id"""
      }),

    // embedding norm histogram: vectors per 0.5-wide norm band (floored
    // micro norms — one multiply+floor per row, deterministic IEEE) — the
    // scale-spread screen beside sim_dim_stats' per-dimension moments: a
    // wide spread says normalize before any dot-product index; a spike at
    // zero says dead vectors reached the index
    "sim_norm_bands" -> QueryEntry(
      fn = (spark, sfDir) => {
        val e = Readers.fixture(spark, sfDir, "embeddings")
        e.select(floor(Similarity.norm(col("embedding")) * 1e6).cast("long").as("nm"))
          .groupBy(expr("nm div 500000").as("band"))
          .agg(count(lit(1)).as("n_vecs"), min(col("nm")).as("min_norm_micro"),
            max(col("nm")).as("max_norm_micro"))
          .orderBy("band")
      },
      oracle = Some {
        val nm = s"CAST(floor(${Similarity.duckNorm("embedding")} * 1e6) AS BIGINT)"
        s"""WITH n AS (SELECT $nm AS nm FROM embeddings)
           SELECT nm // 500000 AS band, count(*) AS n_vecs,
                  CAST(min(nm) AS BIGINT) AS min_norm_micro,
                  CAST(max(nm) AS BIGINT) AS max_norm_micro
           FROM n GROUP BY band ORDER BY band"""
      }),

    // LSH probe-radius tuning curve: mean recall@10 at hamming probe radius
    // 0/1/2 (1, 9, 37 buckets probed of 256) — the multi-probe trade
    // measured: each radius step multiplies the candidate scan, the curve
    // says when the buckets stop paying. Fourth tuning curve in the family
    "sim_radius_curve" -> QueryEntry(
      fn = (spark, sfDir) => {
        val e = Readers.fixture(spark, sfDir, "embeddings")
        val exact = SimilarityStaging.exactTopK(spark, sfDir, K, queryBound = 8)
        val nQ = exact.select("query_id").distinct().count()
        Seq(0, 1, 2).map { r =>
          val ann = Similarity.annTopK(e.filter(col("vec_id") < 8), e, K,
            planeMatrix, probeRadius = r)
          val hits = exact.select("query_id", "neighbor_id")
            .join(ann.select("query_id", "neighbor_id"),
              Seq("query_id", "neighbor_id"), "left_semi")
            .count()
          (r.toLong, Similarity.probeMasks(NumPlanes, r).length.toLong,
            hits, hits * 1000000L / (K * nQ))
        }.pipe { rows =>
          val spark2 = spark; import spark2.implicits._
          rows.toDF("radius", "n_buckets_probed", "n_hits", "mean_recall_micro")
        }.orderBy("radius")
      },
      oracle = Some {
        def annSql(r: Int) = {
          val bucket = Similarity.duckLshBucket("embedding", planeMatrix)
          val probeList = Similarity.probeMasks(NumPlanes, r)
            .map(m => s"xor(bucket, CAST($m AS BIGINT))").mkString(", ")
          s"""WITH b AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
               qp AS (SELECT vec_id, embedding, unnest([$probeList]) AS bucket
                      FROM b WHERE vec_id < 8)
             SELECT query_id, neighbor_id FROM (
               SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                      CAST(row_number() OVER (PARTITION BY q.vec_id
                        ORDER BY ${Similarity.duckCosineScaled("q.embedding", "n.embedding")} DESC,
                                 n.vec_id ASC) AS BIGINT) AS rank
               FROM qp q JOIN b n ON q.bucket = n.bucket AND n.vec_id <> q.vec_id) t
             WHERE rank <= $K"""
        }
        val variants = Seq(0, 1, 2).map { r =>
          s"""SELECT CAST($r AS BIGINT) AS radius,
                CAST(${Similarity.probeMasks(NumPlanes, r).length} AS BIGINT) AS n_buckets_probed,
                CAST((SELECT count(*) FROM exact e JOIN (${annSql(r)}) a
                      USING (query_id, neighbor_id)) AS BIGINT) AS n_hits"""
        }.mkString("\nUNION ALL\n")
        s"""WITH exact AS ($TopkOracle),
             eq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq FROM exact),
             v AS ($variants)
           SELECT v.radius, v.n_buckets_probed, v.n_hits,
                  v.n_hits * 1000000 // ($K * eq.nq) AS mean_recall_micro
           FROM v, eq ORDER BY v.radius"""
      }),

    // JL sketch-width tuning curve: mean shortlist-rerank recall@10 at 8/
    // 16/32 sketch dims — the dimension-vs-recall trade as a table (the
    // JL lemma says distortion ~ 1/sqrt(dims); this measures where the
    // curve crosses the recall the pipeline needs). Third tuning curve
    // beside dedup_threshold_curve and sim_nprobe_curve
    "sim_jl_dims_curve" -> QueryEntry(
      fn = (spark, sfDir) => {
        val e = Readers.fixture(spark, sfDir, "embeddings")
        val exact = SimilarityStaging.exactTopK(spark, sfDir, K, queryBound = 8)
        val nQ = exact.select("query_id").distinct().count()
        // the three curve points are independent job chains — overlap them
        // (guide §2.6); each point's persist/unpersist stays inside its own
        // future, so lifecycles don't cross
        locally {
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          import scala.concurrent.ExecutionContext.Implicits.global
          Seq(8, 16, 32).map { d => Future {
            // the widest (32-dim) projection is the staged family sketch; the
            // narrower curve points project fresh under a per-point persist
            val staged32 = d == SimilarityStaging.JlDims
            val proj =
              if (staged32) SimilarityStaging.jl32(spark, sfDir)
              else Similarity.jlProject(e, "vec_id", "embedding",
                Similarity.planes(d, Dims)).persist()
            val shortlist = Similarity.jlTopK(proj.filter(col("vec_id") < 8), proj, 5 * K)
            val rr = Similarity.rerankExact(shortlist, e, K)
            val hits = exact.select("query_id", "neighbor_id")
              .join(rr.select("query_id", "neighbor_id"),
                Seq("query_id", "neighbor_id"), "left_semi")
              .count()
            if (!staged32) proj.unpersist(blocking = false)
            (d.toLong, hits, hits * 1000000L / (K * nQ))
          } }.map(Await.result(_, Duration.Inf))
        }.pipe { rows =>
          val spark2 = spark; import spark2.implicits._
          rows.toDF("jl_dims", "n_hits", "mean_recall_micro")
        }.orderBy("jl_dims")
      },
      oracle = Some {
        val d2 = "list_reduce(list_transform(generate_series(1, len(q.jl)), " +
          "i -> (q.jl[i] - n.jl[i]) * (q.jl[i] - n.jl[i])), (x, y) -> x + y)"
        def variant(d: Int) = {
          val shortlistSql =
            s"""SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY d2 ASC, neighbor_id ASC) AS srank
                 FROM (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                              $d2 AS d2
                       FROM (${Similarity.duckJlProject(Similarity.planes(d, Dims))}) q
                       JOIN (${Similarity.duckJlProject(Similarity.planes(d, Dims))}) n
                         ON n.vec_id <> q.vec_id
                       WHERE q.vec_id < 8) sc) rk
               WHERE srank <= ${5 * K}"""
          s"""SELECT CAST($d AS BIGINT) AS jl_dims,
                CAST((SELECT count(*) FROM exact e
                      JOIN (${Similarity.duckRerankExact(shortlistSql, K)}) a
                        USING (query_id, neighbor_id)) AS BIGINT) AS n_hits"""
        }
        s"""WITH exact AS ($TopkOracle),
             eq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq FROM exact),
             v AS (${Seq(8, 16, 32).map(variant).mkString("\nUNION ALL\n")})
           SELECT v.jl_dims, v.n_hits,
                  v.n_hits * 1000000 // ($K * eq.nq) AS mean_recall_micro
           FROM v, eq ORDER BY v.jl_dims"""
      }),

    // Matryoshka (MRL-style) truncation curve: exact cosine top-k using
    // only the FIRST d dimensions vs the full-width ground truth — the
    // storage/recall trade of prefix-truncatable embeddings as a table
    // (ship 8 of 64 dims and this is the recall you keep). Distinct from
    // sim_jl_dims_curve: truncation needs no projection pass at all — the
    // scan just reads a shorter slice, which at 100 TB is the whole point
    // (column pruning inside the vector)
    "sim_matryoshka_curve" -> QueryEntry(
      fn = (spark, sfDir) => {
        val e = Readers.fixture(spark, sfDir, "embeddings")
        val exact = SimilarityStaging.exactTopK(spark, sfDir, K, queryBound = 8)
        val nQ = exact.select("query_id").distinct().count()
        Seq(8, 16, 32).map { d =>
          val t = e.select(col("vec_id"),
            slice(col("embedding"), 1, d).as("embedding"))
          val approx = Similarity.topK(t.filter(col("vec_id") < 8), t, K)
          val hits = exact.select("query_id", "neighbor_id")
            .join(approx.select("query_id", "neighbor_id"),
              Seq("query_id", "neighbor_id"), "left_semi")
            .count()
          (d.toLong, hits, hits * 1000000L / (K * nQ))
        }.pipe { rows =>
          val spark2 = spark; import spark2.implicits._
          rows.toDF("dims", "n_hits", "mean_recall_micro")
        }.orderBy("dims")
      },
      oracle = Some {
        def variant(d: Int) =
          s"""SELECT CAST($d AS BIGINT) AS dims,
                CAST((SELECT count(*) FROM exact e JOIN (
                  SELECT query_id, neighbor_id FROM (
                    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                           CAST(row_number() OVER (PARTITION BY q.vec_id
                             ORDER BY ${Similarity.duckCosineScaled("q.embedding", "n.embedding")} DESC,
                                      n.vec_id ASC) AS BIGINT) AS rank
                    FROM md$d q JOIN md$d n ON n.vec_id <> q.vec_id
                    WHERE q.vec_id < 8) t WHERE rank <= $K) a
                  USING (query_id, neighbor_id)) AS BIGINT) AS n_hits"""
        val slices = Seq(8, 16, 32).map(d =>
          s"md$d AS (SELECT vec_id, embedding[1:$d] AS embedding FROM embeddings)")
          .mkString(",\n             ")
        s"""WITH exact AS ($TopkOracle),
             $slices,
             eq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq FROM exact),
             v AS (${Seq(8, 16, 32).map(variant).mkString("\nUNION ALL\n")})
           SELECT v.dims, v.n_hits,
                  v.n_hits * 1000000 // ($K * eq.nq) AS mean_recall_micro
           FROM v, eq ORDER BY v.dims"""
      }),

    // IVF nprobe tuning curve: mean recall@10 at nprobe 1/2/4 in one table
    // — the cost-recall trade made visible (each nprobe step scans
    // proportionally more cells; the curve says where it stops paying).
    // The sibling of dedup_threshold_curve on the similarity side; exact
    // ground truth is the shared gated baseline
    "sim_nprobe_curve" -> QueryEntry(
      fn = (spark, sfDir) => {
        val exact = SimilarityStaging.exactTopK(spark, sfDir, K, queryBound = 8)
        val nQ = exact.select("query_id").distinct().count()
        Seq(1, 2, 4).map { np =>
          val ivf = Similarity.searchRanked(
            SimilarityStaging.rankedSampled(spark, sfDir), col("vec_id") < 8, K, np)
          val hits = exact.select("query_id", "neighbor_id")
            .join(ivf.select("query_id", "neighbor_id"),
              Seq("query_id", "neighbor_id"), "left_semi")
            .count()
          (np.toLong, hits, hits * 1000000L / (K * nQ))
        }.pipe { rows =>
          val spark2 = spark; import spark2.implicits._
          rows.toDF("nprobe", "n_hits", "mean_recall_micro")
        }.orderBy("nprobe")
      },
      oracle = Some {
        val variants = Seq(1, 2, 4).map { np =>
          s"""SELECT CAST($np AS BIGINT) AS nprobe,
                CAST((SELECT count(*) FROM exact e
                      JOIN (${Similarity.duckIvfTopK(K, NumCentroids, "q.vec_id < 8", np)}) a
                        USING (query_id, neighbor_id)) AS BIGINT) AS n_hits"""
        }.mkString("\nUNION ALL\n")
        s"""WITH exact AS ($TopkOracle),
             eq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq FROM exact),
             v AS ($variants)
           SELECT v.nprobe, v.n_hits,
                  v.n_hits * 1000000 // ($K * eq.nq) AS mean_recall_micro
           FROM v, eq ORDER BY v.nprobe"""
      }),

    "sim_ann_recall" -> QueryEntry(
      fn = (spark, sfDir) => {
        val e = Readers.fixture(spark, sfDir, "embeddings")
        // the exact ranking appears FOUR times in the final plan (hits +
        // query list, × two methods) — the staged checkpoint is the barrier
        // that used to be a per-query persist; lsh appears once (no barrier
        // needed), ivf probes the staged 20-cell assignment
        val exact = SimilarityStaging.exactTopK(spark, sfDir, K, queryBound = 8)
        val lsh = Similarity.annTopK(e.filter(col("vec_id") < 8), e, K, planeMatrix)
        val ivf = Similarity.searchRanked(
          SimilarityStaging.rankedSampled(spark, sfDir), col("vec_id") < 8, K, Nprobe)
        recallOf(exact, lsh, "lsh").unionByName(recallOf(exact, ivf, "ivf"))
          .orderBy("method", "query_id")
      },
      oracle = Some(
        s"""WITH exact AS ($TopkOracle),
             lsh AS ($AnnLshOracle),
             ivf AS (${Similarity.duckIvfTopK(K, NumCentroids, "q.vec_id < 8", Nprobe)}),
             eq AS (SELECT DISTINCT query_id FROM exact),
             lh AS (SELECT e.query_id, count(*) AS n_hits
                    FROM exact e JOIN lsh a USING (query_id, neighbor_id) GROUP BY 1),
             ih AS (SELECT e.query_id, count(*) AS n_hits
                    FROM exact e JOIN ivf a USING (query_id, neighbor_id) GROUP BY 1)
           SELECT * FROM (
             SELECT eq.query_id, 'lsh' AS method,
                    CAST(coalesce(lh.n_hits, 0) AS BIGINT) AS n_hits,
                    (1000000 * coalesce(lh.n_hits, 0)) // $K AS recall_micro
             FROM eq LEFT JOIN lh ON lh.query_id = eq.query_id
             UNION ALL
             SELECT eq.query_id, 'ivf' AS method,
                    CAST(coalesce(ih.n_hits, 0) AS BIGINT) AS n_hits,
                    (1000000 * coalesce(ih.n_hits, 0)) // $K AS recall_micro
             FROM eq LEFT JOIN ih ON ih.query_id = eq.query_id)
           ORDER BY method, query_id"""))
  )
}
