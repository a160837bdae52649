package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity over `Array[Float]` embedding columns: brute-force
  * cosine top-k as the exact baseline and a random-hyperplane LSH bucketed
  * variant as the scale path (buckets shrink the candidate set from O(n) per
  * query to one bucket).
  *
  * Float parity: elements are widened float→double (exact), dot/norm are
  * sequential left-folds (`aggregate`), and every similarity leaving the
  * operator is floor-scaled to micro-units (`BIGINT`) so an engine's last-ulp
  * difference can't flip a comparison or a rank.
  *
  * Scale shape (100 TB): queries are broadcast (small side); the neighbor
  * scan is embarrassingly parallel; top-k per query is a windowed rank over
  * (query, score) — shuffle keyed by query id only. The LSH variant bucket
  * joins instead of broadcasting the full scan.
  */
object Similarity {

  /** Native codegen'd dot product (see [[graft.functions.DotProduct]]):
    * double accumulation, ascending index — the same left-fold order as
    * DuckDB's list_reduce twin, so results are bit-identical.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Micro-scaled similarity: floor(cos * 1e6) as BIGINT; zero-norm inputs
    * score 0 (see [[duckCosineScaled]] for why the guard exists).
    */
  def cosineScaled(a: Column, b: Column): Column =
    when(norm(a) * norm(b) === 0, 0L)
      .otherwise(floor(cosine(a, b) * 1e6).cast("long"))

  def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  def duckNorm(a: String): String =
    s"sqrt(list_reduce(list_transform(generate_series(1, len($a)), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)), (x, y) -> x + y))"

  /** Zero-norm inputs define cosine as 0 on BOTH engines: without the guard
    * a zero vector (an IVF-PQ residual of a singleton cell, a null-ish
    * embedding) yields 0/0 — Spark floors NaN to an arbitrary long while
    * DuckDB errors casting NaN to BIGINT, so the two sides would diverge
    * exactly on degenerate data.
    */
  def duckCosineScaled(a: String, b: String): String =
    s"CASE WHEN ${duckNorm(a)} * ${duckNorm(b)} = 0 THEN CAST(0 AS BIGINT) " +
      s"ELSE CAST(floor(${duckDot(a, b)} / (${duckNorm(a)} * ${duckNorm(b)}) * 1e6) AS BIGINT) END"

  /** Scaled cosine with norms precomputed as columns — callers stage `na`/`nb`
    * once per vector instead of once per pair (norms inside the pair loop
    * would redo O(dims) work |queries|× per row). Zero-norm guard as on
    * [[duckCosineScaled]].
    */
  def cosineScaledWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na * nb === 0, 0L)
      .otherwise(floor(dot(a, b) / (na * nb) * 1e6).cast("long"))

  /** The shared top-k tail: top `k` per query over a (query_id, neighbor_id,
    * score) frame with the deterministic (score desc, neighbor id asc)
    * tiebreak — every top-k variant in this file ends in exactly this shape,
    * so a tie-break or rank-type change lands in one place.
    *
    * Implemented as a PARTIAL-AGGREGATING bounded heap (Catalyst's
    * `CollectTopK`, the aggregate behind SQL's own top-k rewrites), not a
    * window rank: the window form shuffles EVERY scored pair to its query's
    * partition and sorts the full partition before discarding all but k,
    * while the aggregate form keeps a k-element heap per query per input
    * partition and shuffles only those partials — at a 100 TB scan with
    * thousands of candidates per query, the shuffle shrinks from
    * |candidates| to |queries|·k. Selection key is the (score, −id) struct,
    * so the k LARGEST under lexicographic order are exactly score-desc with
    * ties to the SMALLER id, and the eval emits them already sorted — rank
    * is the array position. Output rows, columns, and ordering are
    * bit-identical to the window form (pinned by the equivalence spec).
    */
  private def rankTopK(scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
    import org.apache.spark.sql.graftbridge.Bridge
    val pair = struct(col(scoreCol), (-col("neighbor_id")).as("__nid"))
    val topk = Bridge.column(
      new CollectTopK(Bridge.expression(pair), k, false).toAggregateExpression())
    scored.groupBy(col("query_id")).agg(topk.as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")).as(Seq("__pos", "__p")))
      .select(col("query_id"),
        (-col("__p.__nid")).as("neighbor_id"),
        col(s"__p.$scoreCol").as(scoreCol),
        (col("__pos") + 1).cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Exact top-k neighbors for each query vector (brute force): broadcast the
    * query set, score every (query, neighbor) pair, keep k per query by
    * windowed rank with deterministic (score desc, id asc) tiebreak.
    * The scan side repartitions first: per-row scoring is CPU-bound and a
    * single-file local fixture otherwise plans as one partition.
    */
  def topK(queries: DataFrame, neighbors: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      norm(col("embedding")).as("qn"))
    val n = graft.core.Readers.spread(
      neighbors.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")),
      col("neighbor_id"))
      .withColumn("nn", norm(col("nv")))
    val scored = n.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineScaledWithNorms(col("qv"), col("nv"), col("qn"), col("nn")).as("cos_micro"))
    rankTopK(scored, "cos_micro", k)
  }

  /** Exact rescore of an approximate shortlist — the second stage of the
    * production two-stage ANN recipe: a compressed-domain scan (PQ, IVF-PQ)
    * nominates `shortlist` pairs, then ONLY those |queries|·k' pairs are
    * scored against the raw float vectors and re-ranked to the final k. The
    * shortlist joined with the query vectors is broadcast-sized by
    * construction, so the raw-vector side is touched once, keyed by id —
    * point lookups against the vector store, never a second scan. Recall is
    * the shortlist's; precision of the final ORDER is exact.
    */
  def rerankExact(shortlist: DataFrame, vectors: DataFrame, k: Int): DataFrame = {
    val v = vectors.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val withQ = shortlist.select("query_id", "neighbor_id")
      .join(v.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qn")), "query_id")
    val scored = v
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
        col("nrm").as("nn"))
      .join(broadcast(withQ), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosineScaledWithNorms(col("qv"), col("nv"), col("qn"), col("nn")).as("cos_micro"))
    rankTopK(scored, "cos_micro", k)
  }

  /** DuckDB twin of [[rerankExact]]: `shortlistSql` must select
    * (query_id, neighbor_id); pairs join the raw vectors by id and re-rank
    * on the exact scaled cosine.
    */
  def duckRerankExact(shortlistSql: String, k: Int): String = {
    val cos = duckCosineScaled("q.embedding", "n.embedding")
    s"""SELECT query_id, neighbor_id, cos_micro, rank FROM (
         SELECT s.query_id, s.neighbor_id, $cos AS cos_micro,
                CAST(row_number() OVER (PARTITION BY s.query_id
                  ORDER BY $cos DESC, s.neighbor_id ASC) AS BIGINT) AS rank
         FROM ($shortlistSql) s
           JOIN embeddings q ON q.vec_id = s.query_id
           JOIN embeddings n ON n.vec_id = s.neighbor_id) AS t
       WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** MMR (maximal-marginal-relevance) diversified re-rank of a shortlist:
    * greedily select k items, each step taking the remaining candidate with
    * the highest `lamNum·rel − (lamDen−lamNum)·max_sim_to_selected` (ties to
    * the lower id) — the retrieval-side dedup that keeps a RAG/hard-negative
    * batch from being k copies of the same neighborhood. Carbonell &
    * Goldstein SIGIR'98, in the repo's integer discipline: relevance and
    * pairwise similarity are floor-scaled micro cosines, the greedy score
    * stays UNDIVIDED (argmax is invariant to the positive constant lamDen,
    * and not dividing sidesteps the Spark-div-truncates vs DuckDB-floors
    * divergence on negative scores).
    *
    * Scale shape: MMR is shortlist-bound BY CONTRACT — pairwise similarity
    * is |shortlist|² per query and each of the k unrolled steps is one
    * windowed argmax over the per-query remainder, all on frames of
    * queries × k' rows. The corpus is touched only by id-keyed vector
    * lookups when staging the shortlist pairs.
    *
    * `shortlist` must carry (query_id, neighbor_id, cos_micro); `vectors`
    * (vec_id, embedding). Output: (query_id, neighbor_id, cos_micro,
    * mmr_rank 1..k).
    */
  def mmrRerank(shortlist: DataFrame, vectors: DataFrame, k: Int,
                lamNum: Long, lamDen: Long): DataFrame = {
    require(k >= 1 && lamNum >= 0 && lamNum <= lamDen && lamDen > 0,
      s"bad MMR shape (k=$k, lambda=$lamNum/$lamDen)")
    val att = shortlist.select(col("query_id"), col("neighbor_id"), col("cos_micro"))
      .persist()
    val v = vectors.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    // pairwise candidate-candidate similarity within each query's shortlist
    val pair = att.select(col("query_id"), col("neighbor_id").as("ca"))
      .join(att.select(col("query_id"), col("neighbor_id").as("cb")), "query_id")
      .filter(col("ca") =!= col("cb"))
      .join(v.select(col("vec_id").as("ca"), col("embedding").as("ea"),
        col("nrm").as("na")), "ca")
      .join(v.select(col("vec_id").as("cb"), col("embedding").as("eb"),
        col("nrm").as("nb")), "cb")
      .select(col("query_id"), col("ca"), col("cb"),
        cosineScaledWithNorms(col("ea"), col("eb"), col("na"), col("nb")).as("sim"))
      .persist()
    val w = Window.partitionBy(col("query_id"))
    def pick(scored: DataFrame, scoreCol: Column, rank: Int): DataFrame =
      scored.withColumn("rn",
          row_number().over(w.orderBy(scoreCol.desc, col("neighbor_id").asc)))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("neighbor_id"), col("cos_micro"),
          lit(rank.toLong).as("mmr_rank"))
    // localCheckpoint, NOT persist: each step references `out` twice (the
    // remainder anti-join and the max-sim join) and unions the pick back
    // in, so the ANALYZED plan doubles per step — persist caches data but
    // Catalyst still re-analyzes the full logical tree each action (2^k
    // growth measured as multi-MiB task binaries then driver OOM at k=8).
    // An eager localCheckpoint truncates the lineage itself; the frames are
    // queries × k rows, so the checkpoint cost is noise.
    var out = pick(att, col("cos_micro"), 1).localCheckpoint(true)
    for (i <- 2 to k) {
      val sel = out.select(col("query_id"), col("neighbor_id").as("cb"))
      val rem = att.join(out.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      val ms = pair.join(sel, Seq("query_id", "cb"))
        .groupBy(col("query_id"), col("ca").as("neighbor_id"))
        .agg(max(col("sim")).as("ms"))
      val scored = rem.join(ms, Seq("query_id", "neighbor_id"), "left_outer")
        .withColumn("score", lit(lamNum) * col("cos_micro")
          - lit(lamDen - lamNum) * coalesce(col("ms"), lit(0L)))
      out = out.unionByName(pick(scored, col("score"), i)).localCheckpoint(true)
    }
    att.unpersist(blocking = false)
    pair.unpersist(blocking = false)
    out.orderBy("query_id", "mmr_rank")
  }

  /** DuckDB twin of [[mmrRerank]] as unrolled greedy CTE stages (the
    * PageRank/KMeans pattern): `shortlistSql` must select
    * (query_id, neighbor_id, cos_micro). Reused stages are MATERIALIZED —
    * DuckDB inlines plain CTEs, and each step references the previous
    * selection ~3 times, so the un-materialized unroll re-expands the
    * shortlist query 3^k times (the oracle-side mirror of the lineage
    * blowup the Spark side localCheckpoints away).
    */
  def duckMmrRerank(shortlistSql: String, k: Int, lamNum: Long, lamDen: Long): String = {
    val cos = duckCosineScaled("ea.embedding", "eb.embedding")
    val head =
      s"""att AS MATERIALIZED ($shortlistSql),
         pair AS MATERIALIZED (SELECT a.query_id, a.neighbor_id AS ca, b.neighbor_id AS cb,
                         $cos AS sim
                  FROM att a JOIN att b ON a.query_id = b.query_id
                                       AND a.neighbor_id <> b.neighbor_id
                    JOIN embeddings ea ON ea.vec_id = a.neighbor_id
                    JOIN embeddings eb ON eb.vec_id = b.neighbor_id),
         p1 AS MATERIALIZED (SELECT query_id, neighbor_id, cos_micro, CAST(1 AS BIGINT) AS mmr_rank
                FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos_micro DESC, neighbor_id ASC) AS rn FROM att) t
                WHERE rn = 1),
         sel1 AS MATERIALIZED (SELECT query_id, neighbor_id FROM p1)"""
    val steps = (2 to k).map { i =>
      s"""rem$i AS (SELECT att.* FROM att
               LEFT JOIN sel${i - 1} s ON s.query_id = att.query_id
                                      AND s.neighbor_id = att.neighbor_id
               WHERE s.neighbor_id IS NULL),
         ms$i AS (SELECT p.query_id, p.ca AS neighbor_id, max(p.sim) AS ms
               FROM pair p JOIN sel${i - 1} s ON s.query_id = p.query_id
                                             AND s.neighbor_id = p.cb
               GROUP BY 1, 2),
         sc$i AS (SELECT r.query_id, r.neighbor_id, r.cos_micro,
                        $lamNum * r.cos_micro
                          - ${lamDen - lamNum} * coalesce(m.ms, 0) AS score
               FROM rem$i r LEFT JOIN ms$i m ON m.query_id = r.query_id
                                            AND m.neighbor_id = r.neighbor_id),
         p$i AS MATERIALIZED (SELECT query_id, neighbor_id, cos_micro, CAST($i AS BIGINT) AS mmr_rank
               FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, neighbor_id ASC) AS rn FROM sc$i) t
               WHERE rn = 1),
         sel$i AS MATERIALIZED (SELECT query_id, neighbor_id FROM sel${i - 1}
                   UNION ALL SELECT query_id, neighbor_id FROM p$i)"""
    }
    val unions = (1 to k).map(i => s"SELECT * FROM p$i").mkString("\nUNION ALL ")
    s"WITH ${(head +: steps).mkString(",\n")}\n$unions\nORDER BY query_id, mmr_rank"
  }

  /** Deterministic ±1 random hyperplanes: component (p, d) from one MD5 bit.
    * Computed in Scala and embedded as literals on BOTH engines, so the plane
    * matrix can never drift between Spark plan and oracle SQL.
    */
  def planes(numPlanes: Int, dims: Int): Seq[Seq[Int]] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until numPlanes).map { p =>
      (0 until dims).map { d =>
        md.reset()
        val h = md.digest(s"$p:$d".getBytes("UTF-8"))
        if ((h(0) & 0x80) == 0) 1 else -1
      }
    }
  }

  /** LSH bucket id: bit p set iff dot(v, plane_p) > 0. */
  def lshBucket(v: Column, planeMatrix: Seq[Seq[Int]]): Column = {
    val bits = planeMatrix.zipWithIndex.map { case (plane, p) =>
      val planeLit = array(plane.map(x => lit(x.toDouble)): _*)
      when(dot(v, planeLit) > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  def duckLshBucket(v: String, planeMatrix: Seq[Seq[Int]]): String =
    planeMatrix.zipWithIndex.map { case (plane, p) =>
      val planeLit = plane.map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]")
      s"CASE WHEN ${duckDot(v, planeLit)} > 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** IVF-style coarse quantization (the other standard ANN scale path):
    * a FIXED number of vectors serve as centroids — the `numCentroids`
    * smallest by MD5-of-id order, a deterministic uniform sample whose size
    * is independent of table size (a stand-in for k-means training — real
    * pipelines would plug trained centroids into the same dataflow). Each
    * vector is assigned to its nearest centroid; search probes only the
    * query's cell.
    *
    * Scale shape: centroid selection is a TakeOrderedAndProject over the
    * narrow (id, embedding) projection; assignment is |vectors| × k with the
    * centroid list broadcast (k fixed ⇒ assignment stays O(n·k), not
    * O(n²/stride)); search joins on cell id — O(n/k) candidates per query.
    * All scores floor-scaled; ties broken by id.
    */
  /** Every (vector, centroid) assignment ranked by similarity against an
    * ARBITRARY centroid frame `(cent_id, cv)` — shared by the
    * sampled-centroid IVF index, the k-means-trained variant, and the
    * k-means trainer's own assignment step. `rn = 1` is the vector's home
    * cell (where it is indexed); `rn <= nprobe` are the cells a QUERY
    * probes. Splitting index-assignment from query-probing is the standard
    * IVF recall lever: probing a handful of nearest cells costs nprobe× the
    * candidate scan and recovers most neighbors that fell just across a
    * cell boundary.
    */
  def assignRanked(vectors: DataFrame, cent: DataFrame): DataFrame = {
    val c = cent.select(col("cent_id"), col("cv"), norm(col("cv")).as("cn"))
    val scored = vectors
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("vn"))
      .crossJoin(broadcast(c))
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        cosineScaledWithNorms(col("embedding"), col("cv"), col("vn"), col("cn")).as("c"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("c").desc, col("cent_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .select(col("vec_id"), col("embedding"), col("cent_id"), col("rn"))
  }

  /** The fixed-k deterministic centroid sample (a stand-in for trained
    * centroids; [[graft.operators.KMeans.train]] is the real trainer).
    */
  def sampleCentroids(vectors: DataFrame, numCentroids: Int): DataFrame =
    vectors.select(col("vec_id"), col("embedding"))
      .orderBy(md5(col("vec_id").cast("string"))).limit(numCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))

  def ivfAssignRanked(vectors: DataFrame, numCentroids: Int): DataFrame =
    assignRanked(vectors, sampleCentroids(vectors, numCentroids))

  def ivfAssign(vectors: DataFrame, numCentroids: Int): DataFrame =
    ivfAssignRanked(vectors, numCentroids).filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cent_id"))

  /** IVF search over a ranked assignment: neighbors come from their home
    * cell; each query probes its `nprobe` nearest cells. Every neighbor
    * lives in exactly one cell and the probed cells are distinct, so no pair
    * can match twice — no dedup stage. Public seam for staged (pre-built,
    * checkpointed) assignment frames — [[SimilarityStaging]]'s consumers call
    * this directly so the assignment is computed once per fixture dir, not
    * once per query.
    */
  def searchRanked(ranked: DataFrame, queryFilter: Column, k: Int,
                   nprobe: Int): DataFrame = searchAssigned(ranked, queryFilter, k, nprobe)

  private def searchAssigned(ranked: DataFrame, queryFilter: Column, k: Int,
                             nprobe: Int): DataFrame = {
    val q = ranked.filter(queryFilter && col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"), col("cent_id"))
    val n = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
        norm(col("embedding")).as("nn"), col("cent_id"))
    val scored = n.join(broadcast(q), "cent_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineScaledWithNorms(col("qv"), col("nv"), col("qn"), col("nn")).as("cos_micro"))
    rankTopK(scored, "cos_micro", k)
  }

  /** IVF search over TRAINED centroids — the train → assign → probe story
    * end to end inside the engine ([[graft.operators.KMeans.train]] produces
    * `cent`).
    */
  def ivfTopKWithCentroids(vectors: DataFrame, cent: DataFrame, queryFilter: Column,
                           k: Int, nprobe: Int = 1): DataFrame =
    searchAssigned(assignRanked(vectors, cent).persist(), queryFilter, k, nprobe)

  /** Incremental IVF probe against an EXISTING index — the retrieval-side
    * twin of [[MinHashLSH.incrementalCandidates]]: a NEW batch of vectors is
    * scored against the indexed corpus through its persisted centroids and
    * home-cell assignments, WITHOUT retraining or re-assigning the corpus.
    * Only the delta is assigned (|delta| × k against the broadcast centroid
    * list); the corpus contributes its (vec_id, embedding, cent_id) index
    * rows, and the probe join stays cell-bounded — per ingest the cost is
    * O(delta·k + delta·n/k·nprobe), never O(corpus·k), the property that
    * makes a daily vector-ingest ANN feasible at 100 TB.
    */
  def ivfIncrementalTopK(newVectors: DataFrame, indexAssigned: DataFrame,
                         cent: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val q = assignRanked(newVectors, cent).filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"), col("cent_id"))
    val n = indexAssigned
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
        norm(col("embedding")).as("nn"), col("cent_id"))
    val scored = n.join(broadcast(q), "cent_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineScaledWithNorms(col("qv"), col("nv"), col("qn"), col("nn")).as("cos_micro"))
    rankTopK(scored, "cos_micro", k)
  }

  /** Persist a trained IVF index: centroids plus every corpus vector's
    * home-cell assignment, with the training parameters riding along as
    * metadata columns (the [[MinHashLSH.writeSigIndex]] pattern — a probe
    * against an index trained with different parameters would not fail, it
    * would silently degrade recall, the worst failure mode for a retrieval
    * gate).
    */
  def writeIvfIndex(cent: DataFrame, assigned: DataFrame, k: Int, iters: Int,
                    path: String): Unit = {
    cent.withColumn("train_k", lit(k)).withColumn("train_iters", lit(iters))
      .write.mode("overwrite").parquet(s"$path/centroids")
    assigned.select(col("vec_id"), col("embedding"), col("cent_id"))
      .withColumn("train_k", lit(k)).withColumn("train_iters", lit(iters))
      .write.mode("overwrite").parquet(s"$path/assign")
  }

  /** Read a persisted IVF index back as (centroids, assignments), failing
    * loudly on a parameter mismatch. Unlike the dedup-index readers (where
    * an EMPTY index is the legitimate first-ingest bootstrap state), an IVF
    * index only exists as the output of a training run — zero centroids is
    * always a corrupt or mis-pathed artifact, and probing it would return
    * zero neighbors for every query (silent recall collapse), so this
    * reader requires the centroid metadata row to exist.
    */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                   expectK: Int, expectIters: Int): (DataFrame, DataFrame) = {
    val cent = spark.read.parquet(s"$path/centroids")
    val r = cent.select("train_k", "train_iters").head(1).headOption.getOrElse(
      throw new IllegalArgumentException(
        s"IVF index at $path has no centroids — probing it would return " +
          "zero neighbors for every query (rebuild the index)"))
    val (k, it) = (r.getInt(0), r.getInt(1))
    require(k == expectK && it == expectIters,
      s"IVF index at $path was trained with k=$k iters=$it; this probe " +
        s"expects k=$expectK iters=$expectIters — a mismatched index " +
        "silently degrades recall (rebuild the index or match its parameters)")
    (cent.drop("train_k", "train_iters"),
      spark.read.parquet(s"$path/assign").drop("train_k", "train_iters"))
  }

  /** The centroid-sample + ranked-assignment CTE pair (`cent`, `assign`)
    * shared by the IVF search twin and the semantic-dedup twin.
    */
  def duckIvfAssignCtes(numCentroids: Int, nprobe: Int): String = {
    val cos = duckCosineScaled("v.embedding", "c.embedding")
    s"""cent AS (SELECT vec_id AS cent_id, embedding FROM embeddings
                 ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT $numCentroids),
       assign AS (SELECT vec_id, embedding, cent_id, rn FROM (
         SELECT v.vec_id, v.embedding, c.cent_id,
                row_number() OVER (PARTITION BY v.vec_id
                  ORDER BY $cos DESC, c.cent_id ASC) AS rn
         FROM embeddings v CROSS JOIN cent c) AS a WHERE rn <= $nprobe)"""
  }

  /** DuckDB twin of [[searchRanked]] over [[ivfAssignRanked]] (the sampled
    * centroids). `queryPred` references the `assign` CTE.
    */
  def duckIvfTopK(k: Int, numCentroids: Int, queryPred: String, nprobe: Int = 1): String = {
    s"""WITH ${duckIvfAssignCtes(numCentroids, nprobe)}
       SELECT query_id, neighbor_id, cos_micro, rank FROM (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                ${duckCosineScaled("q.embedding", "n.embedding")} AS cos_micro,
                CAST(row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY ${duckCosineScaled("q.embedding", "n.embedding")} DESC,
                           n.vec_id ASC) AS BIGINT) AS rank
         FROM assign q JOIN assign n
           ON q.cent_id = n.cent_id AND n.vec_id <> q.vec_id AND n.rn = 1
         WHERE $queryPred) AS t
       WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** Hard-negative mining for contrastive training: per query, the top-k
    * most-similar vectors carrying a DIFFERENT label — the high-score
    * wrong-class examples a retrieval trainer wants in its batch. Same
    * broadcast + windowed-rank shape as [[topK]] with the label inequality
    * fused into the scoring filter (evaluated before the dot product, so
    * same-label pairs never pay the O(dims) work).
    */
  def hardNegatives(queries: DataFrame, neighbors: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      norm(col("embedding")).as("qn"), col("label").as("q_label"))
    val n = graft.core.Readers.spread(
      neighbors.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
        col("label").as("n_label")),
      col("neighbor_id"))
      .withColumn("nn", norm(col("nv")))
    val scored = n.crossJoin(broadcast(q))
      .filter(col("q_label") =!= col("n_label"))
      .select(col("query_id"), col("neighbor_id"),
        cosineScaledWithNorms(col("qv"), col("nv"), col("qn"), col("nn")).as("cos_micro"))
    rankTopK(scored, "cos_micro", k)
  }

  /** DuckDB twin of [[hardNegatives]]. */
  def duckHardNegatives(k: Int, queryPred: String): String =
    s"""SELECT query_id, neighbor_id, cos_micro, rank FROM (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                ${duckCosineScaled("q.embedding", "n.embedding")} AS cos_micro,
                CAST(row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY ${duckCosineScaled("q.embedding", "n.embedding")} DESC,
                           n.vec_id ASC) AS BIGINT) AS rank
         FROM embeddings q JOIN embeddings n ON q.label <> n.label
         WHERE $queryPred) AS t
       WHERE rank <= $k ORDER BY query_id, rank"""

  /** Symmetric per-vector int8 quantization: `q_i = floor(v_i · 127 / max|v|)`
    * (zero vectors quantize to zeros). `floor`, not `round`, so both engines
    * agree bit-for-bit; the float→double widening and the multiply/divide are
    * deterministic IEEE ops (two rounded operations, so the extreme lane
    * floors to ±127 or one code below — codes land in [-128, 127], int8
    * range). Appends `qv` (array<long>) to `df`.
    * The max-abs is staged as a column so the per-element lambda
    * reads an attribute instead of recomputing an O(dims) array_max.
    */
  def withQuantized(df: DataFrame, vecCol: String, out: String): DataFrame =
    df.withColumn("__mx", array_max(transform(col(vecCol), x => abs(x.cast("double")))))
      .withColumn(out,
        when(col("__mx") === 0d, transform(col(vecCol), _ => lit(0L)))
          .otherwise(transform(col(vecCol),
            x => floor(x.cast("double") * 127d / col("__mx")).cast("long"))))
      .drop("__mx")

  /** Integer dot product of two quantized vectors — exact (|q| ≤ 127, so a
    * 64-dim dot is ≤ 127²·64 ≈ 2²⁰, nowhere near overflow). Native codegen
    * expression ([[graft.functions.IntDotProduct]]) like the float path —
    * the `aggregate(zip_with(...))` HOF form it replaces evaluates
    * interpreted, one closure + boxing per element.
    */
  def intDot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.intDotProduct(a, b)

  /** Johnson–Lindenstrauss signed random projection: embed each vector into
    * `signs.length` dimensions as `p_j = Σ_i sign(j,i) · q_i` over the
    * micro-quantized input (`q_i = floor(v_i · scale)`) — the dimension-
    * reduction sketch between LSH (1 bit per plane, [[lshBucket]]) and PQ
    * (codebook cells): distances survive approximately (the JL lemma — the
    * ±1 "database-friendly" variant, Achlioptas 2001), so a 16-dim integer
    * sketch can pre-rank or pre-cluster before any exact pass touches the
    * full vectors. At 100 TB the sketch is what moves: 16×8 bytes per
    * vector instead of 64×4 floats, computed scan-parallel in one codegen
    * projection (each output dim is one [[intDot]] against a ±1 literal).
    *
    * Quantize-then-project keeps every step after the per-element
    * `floor(v·scale)` in exact 64-bit integers — projections, L2² sketch
    * distances, and rankings are then bit-identical across engines
    * (|p_j| ≤ dims · max|q|, nowhere near overflow). The sign matrix is
    * the deterministic MD5 generator already used for LSH ([[planes]]),
    * embedded as literals in BOTH engines' plans.
    */
  def jlProject(vecs: DataFrame, idCol: String, vecCol: String,
                signs: Seq[Seq[Int]], scale: Long = 1000L): DataFrame = {
    // normalize BEFORE quantizing: unit-vector L2² is monotone with cosine
    // (‖a−b‖² = 2 − 2·cos), so the sketch ranking targets the same order
    // as the exact cosine baseline; without it the sketch would rank raw
    // L2, which disagrees with cosine whenever magnitudes vary. Zero-norm
    // vectors quantize to all-zero (the duckCosineScaled guard's twin).
    // The norm is staged as a column first — a HOF lambda re-evaluates its
    // argument expressions per element (the recorded staged-array lesson)
    val staged0 = vecs.select(col(idCol).as("vec_id"), col(vecCol).as("__v"))
      .withColumn("__n", norm(col("__v")))
    val qv = when(col("__n") === 0,
        transform(col("__v"), _ => lit(0L)))
      .otherwise(transform(col("__v"),
        x => floor(x.cast("double") * scale / col("__n")).cast("long")))
    val staged = staged0.select(col("vec_id"), qv.as("qv"))
    val projCols = signs.map { row =>
      intDot(col("qv"), array(row.map(x => lit(x.toLong)): _*))
    }
    staged.select(col("vec_id"), array(projCols: _*).as("jl"))
  }

  /** Exact integer dot for DuckDB lists (the [[intDot]] twin — BIGINT
    * arithmetic, ascending fold).
    */
  def duckIntDot(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), " +
      s"i -> $a[i] * $b[i]), (x, y) -> x + y)"

  /** DuckDB twin of [[jlProject]] over the `embeddings` fixture. */
  def duckJlProject(signs: Seq[Seq[Int]], scale: Long = 1000L): String = {
    val projs = signs.map { row =>
      val litArr = row.map(x => s"CAST($x AS BIGINT)").mkString("[", ", ", "]")
      duckIntDot("qv", litArr)
    }.mkString("[", ",\n              ", "]")
    s"""SELECT vec_id, $projs AS jl
       FROM (SELECT vec_id,
               CASE WHEN ${duckNorm("embedding")} = 0
                    THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(embedding,
                      x -> CAST(floor(CAST(x AS DOUBLE) * $scale
                                      / ${duckNorm("embedding")}) AS BIGINT))
               END AS qv
             FROM embeddings) qz"""
  }

  /** Top-k by SMALLEST integer L2² distance in JL-sketch space: the
    * pre-ranking read path of [[jlProject]]. Same broadcast + windowed-rank
    * shape as [[topK]], ranking on the negated distance (ties by id).
    */
  def jlTopK(queries: DataFrame, neighbors: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("jl").as("qjl"))
    val n = graft.core.Readers.spread(neighbors, col("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("jl").as("njl"))
    // native codegen L2² (graft.functions.IntL2Squared): one tight loop
    // per pair — the zip_with-diff + intDot HOF form it replaces allocated
    // an intermediate array per pair and evaluated interpreted
    val scored = n.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-graft.functions.VectorFunctions.intL2Squared(col("qjl"), col("njl")))
          .as("neg_d2"))
    rankTopK(scored, "neg_d2", k)
  }

  /** Exact top-k under int8 quantization: the memory-bandwidth scale path —
    * the scan side moves 8-bit codes (4× less traffic than float32, 8× less
    * than the widened doubles) and scoring is pure integer arithmetic.
    * Same broadcast + windowed-rank shape as [[topK]]; ranks may differ from
    * the float ranking only where quantization collapses near-ties.
    */
  def quantizedTopK(queries: DataFrame, neighbors: DataFrame, k: Int): DataFrame = {
    val q = withQuantized(queries, "embedding", "qqv")
      .select(col("vec_id").as("query_id"), col("qqv"))
    val n = withQuantized(
      graft.core.Readers.spread(neighbors, col("vec_id")), "embedding", "nqv")
      .select(col("vec_id").as("neighbor_id"), col("nqv"))
    val scored = n.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        intDot(col("qqv"), col("nqv")).as("qdot"))
    rankTopK(scored, "qdot", k)
  }

  /** DuckDB twin of [[quantizedTopK]]. `queryPred` references the `qz` CTE. */
  def duckQuantizedTopK(k: Int, queryPred: String): String = {
    val dot = "list_reduce(list_transform(generate_series(1, len(q.qv)), " +
      "i -> q.qv[i] * n.qv[i]), (x, y) -> x + y)"
    s"""WITH mx AS (SELECT vec_id, embedding,
                           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
                    FROM embeddings),
       qz AS (SELECT vec_id,
                     CASE WHEN mx = 0
                          THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                          ELSE list_transform(embedding,
                                 x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT))
                     END AS qv
              FROM mx)
       SELECT query_id, neighbor_id, qdot, rank FROM (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, $dot AS qdot,
                CAST(row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY $dot DESC, n.vec_id ASC) AS BIGINT) AS rank
         FROM qz q JOIN qz n ON n.vec_id <> q.vec_id
         WHERE $queryPred) AS t
       WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** XOR masks enumerating every bucket within hamming `radius` of a query's
    * own bucket (radius ≤ 2 supported — beyond that the probed fraction stops
    * being "exponentially below the full scan"). Shared by the Spark plan and
    * the DuckDB oracle so the probe set can never drift.
    */
  def probeMasks(numPlanes: Int, radius: Int): Seq[Long] = {
    require(radius >= 0 && radius <= 2, s"probe radius $radius not in [0, 2]")
    val singles = (0 until numPlanes).map(p => 1L << p)
    val pairs = for { i <- 0 until numPlanes; j <- i + 1 until numPlanes }
      yield (1L << i) | (1L << j)
    Seq(0L) ++ (if (radius >= 1) singles else Nil) ++ (if (radius >= 2) pairs else Nil)
  }

  /** ANN top-k: like [[topK]] but candidates restricted to the query's LSH
    * bucket — the O(n/2^planes) scale path; recall < 1 by design.
    *
    * `probeRadius` is the standard multi-probe recall lever: the query also
    * probes every bucket within that hamming distance (the buckets a true
    * neighbor most likely fell into). Radius 2 over 8 planes probes 37 of
    * 256 buckets — ~14% of candidates instead of 0.4%, for a several-fold
    * recall gain (measured by sim_ann_recall and gated in SimilaritySpec).
    * Neighbors live in exactly one bucket and the probed set is distinct, so
    * no pair matches twice.
    */
  def annTopK(queries: DataFrame, neighbors: DataFrame, k: Int,
              planeMatrix: Seq[Seq[Int]], probeRadius: Int = 2): DataFrame = {
    val q0 = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      norm(col("embedding")).as("qn"),
      lshBucket(col("embedding"), planeMatrix).as("b0"))
    val probes = array(probeMasks(planeMatrix.length, probeRadius).map(m =>
      col("b0").bitwiseXOR(lit(m))): _*)
    val q = q0.select(col("query_id"), col("qv"), col("qn"),
      explode(probes).as("bucket"))
    val n = graft.core.Readers.spread(
      neighbors.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")),
      col("neighbor_id"))
      .withColumn("nn", norm(col("nv")))
      .withColumn("bucket", lshBucket(col("nv"), planeMatrix))
    val scored = n.join(broadcast(q), "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineScaledWithNorms(col("qv"), col("nv"), col("qn"), col("nn")).as("cos_micro"))
    rankTopK(scored, "cos_micro", k)
  }

  /** Hard budget on the brute-force candidate volume: at `n` rows the
    * all-pairs product materializes n·(n−1)/2 scored pairs, so the row limit
    * is derived as floor(sqrt(2·budget)) — 2.5e9 pairs ⇒ ~70k rows, tightened
    * to 50k so the bound holds with margin. A pair is one codegen'd cosine
    * over two staged vectors; 2.5e9 of them is minutes of cluster work, the
    * most a "fixture/oracle exact path" should ever cost.
    */
  val EmbCosPairBudget: Long = 2500000000L

  /** Hard budget on the broadcast side of the brute-force path in estimated
    * bytes (rows × dims × 8 for the float→double staged vectors, plus the
    * per-row norm). 32 MB is well under Spark's default 8 GB broadcast-join
    * hard cap and small enough that 32+ concurrent tasks each holding the
    * table stay cheap. 50k rows × 64 dims × 8 B = 25.6 MB fits; higher-dim
    * embeddings trip this check at proportionally fewer rows.
    */
  val EmbCosBroadcastBudgetBytes: Long = 32L * 1024 * 1024

  /** Default brute-force row limit = min(pair budget bound, byte budget at
    * the 64-dim fixture width): 50000. See [[EmbCosPairBudget]] /
    * [[EmbCosBroadcastBudgetBytes]] for the derivation; the runtime check in
    * [[embCosPairsGuarded]] re-validates the byte budget against the MEASURED
    * dimension, so a wider embedding degrades to LSH even under the row
    * limit.
    */
  val EmbCosDefaultBruteForceRowLimit: Long = 50000L

  /** Embedding near-duplicate pairs at or above `thresholdMicro` cosine —
    * the detector behind dedup_embcos. Guarded like the full-mode Merkle
    * degrade (core/Fingerprints.scala `degradeToMerkle`): at or under
    * `bruteForceRowLimit` rows (default [[EmbCosDefaultBruteForceRowLimit]],
    * derived from an explicit pair budget AND a broadcast-byte budget — not
    * a guess) the candidate space is the exact all-pairs product (the
    * fixture/oracle path — every true pair found); past the row limit, or
    * when n × measured-dims × 8 bytes would exceed
    * [[EmbCosBroadcastBudgetBytes]], it auto-degrades to LSH sign-bucket
    * candidates with multi-probe (the `vec_a` side probes every bucket
    * within `probeRadius` hamming bits of its own), so candidate generation
    * stays bucketed — no cartesian and no oversized broadcast survives at
    * scale. Both paths stage norms once per vector, score candidates with
    * the same exact cosine, and emit the same (vec_a, vec_b, cos_micro)
    * rows; the LSH path is a SUBSET of the brute pairs (recall < 1 by
    * design — sim_ann_recall / sim_radius_curve quantify the lever), never
    * different scores. Each candidate pair matches at most once (for a
    * fixed pair, only the single mask bucket_a⊕bucket_b can join it), so no
    * dedup stage is needed. The degrade is logged, never silent.
    */
  def embCosPairsGuarded(vectors: DataFrame, thresholdMicro: Long,
                         bruteForceRowLimit: Long = EmbCosDefaultBruteForceRowLimit,
                         planeMatrix: Seq[Seq[Int]] = planes(8, 64),
                         probeRadius: Int = 2,
                         nRows: Option[Long] = None): DataFrame = {
    val n = nRows.getOrElse(vectors.count())
    // broadcast-byte re-validation against the MEASURED width: only probed
    // when the row limit alone would admit the brute path (one limit-1 job)
    val bruteBytes: Long =
      if (n > bruteForceRowLimit) Long.MaxValue
      else vectors.select(size(col("embedding")).cast("long")).head(1)
        .headOption.map(r => n * (r.getLong(0) + 1) * 8L).getOrElse(0L)
    // stream side spread for CPU parallelism; norms staged once per vector,
    // not once per pair
    val a0 = graft.core.Readers.spread(
      vectors.select(col("vec_id").as("vec_a"), col("embedding").as("va")), col("vec_a"))
      .withColumn("na", norm(col("va")))
    val b0 = vectors.select(col("vec_id").as("vec_b"), col("embedding").as("vb"))
      .withColumn("nb", norm(col("vb")))
    val candidates =
      if (n <= bruteForceRowLimit && bruteBytes <= EmbCosBroadcastBudgetBytes)
        a0.crossJoin(broadcast(b0))
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"embCosPairs: $n vectors (limit $bruteForceRowLimit rows / " +
            s"$EmbCosBroadcastBudgetBytes broadcast bytes, est. $bruteBytes); " +
            s"degrading all-pairs product to LSH bucket candidates " +
            s"(${planeMatrix.length} planes, probe radius $probeRadius; recall < 1)")
        val masks = probeMasks(planeMatrix.length, probeRadius)
        val a = a0.withColumn("b0", lshBucket(col("va"), planeMatrix))
          .select(col("vec_a"), col("va"), col("na"),
            explode(array(masks.map(m => col("b0").bitwiseXOR(lit(m))): _*)).as("bucket"))
        val b = b0.withColumn("bucket", lshBucket(col("vb"), planeMatrix))
        a.join(b, "bucket")
      }
    candidates.filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosineScaledWithNorms(col("va"), col("vb"), col("na"), col("nb")).as("cos_micro"))
      .filter(col("cos_micro") >= thresholdMicro)
  }

  /** SemDeDup-style semantic dedup drop list: coarse-cluster the embeddings
    * (the deterministic IVF assignment), then within each cluster drop every
    * vector that has a LOWER-id neighbor above the cosine threshold, keeping
    * the lowest id of each near-dup group as its representative. Emits one
    * row per dropped vector with its earliest witness and that witness's
    * similarity.
    *
    * Scale shape: the pair join is CLUSTER-BOUNDED (same `cent_id` on both
    * sides) — candidate volume is Σ|cluster|², never the global n²; cluster
    * count scales with n to bound |cluster|. The id-ordering drop rule is
    * deterministic and single-pass — no iterative connected components; a
    * chain a~b~c (where a~c is below threshold) drops BOTH b and c toward a,
    * the standard aggressive-dedup behavior for training corpora.
    */
  def semanticDropList(vectors: DataFrame, numCentroids: Int,
                       thresholdMicro: Long): DataFrame = {
    val assigned = ivfAssign(vectors, numCentroids)
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        norm(col("embedding")).as("nm"))
      .persist()
    val a = assigned.select(col("cent_id"), col("vec_id").as("keep_id"),
      col("embedding").as("av"), col("nm").as("an"))
    val b = assigned.select(col("cent_id"), col("vec_id").as("drop_id"),
      col("embedding").as("bv"), col("nm").as("bn"))
    a.join(b, Seq("cent_id"))
      .filter(col("keep_id") < col("drop_id"))
      .select(col("drop_id"), col("keep_id"),
        cosineScaledWithNorms(col("av"), col("bv"), col("an"), col("bn")).as("cos_micro"))
      .filter(col("cos_micro") >= thresholdMicro)
      .groupBy(col("drop_id"))
      .agg(min(col("keep_id")).as("witness_id"),
        expr("min_by(cos_micro, keep_id)").as("witness_cos_micro"))
  }

  /** DuckDB twin of [[semanticDropList]]. */
  /** Embedding-space density outlier filter: per vector, the count of
    * same-coarse-cell neighbors with cosine ≥ `thresholdMicro`; vectors with
    * fewer than `minNeighbors` are flagged — the CLIP-filtering-style noise
    * screen (mislabeled / corrupted / off-distribution items sit in sparse
    * regions of embedding space). Cluster-bounded like [[semanticDropList]]:
    * candidate volume is Σ|cell|², never n², at the cost of not counting
    * cross-cell neighbors — the same coarse approximation SemDeDup makes,
    * acceptable because the signal is a density BAND, not an exact kNN.
    */
  def densityOutliers(vectors: DataFrame, numCentroids: Int,
                      thresholdMicro: Long, minNeighbors: Long): DataFrame = {
    val assigned = ivfAssign(vectors, numCentroids)
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        norm(col("embedding")).as("nm"))
      .persist()
    try densityOutliersFromAssigned(assigned, thresholdMicro, minNeighbors)
    finally assigned.unpersist(blocking = false)
  }

  /** [[densityOutliers]] over a PRE-BUILT home-cell assignment (vec_id,
    * embedding, cent_id, nm) — the staged-assignment seam: the caller owns
    * materialization (a checkpointed staging frame needs no persist here).
    */
  def densityOutliersFromAssigned(assigned: DataFrame, thresholdMicro: Long,
                                  minNeighbors: Long): DataFrame = {
    {
      val pairs = assigned.as("a").join(assigned.as("b"),
          col("a.cent_id") === col("b.cent_id") && col("a.vec_id") < col("b.vec_id"))
        .filter(cosineScaledWithNorms(col("a.embedding"), col("b.embedding"),
          col("a.nm"), col("b.nm")) >= thresholdMicro)
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      val counts = pairs.select(col("va").as("vec_id"))
        .unionAll(pairs.select(col("vb").as("vec_id")))
        .groupBy("vec_id").agg(count(lit(1)).as("n_neighbors"))
      val result = assigned.select(col("vec_id"))
        .join(counts, Seq("vec_id"), "left_outer")
        .select(col("vec_id"),
          coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"))
        .withColumn("is_outlier", col("n_neighbors") < minNeighbors)
        .persist()
      result.count()
      result
    }
  }

  /** DuckDB twin of [[densityOutliers]] — same coarse cells, same pair rule. */
  def duckDensityOutliers(numCentroids: Int, thresholdMicro: Long,
                          minNeighbors: Long): String = {
    val cos = duckCosineScaled("a.embedding", "b.embedding")
    s"""WITH ${duckIvfAssignCtes(numCentroids, nprobe = 1)},
         pairs AS (
           SELECT a.vec_id AS va, b.vec_id AS vb
           FROM assign a JOIN assign b
             ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
           WHERE $cos >= $thresholdMicro),
         counts AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_neighbors
                    FROM (SELECT va AS vec_id FROM pairs
                          UNION ALL SELECT vb FROM pairs) u GROUP BY vec_id)
       SELECT s.vec_id, coalesce(c.n_neighbors, 0) AS n_neighbors,
              coalesce(c.n_neighbors, 0) < $minNeighbors AS is_outlier
       FROM assign s LEFT JOIN counts c ON c.vec_id = s.vec_id
       ORDER BY s.vec_id"""
  }

  def duckSemanticDropList(numCentroids: Int, thresholdMicro: Long): String = {
    val cos = duckCosineScaled("a.embedding", "b.embedding")
    s"""WITH ${duckIvfAssignCtes(numCentroids, nprobe = 1)},
         pairs AS (
           SELECT b.vec_id AS drop_id, a.vec_id AS keep_id, $cos AS cos_micro
           FROM assign a JOIN assign b
             ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
           WHERE $cos >= $thresholdMicro)
       SELECT drop_id, min(keep_id) AS witness_id,
              arg_min(cos_micro, keep_id) AS witness_cos_micro
       FROM pairs GROUP BY drop_id ORDER BY drop_id"""
  }

  // ---------------------------------------------------------------------------
  // Product quantization (PQ) with asymmetric distance computation (ADC) —
  // Jégou et al., TPAMI'11: the compressed-domain search that makes
  // billion-vector scans tractable. Each vector splits into `m` equal
  // subvectors; an independent small codebook is k-means-trained per
  // subspace; a vector is stored as m codebook indices. At m=4 × 8 codes a
  // 64-dim float32 vector (256 B) compresses to 4 bytes — the scan side of
  // a 100 TB search reads 64× less.
  // ---------------------------------------------------------------------------

  /** One trained subspace: the codebook and every vector's code in it. */
  case class PqSubspace(sub: Int, centroids: DataFrame, codes: DataFrame)

  /** Train `m` independent sub-codebooks with the SHARED k-means trainer
    * ([[KMeans.train]] on the sliced frame — same deterministic init,
    * assignment, and ordered-fold means, so the DuckDB twin composes from
    * the same generators) and code every vector per subspace.
    */
  def pqTrain(vectors: DataFrame, m: Int, dims: Int,
              codebook: Int, iters: Int, nRows: Option[Long] = None): Seq[PqSubspace] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val subDims = dims / m
    require(m * subDims == dims, s"dims=$dims must split into m=$m equal subspaces")
    // every subspace has the input's cardinality — one count serves all m
    // trainings (and callers that already materialized the frame pass it in)
    val n = Some(nRows.getOrElse(vectors.count()))
    // the m sub-trainings are fully independent — run them as concurrent job
    // chains (the fanOutPerTarget pattern) so wall time is one subspace's
    // training, not the sum; combined with the centroid persist barrier
    // below this took the 50k-replicated-vector probe from 26 s to 4 s
    val futures = (0 until m).map { s =>
      Future {
        val sliced = vectors.select(col("vec_id"),
          slice(col("embedding"), s * subDims + 1, subDims).as("embedding"))
        // persist the (codebook-row) centroids: the Lloyd lineage would
        // otherwise re-run per consumer — ADC uses each sub-codebook TWICE
        // (query lookup table + database-side coding)
        val cent = KMeans.train(sliced, codebook, iters, nRows = n).persist()
        cent.count()
        val codes = KMeans.assign(sliced, cent)
          .select(col("vec_id"), lit(s).as("sub"), col("cent_id").as("code"))
        PqSubspace(s, cent, codes)
      }
    }
    futures.map(Await.result(_, Duration.Inf))
  }

  /** ADC top-k: queries stay RAW, the database side is scanned as
    * (vec_id, sub, code). Per query the m × codebook partial dot products
    * against the sub-centroids are precomputed as a lookup table — a
    * |queries|·m·codebook frame that BROADCASTS — so scoring is one
    * broadcast equi-join on (sub, code) over the code scan plus an integer
    * sum of m floor-scaled partials per (query, vector): no float arithmetic
    * touches the big side, and the integer sum keeps the ranking
    * hash-comparable cross-engine. Approximation error comes only from
    * quantizing the DATABASE side (asymmetric, the Jégou insight).
    */
  def pqTopK(vectors: DataFrame, queryFilter: Column, k: Int, m: Int, dims: Int,
             codebook: Int, iters: Int): DataFrame =
    pqTopKWithSubs(pqTrain(vectors, m, dims, codebook, iters),
      vectors.filter(queryFilter), k, dims / m)

  /** ADC top-k over PRE-TRAINED subspaces — the staged-index seam: training
    * (the expensive stage) runs once per fixture dir in
    * `graft.queries.SimilarityStaging` and every PQ consumer scores against
    * the same checkpointed codebooks/codes.
    */
  def pqTopKWithSubs(subs: Seq[PqSubspace], queries: DataFrame, k: Int,
                     subDims: Int): DataFrame = {
    val lut = subs.map { ps =>
      queries.select(col("vec_id").as("query_id"),
          slice(col("embedding"), ps.sub * subDims + 1, subDims).as("qs"))
        .crossJoin(ps.centroids)
        .select(col("query_id"), lit(ps.sub).as("sub"), col("cent_id").as("code"),
          floor(dot(col("qs"), col("cv")) * 1e6).cast("long").as("pdot"))
    }.reduce(_ unionAll _)
    val codes = subs.map(_.codes).reduce(_ unionAll _)
    val scored = graft.core.Readers.spread(codes, col("vec_id"))
      .join(broadcast(lut), Seq("sub", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("adc_micro"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc_micro"))
    rankTopK(scored, "adc_micro", k)
  }

  /** DuckDB twin of [[pqTopK]]: per subspace, a sliced source CTE + the
    * unrolled training chain ([[KMeans.duckTrainCtes]] with a suffix) + code
    * and lookup-table CTEs, then the joined ADC sum and windowed rank.
    */
  def duckPqTopK(queryWhere: String, k: Int, m: Int, dims: Int,
                 codebook: Int, iters: Int): String = {
    val subDims = dims / m
    val parts = (0 until m).map { s =>
      val src = s"sub$s"
      val sliceSql = s"embedding[${s * subDims + 1}:${(s + 1) * subDims}]"
      val (train, last) = KMeans.duckTrainCtes(codebook, iters, subDims,
        source = src, suffix = s"s${s}_")
      val cte =
        s"""$src AS (SELECT vec_id, $sliceSql AS embedding FROM embeddings),
           $train,
           codes$s AS (SELECT vec_id, $s AS sub, cent_id AS code
                       FROM ${KMeans.duckAssign(last, src)} AS a),
           lut$s AS (SELECT q.vec_id AS query_id, $s AS sub, c.cent_id AS code,
                            CAST(floor(${duckDot(s"q.$sliceSql", "c.cv")} * 1e6) AS BIGINT) AS pdot
                     FROM embeddings q CROSS JOIN $last c WHERE $queryWhere)"""
      cte
    }
    val codesAll = (0 until m).map(s => s"SELECT * FROM codes$s").mkString(" UNION ALL ")
    val lutAll = (0 until m).map(s => s"SELECT * FROM lut$s").mkString(" UNION ALL ")
    s"""WITH ${parts.mkString(",\n")},
       codes AS ($codesAll), lut AS ($lutAll),
       scored AS (SELECT l.query_id, c.vec_id AS neighbor_id,
                         CAST(sum(l.pdot) AS BIGINT) AS adc_micro
                  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
                  WHERE l.query_id <> c.vec_id
                  GROUP BY l.query_id, c.vec_id)
       SELECT query_id, neighbor_id, adc_micro, rank FROM (
         SELECT query_id, neighbor_id, adc_micro,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY adc_micro DESC, neighbor_id ASC) AS BIGINT) AS rank
         FROM scored) AS t
       WHERE rank <= $k ORDER BY query_id, rank"""
  }

  // ---------------------------------------------------------------------------
  // IVF-PQ: the production billion-scale ANN composition (coarse inverted
  // lists gate the scan; global PQ codebooks over CELL RESIDUALS compress
  // it). Scoring uses the inner-product decomposition
  //   dot(q, v) = dot(q, c_v) + dot(q, v - c_v)
  // with the residual term approximated by the ADC lookup — the query-side
  // cell dot is exact, only the (small-magnitude) residual is quantized,
  // which is why residual PQ beats raw PQ at equal code budget.
  // ---------------------------------------------------------------------------

  /** IVF-PQ top-k: coarse k-means cells (shared trainer), per-query nprobe
    * cell gating, global residual sub-codebooks ([[pqTrain]] on the residual
    * frame), broadcast per-query lookup table, integer score =
    * floor-scaled exact cell dot + sum of floor-scaled residual partials.
    */
  def ivfPqTopK(vectors: DataFrame, queryFilter: Column, k: Int,
                kc: Int, nprobe: Int, m: Int, dims: Int,
                codebook: Int, iters: Int): DataFrame = {
    val cent = KMeans.train(vectors, kc, iters).persist()
    cent.count()
    val assigned = KMeans.assign(vectors, cent)
    val resid = assigned.join(broadcast(cent), "cent_id")
      .select(col("vec_id"), col("cent_id").as("home_cell"),
        zip_with(col("embedding"), col("cv"),
          (a, b) => a.cast("double") - b).as("embedding"))
      .persist()
    val nResid = resid.count()
    val subs = pqTrain(resid.select(col("vec_id"), col("embedding")),
      m, dims, codebook, iters, nRows = Some(nResid))
    // carry the home cell ON the code rows: the codes ⋈ homes join was a
    // corpus-sized × corpus-sized equi-join executed per query — denoting
    // it at index-build time leaves the probe with one scan of the homed
    // code table plus broadcast joins only
    val codesHomed = subs.map(_.codes).reduce(_ unionAll _)
      .join(resid.select(col("vec_id"), col("home_cell")), "vec_id")
    ivfPqProbeTopK(cent, codesHomed, subs, vectors.filter(queryFilter), k,
      nprobe, dims / m)
  }

  /** The IVF-PQ probe against a PRE-TRAINED index: coarse centroids, the
    * homed code table (vec_id, sub, code, home_cell — home cells are part
    * of the index artifact, never re-joined at query time), and the
    * residual sub-codebooks (for the per-query lookup tables). The
    * staged-index seam: production IVF-PQ trains offline once per corpus
    * snapshot and serves every query from the artifact
    * (`graft.queries.SimilarityStaging` stages exactly these frames).
    * Probe plan: one scan of the homed codes + two broadcast joins
    * (probed-cells gate, per-query LUT) + a map-side-combined ADC sum —
    * no corpus-sized join survives to query time.
    */
  def ivfPqProbeTopK(cent: DataFrame, codesHomed: DataFrame,
                     subs: Seq[PqSubspace], queries: DataFrame, k: Int,
                     nprobe: Int, subDims: Int): DataFrame = {
    // nprobe nearest cells per query (ranked by the same floor-scaled cosine
    // as every IVF path), each carrying the EXACT query-to-centroid dot term
    val probed = assignRanked(queries, cent).filter(col("rn") <= nprobe)
      .join(broadcast(cent), "cent_id")
      .select(col("vec_id").as("query_id"), col("cent_id").as("cell"),
        floor(dot(col("embedding"), col("cv")) * 1e6).cast("long").as("cdot_micro"))
    val lut = subs.map { ps =>
      queries.select(col("vec_id").as("query_id"),
          slice(col("embedding"), ps.sub * subDims + 1, subDims).as("qs"))
        .crossJoin(broadcast(ps.centroids))
        .select(col("query_id"), lit(ps.sub).as("sub"), col("cent_id").as("code"),
          floor(dot(col("qs"), col("cv")) * 1e6).cast("long").as("pdot"))
    }.reduce(_ unionAll _)
    val scored = graft.core.Readers.spread(codesHomed, col("vec_id"))
      .join(broadcast(probed), col("home_cell") === col("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id"), col("cdot_micro"))
      .agg(sum(col("pdot")).as("rdot"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (col("cdot_micro") + col("rdot")).as("score_micro"))
    rankTopK(scored, "score_micro", k)
  }

  /** DuckDB twin of [[ivfPqTopK]] — coarse training CTEs + residual CTE +
    * per-subspace residual training/codes/LUT + the gated ADC sum.
    */
  def duckIvfPqTopK(queryWhere: String, k: Int, kc: Int, nprobe: Int,
                    m: Int, dims: Int, codebook: Int, iters: Int): String = {
    val subDims = dims / m
    val (coarseCtes, coarseLast) = KMeans.duckTrainCtes(kc, iters, dims,
      source = "embeddings", suffix = "c_")
    val residExpr =
      s"list_transform(generate_series(1, $dims), " +
        s"i -> CAST(a.embedding[i] AS DOUBLE) - c.cv[i])"
    val subParts = (0 until m).map { s =>
      val src = s"ressub$s"
      val lo = s * subDims + 1
      val hi = (s + 1) * subDims
      val (train, last) = KMeans.duckTrainCtes(codebook, iters, subDims,
        source = src, suffix = s"ps${s}_")
      s"""$src AS (SELECT vec_id, embedding[$lo:$hi] AS embedding FROM resid),
         $train,
         pcodes$s AS (SELECT vec_id, $s AS sub, cent_id AS code
                      FROM ${KMeans.duckAssign(last, src)} AS a),
         plut$s AS (SELECT q.vec_id AS query_id, $s AS sub, c.cent_id AS code,
                           CAST(floor(${duckDot(s"q.embedding[$lo:$hi]", "c.cv")} * 1e6) AS BIGINT) AS pdot
                    FROM embeddings q CROSS JOIN $last c WHERE $queryWhere)"""
    }
    val codesAll = (0 until m).map(s => s"SELECT * FROM pcodes$s").mkString(" UNION ALL ")
    val lutAll = (0 until m).map(s => s"SELECT * FROM plut$s").mkString(" UNION ALL ")
    s"""WITH $coarseCtes,
       cassign AS (SELECT vec_id, embedding, cent_id
                   FROM ${KMeans.duckAssign(coarseLast)} AS a),
       resid AS (SELECT a.vec_id, a.cent_id AS home_cell, $residExpr AS embedding
                 FROM cassign a JOIN $coarseLast c USING (cent_id)),
       ${subParts.mkString(",\n")},
       pqcodes AS ($codesAll), pqlut AS ($lutAll),
       probed AS (SELECT query_id, cell, cdot_micro FROM (
         SELECT q.vec_id AS query_id, c.cent_id AS cell,
                CAST(floor(${duckDot("q.embedding", "c.cv")} * 1e6) AS BIGINT) AS cdot_micro,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY ${duckCosineScaled("q.embedding", "c.cv")} DESC,
                           c.cent_id ASC) AS rn
         FROM embeddings q CROSS JOIN $coarseLast c WHERE $queryWhere) AS t
         WHERE rn <= $nprobe),
       scored AS (SELECT p.query_id, cd.vec_id AS neighbor_id,
                         p.cdot_micro + CAST(sum(l.pdot) AS BIGINT) AS score_micro
                  FROM pqcodes cd
                  JOIN resid r ON r.vec_id = cd.vec_id
                  JOIN probed p ON p.cell = r.home_cell AND p.query_id <> cd.vec_id
                  JOIN pqlut l ON l.query_id = p.query_id
                              AND l.sub = cd.sub AND l.code = cd.code
                  GROUP BY p.query_id, cd.vec_id, p.cdot_micro)
       SELECT query_id, neighbor_id, score_micro, rank FROM (
         SELECT query_id, neighbor_id, score_micro,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY score_micro DESC, neighbor_id ASC) AS BIGINT) AS rank
         FROM scored) AS t
       WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** Exact lexical top-k by shingle Jaccard — the sparse/lexical half of
    * hybrid retrieval: each query document's shingle set scores every
    * corpus document by integer-micro Jaccard (the dedup_ngram_jaccard
    * formula, proven engine-parous) and keeps k by the same deterministic
    * windowed rank as [[topK]]. `shingles` is the (id, sh) frame from
    * [[graft.operators.MinHashLSH.shingled]] — shared with the dedup
    * pipeline so hybrid search never re-tokenizes. Broadcast the (small)
    * query side; the scan side spreads for CPU parallelism like [[topK]].
    */
  def textJaccardTopK(shingles: DataFrame, queryPred: Column, k: Int,
                      unit: Long = 1000000L): DataFrame = {
    val q = shingles.filter(queryPred)
      .select(col("id").as("query_id"), col("sh").as("qsh"))
    val n = graft.core.Readers.spread(
      shingles.select(col("id").as("neighbor_id"), col("sh").as("nsh")),
      col("neighbor_id"))
    val scored = n.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr(s"size(array_intersect(nsh, qsh)) * ${unit}L div size(array_union(nsh, qsh))")
          .as("jac_micro"))
    rankTopK(scored, "jac_micro", k)
  }

  /** Reciprocal-rank fusion (Cormack et al.): merge N per-query rankings
    * into one by summing `unit div (kConst + rank)` per appearance — the
    * standard hybrid-search combiner (dense ANN ranking + lexical ranking),
    * robust because it reads only RANKS, never the incomparable scores.
    * Division is integer with every operand positive, so both engines
    * truncate identically; each contribution is ≤ unit/(kConst+1) and a
    * document appears in at most N rankings, so sums stay far inside 64
    * bits for any real N.
    *
    * Scale shape: a union of the (already small, k·|queries|-sized)
    * ranking frames into one map-side-combined sum keyed on (query,
    * neighbor) — no join at all — then the [[topK]] windowed rank over
    * ≤ N·k rows per query.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, kConst: Long = 60L,
              unit: Long = 1000000L): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse of zero rankings")
    require(kConst >= 1, s"kConst=$kConst must be >= 1")
    val u = rankings
      .map(_.select(col("query_id"), col("neighbor_id"), col("rank")))
      .reduce(_ unionAll _)
    val scored = u
      .select(col("query_id"), col("neighbor_id"),
        expr(s"${unit}L div ($kConst + rank)").as("c"))
      .groupBy("query_id", "neighbor_id").agg(sum(col("c")).as("rrf_micro"))
    rankTopK(scored, "rrf_micro", k)
  }

  /** DuckDB twin of [[rrfFuse]]: each ranking SQL must yield
    * (query_id, neighbor_id, rank). MATERIALIZED — the fuse reads each
    * ranking once but DuckDB would otherwise inline the (expensive)
    * ranking subqueries into the union arms.
    */
  def duckRrfFuse(rankingSqls: Seq[String], k: Int, kConst: Long = 60L,
                  unit: Long = 1000000L): String = {
    require(rankingSqls.nonEmpty, "duckRrfFuse of zero rankings")
    val ctes = rankingSqls.zipWithIndex.map { case (sql, i) =>
      s"rk$i AS MATERIALIZED ($sql)"
    }
    val arms = rankingSqls.indices.map { i =>
      s"SELECT query_id, neighbor_id, $unit // ($kConst + rank) AS c FROM rk$i"
    }
    s"""WITH ${ctes.mkString(",\n")},
       u AS (${arms.mkString("\nUNION ALL\n")}),
       f AS (SELECT query_id, neighbor_id, CAST(sum(c) AS BIGINT) AS rrf_micro
             FROM u GROUP BY query_id, neighbor_id)
       SELECT query_id, neighbor_id, rrf_micro, rank FROM (
         SELECT query_id, neighbor_id, rrf_micro,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY rrf_micro DESC, neighbor_id ASC) AS BIGINT) AS rank
         FROM f) AS t
       WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** Nearest-centroid assignment as a pure per-row EXPRESSION over a
    * driver-collected centroid list — the streaming-safe form of
    * [[assignRanked]]'s `rn = 1` (windows are illegal on unbounded streams;
    * an argmax over k literal centroids is stateless and codegen-friendly).
    * Tie-break matches assignRanked exactly: max over (cos, -cent_id)
    * structs picks the highest cosine, then the SMALLEST centroid id.
    * The centroid list is index-sized (k × dims floats), the standard
    * broadcast-as-literals shape for a trained coarse quantizer.
    */
  def assignCellExpr(emb: Column, cents: Seq[(Long, Array[Float])]): Column = {
    require(cents.nonEmpty, "assignCellExpr with zero centroids")
    val scored = cents.map { case (id, cv) =>
      val cvLit = typedLit(cv)
      struct(
        cosineScaledWithNorms(emb, cvLit, norm(emb), norm(cvLit)).as("c"),
        lit(-id).as("negid"))
    }
    (array_max(array(scored: _*)).getField("negid") * -1L).as("cell")
  }

  /** Cell-occupancy counts under [[assignCellExpr]] against the
    * deterministic sampled centroids — the IVF index-health monitor: a
    * cell whose share drifts after ingest says the quantizer no longer fits
    * the data and the index needs re-training (the same
    * refuse-stale-parameters rationale as the band-index guard, but as a
    * WATCHED number instead of a hard failure). Output is k rows.
    */
  def cellOccupancy(vectors: DataFrame, cents: Seq[(Long, Array[Float])]): DataFrame =
    vectors.select(assignCellExpr(col("embedding"), cents).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n"))

  /** Driver-side centroid fetch for [[assignCellExpr]] — k × dims floats,
    * the trained-index artifact a deployment would load from its registry.
    */
  def collectCentroids(vectors: DataFrame, numCentroids: Int): Seq[(Long, Array[Float])] =
    sampleCentroids(vectors, numCentroids).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** DuckDB twin of [[cellOccupancy]] over the sampled-centroid index. */
  def duckCellOccupancy(numCentroids: Int): String =
    s"""WITH cent AS MATERIALIZED (
          SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT $numCentroids),
       best AS (
         SELECT vec_id, cent_id FROM (
           SELECT e.vec_id, c.cent_id,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY ${duckCosineScaled("e.embedding", "c.cv")} DESC,
                             c.cent_id ASC) AS rn
           FROM embeddings e CROSS JOIN cent c) AS r
         WHERE rn = 1)
       SELECT cent_id AS cell, CAST(count(*) AS BIGINT) AS n
       FROM best GROUP BY cell ORDER BY cell"""

  /** Per-dimension embedding statistics — the embedding-quality screen run
    * BEFORE any ANN index is trained: a dimension whose min≈max is dead
    * (wasted code space for PQ / int8 quantization), a dimension whose
    * second moment dwarfs the rest dominates every unnormalized distance,
    * and a drifting per-dimension mean between two snapshots flags an
    * encoder change that silently invalidates a persisted index (the same
    * refuse-a-mismatched-read rationale as the band-index parameter guard).
    *
    * Integer discipline: each element floor-quantizes to micro units for
    * sum/min/max and (independently, from the raw double) to milli units
    * for the second moment — `floor`, not `round`, the [[withQuantized]]
    * rule, so both engines agree bit-for-bit and sums are exactly
    * associative. Bounds: for unit-scale embeddings (|x| ≲ 1) both
    * `sum_micro` and `sumsq_milli` grow as ~10⁶·n per dimension — safe in
    * 64 bits through ~10¹² rows; larger corpora shard the sum by id range
    * and merge (the partials are plain integer adds).
    *
    * Scale shape: one posexplode (column-pruned to the vector) into a
    * single map-side-combined aggregate keyed by the ~dims-sized dimension
    * id — no join, no window, one narrow shuffle of dims×partitions
    * partial rows.
    */
  def dimStats(embeddings: DataFrame, vecCol: String = "embedding"): DataFrame =
    embeddings
      .select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("x").cast("double") * 1000000d).as("q"),
        floor(col("x").cast("double") * 1000d).as("m"))
      .groupBy("dim").agg(
        count(lit(1)).as("n"),
        sum(col("q")).as("sum_micro"),
        min(col("q")).as("min_micro"),
        max(col("q")).as("max_micro"),
        sum(col("m") * col("m")).as("sumsq_milli"))

  /** DuckDB twin of [[dimStats]] over a named table (0-based dims like
    * Spark's posexplode).
    */
  def duckDimStats(table: String, vecCol: String = "embedding"): String =
    s"""SELECT i - 1 AS dim, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(floor(CAST($vecCol[i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_micro,
          CAST(min(CAST(floor(CAST($vecCol[i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS min_micro,
          CAST(max(CAST(floor(CAST($vecCol[i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS max_micro,
          CAST(sum(CAST(floor(CAST($vecCol[i] AS DOUBLE) * 1000) AS BIGINT)
                 * CAST(floor(CAST($vecCol[i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS sumsq_milli
        FROM $table, unnest(generate_series(1, len($vecCol))) AS t(i)
        GROUP BY dim"""
}
