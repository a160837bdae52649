package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Staging

/** Transitive closure of near-dup candidate pairs into dedup clusters:
  * connected components by iterative min-label propagation, each doc labeled
  * with the smallest doc id reachable from it — the canonical-representative
  * selection step that turns pairwise dedup candidates into a keep/drop
  * decision.
  *
  * Scale shape: pure DataFrame label propagation — per iteration one join +
  * one partial-aggregated groupBy, both keyed on doc id; iterations bounded
  * by component diameter (near-dup clusters are shallow — a handful of
  * rounds). This is the standard large-graph CC formulation (the
  * alternating-algorithm family, Kiveris et al. "Connected Components in
  * MapReduce"); no driver-side state beyond the convergence counter.
  */
object DedupClusters {

  /** Pair-count threshold below which the closure runs as driver-side
    * union-find: near-dup pair sets are a tiny fraction of the corpus, and
    * the iterative join loop pays ~3 Spark jobs per round in scheduling
    * alone. Pairs collect into primitive long arrays and the parent table is
    * an open-addressed long→long map (~16 B/entry + arrays ≈ ~0.5 GB at the
    * limit, no per-element boxing); beyond that, [[propagate]] takes over.
    */
  val DriverPairLimit = 10000000L

  /** (doc_id, cluster_id) for every doc appearing in `pairs` (doc_a, doc_b);
    * cluster_id = min doc id of the component. Size-aware: small pair sets
    * close on the driver (union-find), large ones via distributed min-label
    * propagation — identical output either way.
    */
  def components(pairs: DataFrame, maxIters: Int = 10): DataFrame =
    closure(pairs, maxIters).fold(_.toDF(pairs.sparkSession), identity)

  /** The closure of `pairs`: on the driver (`Left`) when the pair set fits
    * [[DriverPairLimit]], else the distributed [[propagate]] result (`Right`,
    * checkpointed; the caller releases it). The pairs are checkpointed
    * lazily and counted in one job, which also writes the checkpoint; the
    * union-find's collect then reads those blocks instead of recomputing
    * the candidate generation. The pair checkpoint is released on return.
    */
  def closure(pairs: DataFrame, maxIters: Int = 10): Either[LocalComponents, DataFrame] = {
    val (p, n) = Staging.checkpointCount(
      pairs.select(col("doc_a").cast("long").as("doc_a"), col("doc_b").cast("long").as("doc_b")))
    try {
      if (n <= DriverPairLimit) Left(unionFind(p))
      else {
        val labels = propagate(p, maxIters)
        val out = labels.localCheckpoint()
        Staging.releaseCaches(labels)
        Right(out)
      }
    } finally Staging.releaseFrame(p)
  }

  /** A closure computed on the driver: `docIds` ascending, `clusterIds(i)`
    * the smallest doc id in the component of `docIds(i)`.
    */
  final case class LocalComponents(docIds: Array[Long], clusterIds: Array[Long]) {

    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      docIds.indices.map(i => (docIds(i), clusterIds(i))).toDF("doc_id", "cluster_id")
    }

    /** The documents a near-dup gate drops: every member but its cluster's
      * representative (the cluster id, its smallest member), and every member
      * of a cluster with more than `maxSize` members, representative included.
      */
    def dropSet(maxSize: Option[Long]): Array[Long] = {
      val sizes = new LongLongMap(docIds.length)
      clusterIds.foreach(c => sizes.put(c, sizes.getOrElse(c, 0L) + 1L))
      val out = Array.newBuilder[Long]
      var i = 0
      while (i < docIds.length) {
        val c = clusterIds(i)
        if (maxSize.exists(sizes.getOrElse(c, 0L) > _) || docIds(i) != c) out += docIds(i)
        i += 1
      }
      out.result()
    }
  }

  /** Open-addressed long→long map (linear probing, power-of-two capacity) —
    * the driver union-find's parent table without boxing: two primitive
    * arrays, ~16 B per entry at 50% load.
    */
  private final class LongLongMap(expected: Int) {
    private var cap = java.lang.Integer.highestOneBit(math.max(16, expected * 2) - 1) << 1
    private var keys = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var vals = new Array[Long](cap)
    private var n = 0
    private def slot(k: Long): Int = {
      var i = (java.lang.Long.hashCode(k * -7046029254386353131L)) & (cap - 1)
      while (used(i) && keys(i) != k) i = (i + 1) & (cap - 1)
      i
    }
    def getOrElse(k: Long, dflt: Long): Long = {
      val i = slot(k); if (used(i)) vals(i) else dflt
    }
    def put(k: Long, v: Long): Unit = {
      val i = slot(k)
      if (!used(i)) {
        used(i) = true; keys(i) = k; n += 1
        if (n * 2 > cap) grow()
      }
      vals(slot(k)) = v
    }
    private def grow(): Unit = {
      val (ok, ou, ov) = (keys, used, vals)
      cap <<= 1; keys = new Array[Long](cap); used = new Array[Boolean](cap)
      vals = new Array[Long](cap); n = 0
      var i = 0
      while (i < ok.length) { if (ou(i)) put(ok(i), ov(i)); i += 1 }
    }
    def foreachKey(f: Long => Unit): Unit = {
      var i = 0
      while (i < cap) { if (used(i)) f(keys(i)); i += 1 }
    }
  }

  /** Driver-side union-find with path compression over the collected
    * (long) pairs of a checkpointed frame; primitive long arrays end-to-end
    * (no boxed tuples or maps near the limit).
    */
  private def unionFind(pairs: DataFrame): LocalComponents = {
    val parts = Staging.checkpointedRows(pairs).mapPartitions { rows =>
      val a = Array.newBuilder[Long]
      val b = Array.newBuilder[Long]
      rows.foreach { r => a += r.getLong(0); b += r.getLong(1) }
      Iterator((a.result(), b.result()))
    }.collect()
    val ea = parts.flatMap(_._1)
    val eb = parts.flatMap(_._2)
    val parent = new LongLongMap(ea.length)
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent.getOrElse(c, c); parent.put(c, r); c = n }
      r
    }
    var i = 0
    while (i < ea.length) {
      val (a, b) = (ea(i), eb(i))
      // seed both endpoints so every doc appears as a key in the output
      parent.put(a, parent.getOrElse(a, a))
      parent.put(b, parent.getOrElse(b, b))
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
      i += 1
    }
    val docs = Array.newBuilder[Long]
    parent.foreachKey(d => docs += d)
    val sorted = docs.result()
    java.util.Arrays.sort(sorted)
    LocalComponents(sorted, sorted.map(find))
  }

  /** Distributed min-label propagation (the >10M-pairs path). */
  def propagate(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .distinct().persist()
    var labels = edges.select(col("a").as("doc")).distinct()
      .withColumn("label", col("doc")).persist()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // push each doc's label to its neighbors, keep the minimum seen
      val pushed = edges.join(labels, edges("a") === labels("doc"))
        .select(col("b").as("doc"), col("label"))
      val next = labels.select(col("doc"), col("label")).union(pushed)
        .groupBy("doc").agg(min("label").as("label")).persist()
      val changed = next.join(labels.withColumnRenamed("label", "old"), "doc")
        .filter(col("label") =!= col("old")).count()
      labels.unpersist(blocking = false)
      labels = next
      converged = changed == 0
      iter += 1
    }
    edges.unpersist(blocking = false)
    // wrong-but-plausible labels are worse than failing: a component whose
    // diameter exceeds maxIters would silently split into several clusters
    if (!converged)
      throw new IllegalStateException(
        s"label propagation did not converge in $maxIters iterations; raise maxIters")
    labels.select(col("doc").as("doc_id"), col("label").as("cluster_id"))
    // unsorted by design: the consumers (cluster-drop anti-joins, the
    // registered query's own ORDER BY) never need operator-level order
  }

  /** DuckDB twin: transitive closure via recursive CTE, then min over the
    * reachable set. `candSql` must yield (doc_a, doc_b).
    */
  /** The closure as a reusable CTE chain (must follow `WITH RECURSIVE`);
    * ends with `comp(doc_id, cluster_id)`.
    */
  def duckComponentsCtes(candSql: String): String =
    s"""cand AS (SELECT doc_a, doc_b FROM ($candSql) AS c0),
       edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
                 UNION SELECT doc_b, doc_a FROM cand),
       reach(doc, r) AS (
         SELECT a, a FROM (SELECT DISTINCT a FROM edges) AS n
         UNION
         SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.doc),
       comp AS (SELECT doc AS doc_id, min(r) AS cluster_id FROM reach
                GROUP BY doc)"""

  def duckComponents(candSql: String): String =
    s"""WITH RECURSIVE ${duckComponentsCtes(candSql)}
       SELECT doc_id, cluster_id FROM comp ORDER BY doc_id"""
}
