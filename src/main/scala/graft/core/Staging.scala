package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.Bridge

/** Session-keyed, fixture-dir-keyed memo of staged values — the one shared
  * implementation of the staging-cache pattern that had grown five
  * hand-rolled copies (DedupStaging, TextQueries' lrFeatCache, CorpusQueries'
  * dsirWeightsCache, AnalyticsQueries' purchaseEdgesCache, EventQueries'
  * stream-fixture memo), each re-implementing session-keyed compute +
  * localCheckpoint + (sometimes) release. Centralizing gives every memo the
  * same lifecycle contract:
  *
  *  - '''Session-keyed''': a localCheckpoint's blocks belong to the
  *    SparkSession that made them. A cache hit from a DIFFERENT session
  *    rebuilds — and, unlike the hand-rolled copies, first releases the
  *    replaced entry's checkpoint blocks (they were unreachable garbage
  *    reclaimed only by GC before).
  *  - '''Fresh''': a value is served only while the files directly under
  *    its directory keep their names, lengths and modification times. When
  *    they change, the entry is released and rebuilt, as for a replaced
  *    session, so a long-lived JVM never serves a value built from files
  *    that have since been rewritten.
  *  - '''Never evicted implicitly''': a localCheckpoint's lineage is
  *    truncated, so dropping its blocks while any live plan references them
  *    cannot recompute and fails the query. The cache is bounded by the
  *    number of distinct fixture dirs a JVM touches (one in the driver's
  *    Verify/Bench runs, one per spec suite).
  *  - '''Deterministic release''': [[Staging.release]] unpersists exactly the
  *    checkpoint blocks reachable from the staged value — found by walking
  *    the value (DataFrames, Products, collections) and collecting each
  *    frame's `LogicalRDD` leaves. No global before/after snapshot of
  *    `getPersistentRDDs`, so a concurrent build in another thread can never
  *    be captured and wrongly unpersisted.
  *
  * At 100 TB the staged frames are the persisted artifacts a real pipeline
  * writes once per corpus snapshot; the memo gives the multi-query bench the
  * same read-once contract.
  *
  * @param sessionScoped false for values with no Spark state (temp fixture
  *        dirs, driver-side arrays): a new session reuses them instead of
  *        rebuilding.
  */
final class Staging[V](sessionScoped: Boolean = true)(
    build: (SparkSession, String) => V) {

  private case class Entry(session: SparkSession, files: Seq[Staging.FileStamp], value: V)

  private val cache = new ConcurrentHashMap[String, Entry]()

  def apply(spark: SparkSession, sfDir: String): V = {
    val files = Staging.topLevelFiles(sfDir)
    cache.compute(sfDir, { (_, cur) =>
      if (cur != null && (!sessionScoped || (cur.session eq spark)) && cur.files == files) cur
      else {
        // a stale entry (a replaced session's blocks, or a value built from
        // files that have since changed): drop it before building, else its
        // blocks linger unreleasable for the JVM's life
        if (cur != null) Staging.releaseValue(cur.value)
        Entry(spark, files, build(spark, sfDir))
      }
    }).value
  }

  /** Session-free access for `sessionScoped = false` memos whose build
    * ignores the session (temp fixture dirs, driver-side arrays).
    */
  def apply(sfDir: String): V = {
    require(!sessionScoped, "session-scoped staging needs the owning SparkSession")
    apply(null, sfDir)
  }

  /** Deterministically drop a fixture dir's staged value and the checkpoint
    * blocks reachable from it. Callers own the ordering: any query plan still
    * holding a released frame will fail (truncated lineage cannot recompute).
    */
  def release(sfDir: String): Unit = {
    val cur = cache.remove(sfDir)
    if (cur != null) Staging.releaseValue(cur.value)
  }
}

object Staging {

  /** A file's name, length and modification time. */
  private type FileStamp = (String, Long, Long)

  /** The files directly under `dir`, stamped and sorted by name; empty when
    * `dir` is not a directory.
    */
  private def topLevelFiles(dir: String): Seq[FileStamp] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.filter(_.isFile)
      .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1)

  /** Unpersist every checkpoint block reachable from `v`: walks DataFrames,
    * case classes / tuples, and collections, and closes `AutoCloseable`
    * staged values (e.g. LogReg's staged feature records); anything else
    * holds no Spark state. Release failures (a stopped replaced session)
    * are ignored — release must never fail the caller.
    */
  private[core] def releaseValue(v: Any): Unit = v match {
    case ds: Dataset[_] => releaseFrame(ds)
    case c: AutoCloseable => Try(c.close())
    case it: Iterable[_] => it.foreach(releaseValue)
    case p: Product => p.productIterator.foreach(releaseValue)
    case _ => ()
  }

  /** Release the checkpoint blocks reachable from ONE frame — the
    * deterministic-release seam for operators that localCheckpoint a
    * per-invocation intermediate (not a memo-staged artifact) and must not
    * leave its blocks to GC (r14: pageRank's co-partitioned edge frame).
    */
  def releaseFrame(ds: Dataset[_]): Unit =
    checkpointRdds(ds).foreach(r => Try(Bridge.unpersistRDD(r)))

  /** `ds` checkpointed lazily and counted in one job, which also writes the
    * checkpoint blocks. The count runs on the checkpoint RDD itself, not on
    * a plan over it, so it compiles no code. Release with [[releaseFrame]].
    */
  def checkpointCount[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val c = ds.localCheckpoint(eager = false)
    (c, checkpointedRows(c).count())
  }

  /** The rows of a checkpointed frame, read straight off its checkpoint RDD:
    * no plan and no generated code. They are the frame's output columns in
    * order, as `UnsafeRow`s.
    */
  private[graft] def checkpointedRows(ds: Dataset[_]): org.apache.spark.rdd.RDD[InternalRow] =
    checkpointRdds(ds) match {
      case Seq(rdd) => rdd.asInstanceOf[org.apache.spark.rdd.RDD[InternalRow]]
      case other => throw new IllegalArgumentException(
        s"expected one checkpointed frame, found ${other.size} RDD leaves")
    }

  /** Uncache every `persist()`-ed frame that `ds` reads — the release seam
    * for operators that persist an internal intermediate and return a frame
    * derived from it (Selection.dsirWeights, Vocab.lmXent). Call it only
    * once nothing still needs those caches, and only on a frame whose cached
    * inputs the caller owns: a cached frame shared with other code would be
    * dropped too.
    */
  def releaseCaches(ds: Dataset[_]): Unit = {
    val spark = ds.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ds.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r.cacheBuilder.logicalPlan
    }.foreach(p => Try(spark.sharedState.cacheManager
      .uncacheQuery(spark, p, cascade = false, blocking = false)))
  }

  /** Whether the session's cache manager holds a cache of `ds`'s plan. */
  def isCached(ds: Dataset[_]): Boolean =
    ds.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined

  /** The RDDs behind a frame's `LogicalRDD` leaves — for a localCheckpoint-ed
    * frame (or anything derived from one) these are exactly the persisted
    * checkpoint RDDs; unpersisting a never-persisted LogicalRDD (e.g. a
    * `createDataFrame(rdd)` source) is a no-op.
    */
  private[core] def checkpointRdds(ds: Dataset[_]): Seq[org.apache.spark.rdd.RDD[_]] =
    ds.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
}
