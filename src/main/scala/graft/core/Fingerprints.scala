package graft.core

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.canon.Canon
import graft.core.Readers
import graft.functions.{Digests, GraftFunctions}

/** Verification run configuration — mirrors the reference's `Config` defaults
  * (/root/reference/config.go:83-98): mode full, bookend limit 1000, sparse
  * mod 10, timestamp precision milliseconds.
  */
case class VerifyConfig(
    modes: Seq[String] = Seq(TestModes.Full, TestModes.Bookend, TestModes.Sparse, TestModes.RowCount),
    tsPrecision: String = "milliseconds",
    hashPrimaryKeys: Boolean = false,
    bookendLimit: Int = 1000,
    sparseMod: Int = 10,
    // row count above which full mode auto-degrades to the Merkle digest in
    // [[Fingerprints.runModes]]: the exact digest serializes 32 B/row through
    // the driver's sequential MD5 chain, so beyond this the scale-safe
    // variant is the default rather than a caller opt-in. Both sides of a
    // comparison share the config, so both degrade identically.
    fullModeRowLimit: Long = 100000000L,
    // row count above which the exact digest stops collect()-ing the hashes
    // into one driver array and streams them via toLocalIterator instead
    // (driver holds one partition at a time), extending exact parity to
    // fullModeRowLimit without a driver-heap cliff. A collected row carries
    // the 32-char hash AND its sort key k (the driver merges the
    // per-partition sorted runs by k), so the driver's per-row budget is
    // 32 B plus the canonical PK text: 10M rows keyed by a 7-digit integer
    // carry ≈ 390 MB of hashes and keys. Below it, collect() wins: one job,
    // where toLocalIterator schedules a job per partition (~2× at bench
    // scale).
    streamingCollectRowLimit: Long = 10000000L,
    merkleBuckets: Int = 1024)

object TestModes {
  val Full = "full"
  val Bookend = "bookend"
  val Sparse = "sparse"
  val RowCount = "rowcount"
  val Stats = "stats"
  val All: Seq[String] = Seq(Bookend, Full, RowCount, Sparse, Stats) // alphabetical, O5
}

/** The four test modes, each reducing a table to one scalar fingerprint
  * string — the programs the reference generates as SQL text
  * (/root/reference/query.go:120-283) re-expressed as Spark plans.
  *
  * Scale notes (100 TB target):
  *   - `hashedRows` is a narrow projection: Catalyst prunes the parquet scan
  *     to exactly the hashed columns and the whole row→md5 pipeline is
  *     whole-stage-codegen'd per partition. On a splittable input there is
  *     no shuffle; only when the planned scan cannot spread (one row group,
  *     gzip, a single hot file) does a pre-projection repartition fire
  *     ([[Readers.spread]]'s rule) so the md5 work is
  *     not pipelined into one task.
  *   - The exact digest needs a global PK-order: each partition sorts its
  *     rows in parallel and the driver merges the sorted runs (past
  *     `streamingCollectRowLimit`, a range-partition exchange and global
  *     sort instead), followed by a sequential driver-side MD5 chain.
  *     MD5-chaining is inherently sequential, so byte-parity with the
  *     reference's `md5(string_agg(...))` cannot be parallelized further;
  *     use it when the literal reference fingerprint is required.
  *   - `merkleDigest` is the scalable variant (SURVEY.md §4): rows are
  *     bucketed by a deterministic MD5-derived key, each bucket is digested
  *     independently (one shuffle, fully parallel, buckets sized to fit
  *     executors), and the per-bucket digests are combined in bucket order.
  *     Same sensitivity (any changed/added/removed row flips it), different
  *     literal value; both sides of a comparison must use the same variant.
  */
object Fingerprints {

  /** Sentinel for empty tables (/root/reference/verify.go:246-249). */
  val NoRows = "no rows"

  /** Error sentinel, a valid comparable output (/root/reference/results.go:12). */
  val Err = "(err)"

  /** Hashable columns of `df` for `spec`: include/exclude filtered (P6), in
    * analysis order; canonicalization itself re-sorts lexicographically (P2).
    */
  def hashableColumns(df: DataFrame, spec: TableSpec): Seq[String] =
    df.schema.fields.map(_.name).filter(spec.validColumn).toSeq

  /** Project `df` to `(k sort-key, h row-hash)` — the inner SELECT of every
    * generated hash query (/root/reference/query.go:147-158).
    */
  def hashedRows(df: DataFrame, spec: TableSpec, cfg: VerifyConfig): DataFrame = {
    val cols = hashableColumns(df, spec)
    // spread BEFORE the per-row canonicalize+md5 projection (r13; guide §2.5
    // input skew / §6): a single-row-group parquet file — the fixture shape,
    // and the small-file shape generally — is unsplittable, so without the
    // repartition the whole table's md5 work pipelines into ONE scan task
    // no matter how many cores the session has. Keyed by the first PK
    // column (uniform for any real key; digests are global-sort/aggregate
    // shaped, so partitioning never changes a result); no-PK specs keep the
    // scan shape (their only hash consumers are PK-free aggregates).
    val spreadDf =
      if (spec.pks.nonEmpty) Readers.spread(df, col(spec.pks.head)) else df
    spreadDf.select(
      Canon.pkSortKey(df.schema, spec.pks, cfg.hashPrimaryKeys, cfg.tsPrecision).as("k"),
      Canon.rowHash(df.schema, cols, cfg.tsPrecision, spec.jsonColumns).as("h"))
  }

  /** Digest an already-(k,h)-projected frame in exact global (k,h) order —
    * SQL `md5(string_agg(h, '' ORDER BY k, h))` — through a driver-side MD5
    * chain over the hashes.
    *
    * The MD5 chain is inherently sequential, so the exact-parity fingerprint
    * is driver-bound by construction (like the reference's single-node
    * `string_agg`, README.md:69); at real scale [[merkleDigest]]'s combine is
    * parallel. Below `streamLimit` rows the hashes are collected in
    * partition-sorted runs and merged on the driver ([[collectSorted]]: one
    * job, no exchange, no range sampling). When the caller KNOWS the count
    * exceeds it, Spark sorts globally and the hashes stream through
    * toLocalIterator, so driver memory is one partition, not the table —
    * exact parity holds another order of magnitude before the Merkle
    * degrade (a k-way merge needs every run at once, which is what
    * streaming avoids). Callers without a cheap count (the single-mode
    * sparse paths) pass None and collect.
    */
  private def digestOrdered(kh: DataFrame, nRows: Option[Long] = None,
                            streamLimit: Long = Long.MaxValue): Option[String] = {
    val hashes =
      if (nRows.exists(_ > streamLimit)) {
        import scala.jdk.CollectionConverters.IteratorHasAsScala
        kh.orderBy(col("k"), col("h")).select(col("h")).toLocalIterator().asScala
      } else collectSorted(kh, Nil).iterator
    if (hashes.hasNext) Some(Digests.md5OfConcat(hashes.map(_.getString(0)))) else None
  }

  /** `kh`'s rows as `(h, rest…, k)`, collected in exact ascending (k, h)
    * order: each partition sorts its own rows where the (usually kept)
    * projection lies — no exchange — and the driver merges the P sorted
    * runs. `java.util.Arrays.sort` on objects is TimSort, which finds the
    * runs and merges them: O(n log P) comparisons, no boxing beyond the
    * collected rows, and correct whatever the runs (the merge never relies
    * on the partition layout). Equal to collecting `kh.orderBy(k, h)`,
    * without its range-bounds sampling job, shuffle and sort stage.
    */
  private def collectSorted(kh: DataFrame, rest: Seq[Column]): Array[Row] = {
    val rows = kh.sortWithinPartitions(col("k"), col("h"))
      .select(col("h") +: rest :+ col("k").cast(BinaryType): _*).collect()
    java.util.Arrays.sort(rows, KhOrder)
    rows
  }

  /** Spark's ascending (k, h) order over `(h, …, k: binary)` rows: k by
    * unsigned UTF-8 bytes (string binary collation; nulls first), then h.
    * Not `String.compareTo` on k: UTF-16 code units put supplementary-plane
    * characters (surrogates, 0xD800–0xDFFF) before U+E000–U+FFFF, where
    * UTF-8 puts them after. h is an MD5 hex string — ASCII, where the two
    * orders agree.
    */
  private val KhOrder: java.util.Comparator[Row] = (x: Row, y: Row) => {
    val c = java.util.Arrays.compareUnsigned(
      x.getAs[Array[Byte]](x.length - 1), y.getAs[Array[Byte]](y.length - 1))
    if (c != 0) c else x.getString(0).compareTo(y.getString(0))
  }

  /** full mode — /root/reference/query.go:122-158. Carries the same
    * `fullModeRowLimit` auto-degrade as the multi-mode path in [[runModes]]:
    * without it, the same `VerifyConfig` would yield different "full" outputs
    * depending on call path (single-mode vs multi-mode), and the driver-side
    * collect hazard the limit exists for would survive on this path. The
    * count and the digest share one canonicalize+hash pass ([[counted]]).
    */
  def fullDigest(df: DataFrame, spec: TableSpec, cfg: VerifyConfig): String = {
    val (kh, n) = counted(hashedRows(df, spec, cfg))
    try {
      if (n > cfg.fullModeRowLimit) degradeToMerkle(kh, cfg)
      else digestOrdered(kh, Some(n), cfg.streamingCollectRowLimit).getOrElse(NoRows)
    } finally Staging.releaseFrame(kh)
  }

  /** `df` lazily local-checkpointed and counted by ONE job — the Curate
    * stage idiom: the job that counts the rows also computes and keeps them,
    * so every later read starts from the kept rows. (A `persist()`-ed frame
    * under adaptive execution adds a separate job that fills the cache
    * before the count.) Release the frame with [[Staging.releaseFrame]].
    */
  private def counted(df: DataFrame): (DataFrame, Long) = {
    val kept = df.localCheckpoint(eager = false)
    try (kept, kept.queryExecution.toRdd.count())
    catch { case e: Throwable => Staging.releaseFrame(kept); throw e }
  }

  /** Shared full→Merkle degrade (scale guard), logged so a degraded run is
    * never silent; both comparison sides share `cfg`, so both degrade together.
    */
  private def degradeToMerkle(kh: DataFrame, cfg: VerifyConfig): String = {
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"full mode: row count exceeds fullModeRowLimit=${cfg.fullModeRowLimit}; " +
        s"switching to Merkle digest (${cfg.merkleBuckets} buckets)")
    merkleFromKh(kh.select(col("k"), col("h")), cfg.merkleBuckets)
  }

  /** sparse mode — deterministic 1/mod MD5-keyed sample *before* hashing all
    * columns (/root/reference/query.go:160-229). The reference filters through
    * one `IN` subquery **per PK column**, AND-ed (/root/reference/
    * query.go:186-205): a row passes when each of its PK values appears in
    * the P7-sampled set's projection of that column. For single-column PKs
    * that collapses to the direct P7 predicate (the sample key depends only
    * on that column), so we use the one-scan filter; for composite PKs the
    * per-column form selects a *superset* of the jointly-sampled rows and we
    * replicate it exactly ([[sparseDigestSemiJoin]]) — warts and all — so
    * fingerprints match real pgverify output.
    */
  def sparseFilter(df: DataFrame, spec: TableSpec, cfg: VerifyConfig): Column = {
    // the sparse key is the MD5 of the *unhashed* canonicalized PK concat
    // (/root/reference/query.go:190-203), independent of hashPrimaryKeys
    val pkConcat = Canon.pkSortKey(df.schema, spec.pks, hashPrimaryKeys = false, cfg.tsPrecision)
    GraftFunctions.md5Signed64(pkConcat) % cfg.sparseMod === 0
  }

  def sparseDigest(df: DataFrame, spec: TableSpec, cfg: VerifyConfig): String =
    if (spec.pks.lengthCompare(1) <= 0)
      digestOrdered(hashedRows(df.filter(sparseFilter(df, spec, cfg)), spec, cfg))
        .getOrElse(NoRows)
    else sparseDigestSemiJoin(df, spec, cfg)

  /** The reference's literal sparse formulation — `WHERE pk IN (SELECT pk
    * FROM t WHERE <P7>) AND pk2 IN (...)`, one independent subquery per PK
    * column (/root/reference/query.go:186-205) — as chained left-semi joins.
    * This is the production path for composite PKs (the per-column IN form is
    * NOT equivalent to the joint filter there; see [[sparseFilter]]).
    */
  def sparseDigestSemiJoin(df: DataFrame, spec: TableSpec, cfg: VerifyConfig): String = {
    val sampled = df.filter(sparseFilter(df, spec, cfg))
    val selected = spec.pks.foldLeft(df) { (acc, pk) =>
      acc.join(sampled.select(col(pk)), Seq(pk), "left_semi")
    }
    digestOrdered(hashedRows(selected, spec, cfg)).getOrElse(NoRows)
  }

  /** bookend mode — first and last `limit` rows in PK order, digested
    * separately and combined (/root/reference/query.go:231-277). Spark plans
    * the ORDER BY+LIMIT as TakeOrderedAndProject (no full sort/shuffle).
    *
    * Combine wart, replicated deliberately: the reference's outer
    * `md5(CONCAT(starthash::TEXT, endhash::TEXT))` casts TABLE ALIASES to
    * text, and PG renders a one-column row as a parenthesized literal — so
    * the combined hash is over `(<md5>)(<md5>)`, an empty side contributing
    * `()` (string_agg NULL inside the row renders empty). PgLiveSpec pins
    * this against a live server; the DuckDB twin (OracleSql.bookend)
    * replicates the same parens.
    */
  def bookendDigest(df: DataFrame, spec: TableSpec, cfg: VerifyConfig): String = {
    // persist the (k, h) projection: both bookend sides scan it, and without
    // the barrier the full canonicalize+hash pass runs twice (the first
    // TakeOrdered action populates the cache; the second reads it)
    val kh = hashedRows(df, spec, cfg).persist()
    try bookendFromKh(kh, cfg)
    finally kh.unpersist(blocking = false)
  }

  /** Bookend over an existing (k, h) frame — shared by [[bookendDigest]] and
    * the multi-mode path so the algorithm exists exactly once.
    */
  private def bookendFromKh(kh: DataFrame, cfg: VerifyConfig): String = {
    val start = kh.orderBy(col("k").asc, col("h").asc).limit(cfg.bookendLimit)
      .select(col("h")).collect().map(_.getString(0))
    val end = kh.orderBy(col("k").desc, col("h").desc).limit(cfg.bookendLimit)
      .select(col("h")).collect().map(_.getString(0))
    bookendCombine(start, end)
  }

  /** The reference's bookend combine over the first rows in (k, h) order and
    * the last rows in (k, h) DESCENDING order.
    */
  private def bookendCombine(start: Iterable[String], end: Iterable[String]): String = {
    val startHash = if (start.isEmpty) "" else Digests.md5OfConcat(start.iterator)
    val endHash = if (end.isEmpty) "" else Digests.md5OfConcat(end.iterator)
    Digests.md5OfConcat(Iterator("(", startHash, ")(", endHash, ")"))
  }

  /** rowcount mode — `SELECT count(*)::TEXT` (/root/reference/query.go:279-283). */
  def rowCountDigest(df: DataFrame): String = df.count().toString

  /** stats mode (our extension beyond the reference's four): a per-column
    * statistics fingerprint — row count plus, for every compared column,
    * (non-null count, min, max) over the CANONICAL text form, concatenated
    * with '|' separators in [[Canon.hashColumnOrder]] and MD5'd.
    *
    * Min/max compare the canonical STRINGS (binary UTF-8 order on both
    * engines), not native values — the digest needs only that both engines
    * pick the same element of an identical string set, never per-type
    * min/max semantics, so one rule covers the full type matrix. Column
    * names are lowercased in the digest for heterogeneous-catalog parity
    * (Derby's `R_REGIONKEY` and PG's `r_regionkey` must fingerprint alike).
    *
    * Scale shape: this is the CHEAP first-pass check for a nightly 100 TB
    * verify — one scan, map-side partial aggregation, a single scalar to the
    * driver. No per-row MD5, no sort, no join, and (unlike every hash mode)
    * no PK requirement, so it also covers P8-skipped tables. Sensitivity is
    * deliberately weaker than the hash modes: a drift that preserves every
    * column's count/min/max (e.g. swapping two mid-range values) passes —
    * run it as the screen, the Merkle/full digest as the confirm.
    */
  /** Mirror of Spark's hash-partitioning hashability rule: MapType is
    * rejected wherever it appears in the type tree, not just top-level.
    */
  private[core] def typeContainsMap(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: StructType => s.fields.exists(f => typeContainsMap(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => typeContainsMap(a.elementType)
      case _ => false
    }

  def statsDigest(df: DataFrame, spec: TableSpec, cfg: VerifyConfig): String = {
    // spread before the aggregate for the same single-row-group reason as
    // [[hashedRows]] — the per-column canonText evaluation for min/max is
    // the CPU stage. No PK requirement here (stats covers P8 tables), so
    // key on the whole row; count/min/max are commutative, result unchanged.
    // key on the hashable columns only: hash partitioning rejects MapType
    // at ANY nesting depth (a struct/array wrapping a map is just as
    // unhashable — r13 advisor), and stats must stay computable for every
    // table shape; when nothing hashable remains, no spread
    val keyCols = df.schema.fields.filterNot(f => typeContainsMap(f.dataType))
      .map(f => col(f.name)).toSeq
    val spreadDf =
      if (keyCols.isEmpty) df else Readers.spread(df, struct(keyCols: _*))
    spreadDf.agg(statsDigestCol(df.schema, spec, cfg).as("fp")).head().getString(0)
  }

  /** The stats fingerprint as a single aggregate Column over `schema`'s
    * compared columns — the batch mode above, the aggregate [[runModes]]
    * observes on its projection pass, and the streaming continuous variant
    * ([[graft.streaming.EventStreams.runningStats]]) share it, so they can
    * never drift. Every piece (count, min, max) is a commutative
    * monotone aggregate under APPEND-ONLY input, which is what makes the
    * streaming twin exact: the running digest equals the batch digest of
    * everything ingested so far. Deletes/updates break min/max monotonicity —
    * re-verification after mutation is the Merkle snapshot's job.
    */
  def statsDigestCol(schema: StructType, spec: TableSpec, cfg: VerifyConfig): Column = {
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = Canon.hashColumnOrder(schema.fields.map(_.name).filter(spec.validColumn).toSeq)
    val pieces: Seq[Column] = cols.flatMap { name =>
      val canon =
        if (spec.jsonColumns.exists(_.equalsIgnoreCase(name))) Canon.canonJson(col(name))
        else Canon.canonText(col(name), byName(name), cfg.tsPrecision)
      Seq(lit("|" + name.toLowerCase + "|"),
        count(col(name)).cast(StringType),
        lit("|"), coalesce(min(canon), lit("")),
        lit("|"), coalesce(max(canon), lit("")))
    }
    when(count(lit(1)) === 0, lit(NoRows))
      .otherwise(md5(concat(count(lit(1)).cast(StringType) +: pieces: _*)))
  }

  /** Order-insensitive fingerprint (our extension): the SUM of each row
    * hash's signed-64 reinterpretation, accumulated exactly in
    * DECIMAL(38,0) (no overflow before ~10¹⁹ rows). The sum is commutative
    * and associative, so the aggregate combines map-side, is independent of
    * partitioning, and — unlike the ordered digest, which must re-sort all
    * history — is INCREMENTALLY MAINTAINABLE: the streaming variant
    * ([[graft.streaming.EventStreams.runningFingerprint]]) folds each
    * micro-batch into one decimal per group. The price: it cannot
    * distinguish reorderings of the same row multiset — exactly the
    * property that makes it incremental; value-sum cancellation collisions
    * are ~2⁻⁶⁴.
    */
  def unorderedDigestCol(schema: StructType, spec: TableSpec, cfg: VerifyConfig): Column =
    sum(graft.functions.GraftFunctions.md5Signed64(
      Canon.rowHash(schema, schema.fieldNames.filter(spec.validColumn).toSeq,
        cfg.tsPrecision, spec.jsonColumns)).cast(DecimalType(38, 0)))

  def unorderedDigest(df: DataFrame, spec: TableSpec, cfg: VerifyConfig): String = {
    val r = df.agg(unorderedDigestCol(df.schema, spec, cfg).as("d")).head()
    if (r.isNullAt(0)) NoRows else r.getDecimal(0).toBigInteger.toString
  }

  /** Scalable Merkle fingerprint (our extension; SURVEY.md §4). Deterministic
    * across partitioning and cluster size: bucket ids derive from the row's PK
    * MD5, per-bucket digests order rows by (k, h), and the final digest folds
    * bucket digests in bucket-id order. One shuffle (groupBy bucket); the
    * per-bucket ordered aggregation is built-in codegen'd
    * `array_sort(collect_list(struct))`, memory-bounded by bucket sizing.
    */
  def merkleBucketDigests(df: DataFrame, spec: TableSpec, cfg: VerifyConfig, buckets: Int): DataFrame =
    merkleBucketsFromKh(hashedRows(df, spec, cfg), buckets)

  private def merkleBucketsFromKh(kh: DataFrame, buckets: Int): DataFrame =
    kh.withColumn("bucket", GraftFunctions.md5Bucket(col("k"), buckets))
      .groupBy(col("bucket"))
      .agg(md5(array_join(
        transform(array_sort(collect_list(struct(col("k"), col("h")))), s => s.getField("h")),
        "")).as("bucket_hash"))

  private def merkleFromKh(kh: DataFrame, buckets: Int): String = {
    val parts = merkleBucketsFromKh(kh, buckets).orderBy(col("bucket")).collect()
    if (parts.isEmpty) NoRows
    else Digests.md5OfConcat(parts.iterator.map(_.getString(1)))
  }

  def merkleDigest(df: DataFrame, spec: TableSpec, cfg: VerifyConfig, buckets: Int): String =
    merkleFromKh(hashedRows(df, spec, cfg), buckets)

  /** Incremental re-verification (our extension): persist the per-bucket
    * digest vector a [[merkleDigest]] computes and then discards, so the next
    * run diffs bucket vectors instead of re-verifying the whole table — the
    * "verify 100 TB nightly" shape. A changed row flips exactly its bucket;
    * [[merkleChangedBuckets]] names the flipped buckets and [[RowDiff]] can
    * then drill into ~1/buckets of the data. The reference re-reads
    * everything every run (its only mitigation is sparse mode,
    * /root/reference/query.go:186-205).
    */
  def writeMerkleSnapshot(df: DataFrame, spec: TableSpec, cfg: VerifyConfig,
                          buckets: Int, path: String): Unit =
    writeMerkleSnapshotVector(merkleBucketDigests(df, spec, cfg, buckets), buckets, path)

  /** Persist an already-computed bucket vector — the one authority on the
    * snapshot format: `n_buckets` rides along as metadata because a diff
    * between vectors built with different bucket counts is meaningless mass
    * drift, and the read side must be able to refuse it loudly.
    */
  def writeMerkleSnapshotVector(vector: DataFrame, buckets: Int, path: String): Unit =
    vector.withColumn("n_buckets", lit(buckets))
      .write.mode("overwrite").parquet(path)

  /** Read a snapshot, failing loudly when it was built with a different
    * bucket count than `expectBuckets` (pass None to skip the check). An
    * EMPTY snapshot (zero-row table at write time) carries no metadata rows
    * and compares against anything.
    */
  def readMerkleSnapshot(spark: org.apache.spark.sql.SparkSession, path: String,
                         expectBuckets: Option[Int] = None): DataFrame = {
    val snap = spark.read.parquet(path)
    for (expected <- expectBuckets if snap.columns.contains("n_buckets");
         actualRow <- snap.select("n_buckets").head(1).headOption) {
      val actual = actualRow.getInt(0)
      require(actual == expected,
        s"Merkle snapshot at $path was built with $actual buckets, run expects " +
          s"$expected — bucket vectors with different widths cannot be compared " +
          s"(re-baseline or pass --merkle-buckets $actual)")
    }
    snap.drop("n_buckets")
  }

  /** Buckets whose digest differs between two snapshot vectors: `changed`
    * (both sides, different digest), `appeared` (bucket gained its first
    * rows), `vanished` (bucket lost all rows). Output is buckets-sized
    * (≤ `merkleBuckets` rows), never data-sized.
    */
  def merkleChangedBuckets(prev: DataFrame, curr: DataFrame): DataFrame =
    prev.select(col("bucket"), col("bucket_hash").as("prev_hash"))
      .join(curr.select(col("bucket"), col("bucket_hash").as("curr_hash")),
        Seq("bucket"), "full_outer")
      .filter(!(col("prev_hash") <=> col("curr_hash")))
      .select(col("bucket"),
        coalesce(col("prev_hash"), lit("")).as("prev_hash"),
        coalesce(col("curr_hash"), lit("")).as("curr_hash"),
        when(col("prev_hash").isNull, "appeared")
          .when(col("curr_hash").isNull, "vanished")
          .otherwise("changed").as("status"))

  /** Mode dispatch — /root/reference/verify.go:205-232. */
  def runMode(mode: String, df: DataFrame, spec: TableSpec, cfg: VerifyConfig): String = mode match {
    case TestModes.Full     => fullDigest(df, spec, cfg)
    case TestModes.Sparse   => sparseDigest(df, spec, cfg)
    case TestModes.Bookend  => bookendDigest(df, spec, cfg)
    case TestModes.RowCount => rowCountDigest(df)
    case TestModes.Stats    => statsDigest(df, spec, cfg)
    case other => throw new IllegalArgumentException(s"unknown test mode $other")
  }

  /** All requested modes over one table, each piece of work done once — the
    * reference runs one server-side query per mode
    * (verify.go:205-232); here one table costs one read, one
    * projection and, in the common case, two Spark jobs:
    *
    *  - the canonicalize+hash projection `(k, h)` — plus the sparse key `sk`
    *    and the PK columns when sparse is requested — is built once, kept
    *    and counted by ONE job ([[counted]]). That count `n` IS rowcount
    *    mode, and stats is an aggregate observed on the rows the same job
    *    materializes. Only when the projection cannot be built
    *    (e.g. a PK column is missing, which sends every hash mode to
    *    `(err)`) do rowcount and stats scan `df` themselves.
    *  - When full is requested and exact (`n ≤ fullModeRowLimit`), ONE
    *    (k, h)-ordered stream comes to the driver and full, bookend and
    *    sparse are all folded from it ([[sortedPass]]). Up to
    *    `streamingCollectRowLimit` rows that stream is the second job: the
    *    kept projection sorted within its partitions and collected, the
    *    runs merged on the driver ([[collectSorted]]) — no range sampling,
    *    no shuffle, no sort stage. Past it, Spark sorts globally and the
    *    stream arrives through toLocalIterator. A failed pass reports
    *    `(err)` for every mode it serves.
    *  - Otherwise (full not requested, or degraded to Merkle) each hash mode
    *    runs its own plan over the kept projection, as does
    *    composite-PK sparse when the pass streams.
    *
    * An input that [[Readers.spread]] spreads adds the spread's
    * shuffle-map job in front of the count. Per-mode failures degrade to the
    * `(err)` sentinel like the reference (X3).
    */
  def runModes(modes: Seq[String], df: DataFrame, spec: TableSpec, cfg: VerifyConfig): Map[String, String] = {
    val needsHash = modes.exists(m => m != TestModes.RowCount && m != TestModes.Stats)
    val sparse = modes.contains(TestModes.Sparse)
    val composite = spec.pks.lengthCompare(1) > 0
    val khOpt: Option[(DataFrame, Long, Option[String])] = if (!needsHash) None else Try {
      // same pre-projection spread as [[hashedRows]] (r13): the one-off
      // canonicalize+hash pass must not pipeline into a single scan task
      // when the input is unsplittable (missing PK columns still throw
      // inside this Try — the per-mode (err) degrade is unchanged)
      val spread = if (spec.pks.nonEmpty) Readers.spread(df, col(spec.pks.head)) else df
      val src =
        if (!modes.contains(TestModes.Stats)) spread
        else spread.observe("stats", statsDigestCol(df.schema, spec, cfg).as("fp"))
      // pk columns ride along (aliased positionally so they can't collide
      // with k/h/sk) for the composite-PK sparse per-column semantics
      val sparseCols =
        if (!sparse) Nil
        else GraftFunctions.md5Signed64(
          Canon.pkSortKey(df.schema, spec.pks, hashPrimaryKeys = false, cfg.tsPrecision)).as("sk") +:
          (if (composite) spec.pks.zipWithIndex.map { case (p, i) => col(p).as(s"__pk$i") } else Nil)
      val projection = src.select(
        Canon.pkSortKey(df.schema, spec.pks, cfg.hashPrimaryKeys, cfg.tsPrecision).as("k") +:
          Canon.rowHash(df.schema, hashableColumns(df, spec), cfg.tsPrecision, spec.jsonColumns).as("h") +:
          sparseCols: _*)
      // the stats aggregate observed inside the counting job is final once
      // that job ends
      val (kh, n) = counted(projection)
      (kh, n, projection.queryExecution.observedMetrics.get("stats").map(_.getString(0)))
    }.toOption
    val fromPass: Map[String, String] = khOpt match {
      case Some((kh, n, _)) if modes.contains(TestModes.Full) && n <= cfg.fullModeRowLimit =>
        val streaming = n > cfg.streamingCollectRowLimit
        // composite-PK sparse needs the whole sampled set before it can
        // select a row, so only a collected pass serves it, and only over
        // PK types whose join equality the driver reproduces
        val servesSparse = sparse && (!composite || (!streaming &&
          spec.pks.indices.forall(i => driverJoinable(kh.schema(s"__pk$i").dataType))))
        val served = Set(TestModes.Full) ++
          Some(TestModes.Bookend).filter(modes.contains) ++
          Some(TestModes.Sparse).filter(_ => servesSparse)
        Try(sortedPass(kh, n, served, composite, cfg))
          .getOrElse(served.iterator.map(_ -> Err).toMap)
      case _ => Map.empty
    }
    val out = modes.map { mode =>
      mode -> fromPass.getOrElse(mode, Try {
        mode match {
          case TestModes.RowCount => khOpt.fold(rowCountDigest(df))(_._2.toString)
          // stats has no per-row hash and no PK need, so it stays computable
          // over df for tables every hash mode (err)s on
          case TestModes.Stats => khOpt.flatMap(_._3).getOrElse(statsDigest(df, spec, cfg))
          // full reaches here only past fullModeRowLimit (the exact digest
          // is the pass): the driver-side collect is the 100TB killer, so
          // degrade to the Merkle digest (same sensitivity, parallel
          // combine, different literal value)
          case TestModes.Full => degradeToMerkle(khOpt.get._1, cfg)
          case TestModes.Sparse =>
            // the sampled set is ~1/sparseMod of the table — still collect-
            // hazardous at scale, so both paths count before digesting
            val kh = khOpt.get._1
            val sampled = kh.filter(col("sk") % cfg.sparseMod === 0)
            if (!composite)
              // a filter over the kept kh: the guarding count and the
              // digest both scan the kept rows
              digestOrdered(sampled.select(col("k"), col("h")), Some(sampled.count()),
                cfg.streamingCollectRowLimit).getOrElse(NoRows)
            else {
              // the chained semi-joins are NOT covered by kh's checkpoint —
              // materialize them once so the guarding count doesn't run the
              // whole join tree a second time when the digest evaluates
              val selected = spec.pks.indices.foldLeft(kh) { (acc, i) =>
                acc.join(sampled.select(col(s"__pk$i")), Seq(s"__pk$i"), "left_semi")
              }.select(col("k"), col("h")).persist()
              try digestOrdered(selected, Some(selected.count()),
                cfg.streamingCollectRowLimit).getOrElse(NoRows)
              finally selected.unpersist(blocking = false)
            }
          case TestModes.Bookend => bookendFromKh(khOpt.get._1.select(col("k"), col("h")), cfg)
          case other => throw new IllegalArgumentException(s"unknown test mode $other")
        }
      }.getOrElse(Err))
    }.toMap
    khOpt.foreach(t => Staging.releaseFrame(t._1))
    out
  }

  /** The one (k, h)-ordered pass of [[runModes]]: the exact full digest's
    * sorted hash stream, folded on the driver into every `served` mode at
    * once — full chains every hash; bookend keeps the first and the last
    * `bookendLimit` hashes (the descending end side is the ascending tail
    * reversed: ascending sorts put nulls first and descending ones last, so
    * the two orders are exact mirrors); sparse chains the sampled rows,
    * which in global (k, h) order are exactly the order the per-mode sparse
    * digest sorts them into. The stream is [[collectSorted]]'s merged runs
    * up to `streamingCollectRowLimit` rows, Spark's global sort past it;
    * both deliver rows as `(h, sk, __pk…)` (the collected ones with k last).
    *
    * Composite-PK sparse keeps the semi-join's per-column membership: a row
    * is selected when each of its PK values equals that column's value on
    * some sampled row, under Spark's join-key equality ([[joinKey]]).
    */
  private def sortedPass(kh: DataFrame, n: Long, served: Set[String], composite: Boolean,
                         cfg: VerifyConfig): Map[String, String] = {
    import scala.jdk.CollectionConverters.IteratorHasAsScala
    val sparse = served(TestModes.Sparse)
    val nPks = if (sparse && composite) kh.columns.count(_.startsWith("__pk")) else 0
    val rest = if (sparse) col("sk") +: (0 until nPks).map(i => col(s"__pk$i")) else Nil
    // field 1 is sk; a null key fails the SQL filter `sk % mod = 0`
    val sampled: Row => Boolean = r => !r.isNullAt(1) && r.getLong(1) % cfg.sparseMod == 0
    val limit = if (served(TestModes.Bookend)) cfg.bookendLimit max 0 else 0
    val full, sparseChain = new Digests.Md5Chain
    val head = scala.collection.mutable.ArrayBuffer.empty[String]
    val tail = scala.collection.mutable.Queue.empty[String]
    def fold(rows: Iterator[Row], selected: Row => Boolean): Unit = rows.foreach { r =>
      val h = r.getString(0)
      full.add(h)
      if (limit > 0) {
        if (head.length < limit) head += h
        tail.enqueue(h)
        if (tail.length > limit) tail.dequeue()
      }
      if (sparse && selected(r)) sparseChain.add(h)
    }
    if (n > cfg.streamingCollectRowLimit)
      fold(kh.orderBy(col("k"), col("h")).select(col("h") +: rest: _*).toLocalIterator().asScala,
        sampled)
    else {
      val rows = collectSorted(kh, rest)
      fold(rows.iterator, if (nPks == 0) sampled else {
        val sets = Array.fill(nPks)(scala.collection.mutable.HashSet.empty[Any])
        for (r <- rows if sampled(r); i <- 0 until nPks if !r.isNullAt(2 + i))
          sets(i) += joinKey(r.get(2 + i))
        r => (0 until nPks).forall(i => !r.isNullAt(2 + i) && sets(i).contains(joinKey(r.get(2 + i))))
      })
    }
    def chained(c: Digests.Md5Chain): String = if (c.isEmpty) NoRows else c.hex
    Map(TestModes.Full -> chained(full)) ++
      (if (served(TestModes.Bookend)) Some(TestModes.Bookend -> bookendCombine(head, tail.reverse))
       else None) ++
      (if (sparse) Some(TestModes.Sparse -> chained(sparseChain)) else None)
  }

  /** PK column types whose Spark join-key equality [[joinKey]] reproduces. */
  private def driverJoinable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         BinaryType | DateType | TimestampType | TimestampNTZType | _: DecimalType => true
    case s: StringType => s == StringType // binary collation only
    case _ => false
  }

  /** A driver-side value whose `==` is Spark's join-key equality on it:
    * floating zeros are one key and every NaN matches every NaN (Spark
    * normalizes both in join keys), binary compares by content, decimals
    * compare by value.
    */
  private def joinKey(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    case f: Float => java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case d: java.math.BigDecimal => d.stripTrailingZeros
    case other => other
  }
}
