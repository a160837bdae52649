package graft

import org.apache.spark.sql.functions._

import graft.core._
import graft.functions.{Digests, OrderedConcatMd5}

/** Port of the reference's agree/disagree integration strategy
  * (/root/reference/integration_test.go): identical targets agree on every
  * mode; a perturbed target (row added / removed / value changed) must flip
  * every mode that can see the change. Plus invariance properties from
  * SURVEY.md §5(d).
  */
class FingerprintSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = VerifyConfig(bookendLimit = 10)
  private val spec = TableSpec("t", Seq("id"))

  private def df(rows: (Int, String, Double)*) =
    rows.toSeq.toDF("id", "s", "d")

  private val base = df((1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5), (4, "d", 4.5))

  test("identical frames agree on every mode") {
    val other = df((4, "d", 4.5), (2, "b", 2.5), (3, "c", 3.5), (1, "a", 1.5)) // shuffled rows
    for (mode <- TestModes.All) {
      assert(Fingerprints.runMode(mode, base, spec, cfg)
        == Fingerprints.runMode(mode, other, spec, cfg), s"mode $mode")
    }
  }

  test("full digest is invariant under partitioning") {
    assert(Fingerprints.fullDigest(base.repartition(7), spec, cfg)
      == Fingerprints.fullDigest(base.coalesce(1), spec, cfg))
  }

  test("a changed value flips full/sparse-visible digests but not rowcount") {
    val changed = df((1, "a", 1.5), (2, "XXX", 2.5), (3, "c", 3.5), (4, "d", 4.5))
    assert(Fingerprints.fullDigest(base, spec, cfg) != Fingerprints.fullDigest(changed, spec, cfg))
    assert(Fingerprints.rowCountDigest(base) == Fingerprints.rowCountDigest(changed))
    assert(Fingerprints.bookendDigest(base, spec, cfg) != Fingerprints.bookendDigest(changed, spec, cfg))
  }

  test("an extra row flips every mode (the reference negative test)") {
    val extra = df((1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5), (4, "d", 4.5), (5, "e", 5.5))
    assert(Fingerprints.fullDigest(base, spec, cfg) != Fingerprints.fullDigest(extra, spec, cfg))
    assert(Fingerprints.bookendDigest(base, spec, cfg) != Fingerprints.bookendDigest(extra, spec, cfg))
    assert(Fingerprints.rowCountDigest(base) != Fingerprints.rowCountDigest(extra))
    assert(Fingerprints.statsDigest(base, spec, cfg) != Fingerprints.statsDigest(extra, spec, cfg))
  }

  test("stats digest: sensitivity is count/min/max of the canonical text, by design") {
    val s = Fingerprints.statsDigest(base, spec, cfg)
    // a min-breaking change flips it ...
    assert(s != Fingerprints.statsDigest(
      df((1, "A", 1.5), (2, "b", 2.5), (3, "c", 3.5), (4, "d", 4.5)), spec, cfg))
    // ... a NULL flips it (non-null count drops, even with min/max intact) ...
    val withNull = Seq((1, Some("a"), 1.5), (2, None: Option[String], 2.5),
      (3, Some("c"), 3.5), (4, Some("d"), 4.5)).toDF("id", "s", "d")
    assert(s != Fingerprints.statsDigest(withNull, spec, cfg))
    // ... but a mid-range swap that preserves every column's stats passes —
    // the documented screen-vs-confirm trade (Fingerprints.statsDigest)
    val swapped = df((1, "a", 2.5), (2, "b", 1.5), (3, "c", 3.5), (4, "d", 4.5))
    assert(s == Fingerprints.statsDigest(swapped, spec, cfg))
    // and the empty table takes the sentinel, like the hash modes
    assert(Fingerprints.statsDigest(base.limit(0), spec, cfg) == Fingerprints.NoRows)
  }

  test("stats digest needs no primary key (covers P8-skipped tables)") {
    val noPk = TableSpec("t", Seq.empty)
    val viaRunModes = Fingerprints.runModes(Seq(TestModes.Stats), base, noPk, cfg)
    assert(viaRunModes(TestModes.Stats) == Fingerprints.statsDigest(base, noPk, cfg))
    assert(viaRunModes(TestModes.Stats) != Fingerprints.Err)
  }

  test("the one sorted pass equals each mode's own digest, single and composite PK") {
    val c = VerifyConfig(bookendLimit = 3, sparseMod = 3)
    def perMode(d: org.apache.spark.sql.DataFrame, sp: TableSpec): Map[String, String] = Map(
      TestModes.Full -> Fingerprints.fullDigest(d, sp, c),
      TestModes.Sparse -> Fingerprints.sparseDigest(d, sp, c),
      TestModes.Bookend -> Fingerprints.bookendDigest(d, sp, c),
      TestModes.RowCount -> d.count().toString,
      TestModes.Stats -> Fingerprints.statsDigest(d, sp, c))
    // composite keys whose members exercise Spark's join-key equality in
    // the per-column membership: -0.0 joins 0.0, NaN joins NaN, a null
    // never joins, binary compares by content
    val doubles = Seq(Some(0.0), Some(-0.0), Some(1.5), Some(Double.NaN), None)
    val composite = (for { (a, i) <- doubles.zipWithIndex; b <- 0 to 5 }
      yield (a, s"b$b".getBytes("UTF-8"), s"v$i-$b")).toDF("a", "b", "s")
    val cspec = TableSpec("t", Seq("a", "b"))
    for ((d, sp) <- Seq(base -> spec, composite -> cspec)) {
      val expected = perMode(d, sp)
      assert(expected.values.forall(_ != Fingerprints.Err), expected)
      assert(Fingerprints.runModes(TestModes.All, d, sp, c) == expected)
      // the streamed pass (composite sparse keeps the semi-join there) and
      // the per-mode plans without full mode give the same outputs
      assert(Fingerprints.runModes(TestModes.All, d, sp,
        c.copy(streamingCollectRowLimit = 1L)) == expected)
      val noFull = TestModes.All.filterNot(_ == TestModes.Full)
      assert(Fingerprints.runModes(noFull, d, sp, c) == expected - TestModes.Full)
    }
    // the composite fixture selects a strict superset of the jointly
    // sampled rows, so the membership rule is what the digest pins
    val joint = composite.filter(Fingerprints.sparseFilter(composite, cspec, c))
    assert(Fingerprints.sparseDigest(composite, cspec, c) !=
      Fingerprints.fullDigest(joint, cspec, c))
  }

  /** full, bookend and sparse folded from Spark's own global
    * `orderBy(k, h)` — the order the driver-side merge must reproduce.
    */
  private def referenceFold(d: org.apache.spark.sql.DataFrame, sp: TableSpec,
                            c: VerifyConfig): Map[String, String] = {
    def ordered(f: org.apache.spark.sql.DataFrame, desc: Boolean = false) = {
      val kh = Fingerprints.hashedRows(f, sp, c)
      val order = if (desc) Seq(col("k").desc, col("h").desc) else Seq(col("k"), col("h"))
      kh.orderBy(order: _*).select("h").collect().map(_.getString(0)).toSeq
    }
    def md5(hs: Seq[String]) = if (hs.isEmpty) Fingerprints.NoRows else Digests.md5OfConcat(hs.iterator)
    def part(hs: Seq[String]) = if (hs.isEmpty) "" else Digests.md5OfConcat(hs.iterator)
    val sampled = d.filter(Fingerprints.sparseFilter(d, sp, c))
    // composite PKs keep the reference's per-column IN membership
    val selected =
      if (sp.pks.length == 1) sampled
      else sp.pks.foldLeft(d)((acc, pk) => acc.join(sampled.select(col(pk)), Seq(pk), "left_semi"))
    Map(TestModes.Full -> md5(ordered(d)),
      TestModes.Bookend -> Digests.md5OfConcat(Iterator("(",
        part(ordered(d).take(c.bookendLimit)), ")(",
        part(ordered(d, desc = true).take(c.bookendLimit)), ")")),
      TestModes.Sparse -> md5(ordered(selected)))
  }

  test("the merged sorted runs fold exactly like Spark's global (k, h) sort") {
    val c = VerifyConfig(bookendLimit = 4, sparseMod = 3)
    // supplementary-plane characters (UTF-16 surrogates) sort BEFORE
    // U+E000..U+FFFF by String.compareTo but AFTER them in UTF-8 bytes
    val chars = Seq("\uD83D\uDE00", "\uE000", "\uD800\uDC00", "\uFFFD", "\uFF21", "a", "\uD83E\uDD80")
    val unicode = (for { (ch, i) <- chars.zipWithIndex; j <- 0 until 5 }
      yield (s"$ch$j", i * 10 + j, s"v$i-$j")).toDF("id", "n", "s")
    val uspec = TableSpec("t", Seq("id"))
    // duplicate (k, h) pairs: the same rows twice, split across partitions
    val dupes = unicode.union(unicode).repartition(3)
    val composite = (for { a <- 0 until 6; b <- Seq("x", "\uD83D\uDE00", "\uE001") }
      yield (a, b, s"$a$b")).toDF("a", "b", "s")
    val cspec = TableSpec("t", Seq("a", "b"))
    val layouts = Seq(
      "unicode, 4 partitions" -> (unicode.repartition(4), uspec, c),
      "duplicates across partitions" -> (dupes, uspec, c),
      "empty partitions" -> (unicode.filter(col("n") % 10 === 0).repartition(9), uspec, c),
      "single partition" -> (unicode.coalesce(1), uspec, c),
      "--hash-primary-keys" -> (unicode.repartition(3), uspec, c.copy(hashPrimaryKeys = true)),
      "composite-PK sparse" -> (composite.repartition(4), cspec, c))
    for ((name, (d, sp, cfg)) <- layouts) {
      val expected = referenceFold(d, sp, cfg)
      val got = Fingerprints.runModes(TestModes.All, d, sp, cfg)
      assert(expected.forall { case (m, v) => got(m) == v }, s"$name: $got vs $expected")
      assert(Fingerprints.fullDigest(d, sp, cfg) == expected(TestModes.Full), name)
      assert(Fingerprints.sparseDigest(d, sp, cfg) == expected(TestModes.Sparse), name)
    }
    // the unicode keys really do order differently under UTF-16 and UTF-8
    val keys = chars.map(_ + "0")
    assert(keys.sorted != keys.sortBy(_.getBytes("UTF-8").map(b => (b & 0xff).toChar).mkString))
  }

  test("runModes(All) job budget: count + collected pass, plus the spread's shuffle") {
    val cfg = VerifyConfig()
    // unspread: a fixture table under the spread threshold — one job counts
    // and caches the projection, one collects its sorted runs
    val li = Readers.fixture(spark, sfDir, "lineitem")
    val lspec = Fixtures.specs("lineitem")
    assert(Readers.spread(li, col(lspec.pks.head)) eq li)
    val (out, jobs) = jobsOf(Fingerprints.runModes(TestModes.All, li, lspec, cfg))
    assert(!out.values.exists(_ == Fingerprints.Err), out)
    assert(jobs.size <= 2, jobs)
    // spread: a single-partition source too big for one task gains the
    // spread's shuffle-map job, nothing else
    val big = spark.range(0, 200000, 1, 1).select(col("id"), concat(lit("p"), col("id")).as("s"))
    val bspec = TableSpec("t", Seq("id"))
    assert(!(Readers.spread(big, col("id")) eq big))
    val (bigOut, bigJobs) = jobsOf(Fingerprints.runModes(TestModes.All, big, bspec, cfg))
    assert(!bigOut.values.exists(_ == Fingerprints.Err), bigOut)
    assert(bigJobs.size <= 3, bigJobs)
  }

  test("streamed exact digest equals collect() digest across the threshold") {
    // the toLocalIterator path must be byte-identical to the collect() path
    // it replaces past streamingCollectRowLimit; force the threshold to both
    // sides of a 200k-row frame (the same equivalence plus driver peak heap
    // at 12M rows is recorded in IMPLEMENTATION.md)
    val big = spark.range(200000).select(col("id"),
      concat(lit("payload-"), col("id")).as("s"))
    val base = VerifyConfig(fullModeRowLimit = Long.MaxValue)
    val viaCollect = Fingerprints.fullDigest(big, TableSpec("t", Seq("id")),
      base.copy(streamingCollectRowLimit = Long.MaxValue))
    val viaStream = Fingerprints.fullDigest(big, TableSpec("t", Seq("id")),
      base.copy(streamingCollectRowLimit = 1L))
    assert(viaCollect == viaStream)
  }

  test("incremental Merkle: one perturbed row flips exactly one bucket; snapshot round-trips") {
    val orders = Readers.fixture(spark, sfDir, "orders")
    val ospec = Fixtures.specs("orders")
    val buckets = 64
    val prev = Fingerprints.merkleBucketDigests(orders, ospec, cfg, buckets)
    // identical data → empty diff
    assert(Fingerprints.merkleChangedBuckets(prev,
      Fingerprints.merkleBucketDigests(orders, ospec, cfg, buckets)).isEmpty)
    // perturb exactly one row's value
    val key = orders.agg(min(col("o_orderkey"))).head().getLong(0)
    val tweaked = orders.withColumn("o_totalprice",
      when(col("o_orderkey") === key, col("o_totalprice") + 1).otherwise(col("o_totalprice")))
    val curr = Fingerprints.merkleBucketDigests(tweaked, ospec, cfg, buckets)
    val changed = Fingerprints.merkleChangedBuckets(prev, curr).collect()
    assert(changed.length == 1 && changed.head.getAs[String]("status") == "changed")
    // a persisted snapshot diffs identically to the in-memory vector
    val dir = java.nio.file.Files.createTempDirectory("graft-merkle").toString
    Fingerprints.writeMerkleSnapshot(orders, ospec, cfg, buckets, dir)
    val snap = Fingerprints.readMerkleSnapshot(spark, dir)
    assert(Fingerprints.merkleChangedBuckets(snap, prev).isEmpty)
    assert(Fingerprints.merkleChangedBuckets(snap, curr).collect().toSeq == changed.toSeq)
  }

  test("bucket-scoped diff equals the full diff: differing rows always flip their bucket") {
    val orders = Readers.fixture(spark, sfDir, "orders")
    val ospec = Fixtures.specs("orders")
    val pert = orders.filter(col("o_orderkey") % 500 =!= 3)
      .withColumn("o_totalprice", when(col("o_orderkey") % 500 === 7,
        col("o_totalprice") + 1).otherwise(col("o_totalprice")))
    val buckets = 64
    val changed = Fingerprints.merkleChangedBuckets(
        Fingerprints.merkleBucketDigests(orders, ospec, cfg, buckets),
        Fingerprints.merkleBucketDigests(pert, ospec, cfg, buckets))
      .select("bucket").collect().map(_.getLong(0)).toSeq
    assert(changed.nonEmpty && changed.length < buckets)
    val full = RowDiff.diff(orders, pert, ospec).collect().toSeq
    val scoped = RowDiff.diffInBuckets(orders, pert, ospec, changed, buckets).collect().toSeq
    assert(scoped == full)
  }

  test("empty table digests to the no-rows sentinel") {
    val empty = base.filter(col("id") < 0)
    assert(Fingerprints.fullDigest(empty, spec, cfg) == Fingerprints.NoRows)
    assert(Fingerprints.sparseDigest(empty, spec, cfg) == Fingerprints.NoRows)
    assert(Fingerprints.rowCountDigest(empty) == "0")
  }

  test("sparse digest only hashes the deterministic 1/mod sample") {
    // with mod=1 every row is sampled: sparse == full
    assert(Fingerprints.sparseDigest(base, spec, cfg.copy(sparseMod = 1))
      == Fingerprints.fullDigest(base, spec, cfg))
  }

  test("bookend with limit >= n equals md5(full||full-reversed bookends)") {
    val d1 = Fingerprints.bookendDigest(base, spec, cfg.copy(bookendLimit = 100))
    val d2 = Fingerprints.bookendDigest(base.repartition(5), spec, cfg.copy(bookendLimit = 100))
    assert(d1 == d2)
  }

  test("hashPrimaryKeys changes the sort but stays deterministic") {
    val a = Fingerprints.fullDigest(base, spec, cfg.copy(hashPrimaryKeys = true))
    val b = Fingerprints.fullDigest(base.repartition(3), spec, cfg.copy(hashPrimaryKeys = true))
    assert(a == b)
  }

  test("merkle digest is partition-invariant and change-sensitive") {
    val a = Fingerprints.merkleDigest(base, spec, cfg, buckets = 8)
    val b = Fingerprints.merkleDigest(base.repartition(5), spec, cfg, buckets = 8)
    assert(a == b)
    val changed = df((1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5), (4, "ZZ", 4.5))
    assert(a != Fingerprints.merkleDigest(changed, spec, cfg, buckets = 8))
  }

  test("OrderedConcatMd5 aggregator equals the streamed exact digest") {
    val kh = Fingerprints.hashedRows(base, spec, cfg)
    val agg = new OrderedConcatMd5().toColumn
    val viaAgg = kh.as[(String, String)].select(agg).head()
    assert(viaAgg == Fingerprints.fullDigest(base, spec, cfg))
  }

  test("column include/exclude filters change the hashed column set (P6)") {
    val withS = Fingerprints.fullDigest(base, spec.copy(excludeColumns = Seq("d")), cfg)
    val withD = Fingerprints.fullDigest(base, spec.copy(excludeColumns = Seq("s")), cfg)
    assert(withS != withD)
    val includeOnly = Fingerprints.fullDigest(base, spec.copy(includeColumns = Seq("id", "s")), cfg)
    assert(includeOnly == withS)
  }

  test("profile: nulls, exact distincts, deterministic mode, all-null column") {
    val rows = Seq[(java.lang.Long, String, String)](
      (1L, "a", null), (2L, "b", null), (3L, "a", null), (4L, null, null))
    val df = rows.toDF("id", "s", "z")
    val got = Profile.profile(df, df.schema, Seq("id", "s", "z"))
      .as[(String, Long, Long, Long, Option[String], Option[Long])]
      .collect().toSeq.sortBy(_._1)
    // id: unique -> distinct 4, mode ties break on smallest canonical value
    assert(got(0) == ("id", 4L, 0L, 4L, Some("1"), Some(1L)), s"id=${got(0)}")
    // s: 'a' twice beats 'b'; one null
    assert(got(1) == ("s", 4L, 1L, 2L, Some("a"), Some(2L)), s"s=${got(1)}")
    // z: all null -> no mode at all, not a '' mode
    assert(got(2) == ("z", 4L, 4L, 0L, None, None), s"z=${got(2)}")
  }
}
