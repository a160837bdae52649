package graft

import org.apache.spark.sql.functions._

import graft.core.Readers
import graft.operators.Selection.lnMicroLong
import graft.queries.DriftQueries

/** Distribution-statistics family: each query's integer score is recomputed
  * in the spec from first principles (collected fixture rows + the Scala
  * micro-ln mirror) and must match the distributed result EXACTLY — the
  * same discipline as the DSIR/xent specs.
  */
class DriftSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String) = QueryRegistry.all(name).fn(spark, sfDir)

  test("ev_user_entropy: bands partition all users; exact vs driver-side mirror") {
    val ev = Readers.fixture(spark, sfDir, "events")
      .select(col("user_id"), col("event_type")).as[(Long, String)].collect()
    // mirror: per-user type counts -> integer entropy -> centinat band
    val expected = ev.groupBy(_._1).values.map { rows =>
      val counts = rows.groupBy(_._2).values.map(_.size.toLong).toSeq
      val nn = counts.sum
      val s = counts.map(n => n * lnMicroLong(n)).sum
      val h = math.max(lnMicroLong(nn) - s / nn, 0L)
      (h / 10000, nn)
    }.toSeq
    val expBands = expected.groupBy(_._1).map { case (b, xs) =>
      (b, (xs.size.toLong, xs.map(_._2).sum))
    }
    val got = run("ev_user_entropy")
      .as[(Long, Long, Long)].collect()
      .map { case (b, u, e) => (b, (u, e)) }.toMap
    assert(got == expBands)
    // entropy of a k-way distribution is bounded by ln k
    val nTypes = ev.map(_._2).distinct.size.toLong
    assert(got.keys.max <= lnMicroLong(nTypes) / 10000 + 1)
    assert(got.keys.min >= 0)
  }

  test("ev_psi_weekly: exact vs driver-side mirror; non-negative") {
    val WeekUs = 7L * 86400000000L
    val ev = Readers.fixture(spark, sfDir, "events")
      .select(expr(s"unix_micros(ts) div $WeekUs").as("w"), col("event_type"))
      .as[(Long, String)].collect()
    val cells = ev.groupBy(identity).map { case ((w, t), xs) => (w, t, xs.size.toLong) }
    val tots = cells.groupBy(_._1).map { case (w, xs) => (w, xs.map(_._3).sum) }
    val share = cells.map { case (w, t, n) => ((w, t), n * 1000000L / tots(w)) }.toMap
    val weeks = tots.keys.toSeq.sorted
    val expected = weeks.sliding(2).collect {
      case Seq(w0, w1) if w1 == w0 + 1 =>
        val both = share.keys.collect { case (w, t) if w == w0 && share.contains((w1, t)) => t }
        val psi = both.toSeq.map { t =>
          val (p, q) = (share((w1, t)), share((w0, t)))
          (p - q) * (lnMicroLong(p + 1) - lnMicroLong(q + 1))
        }.sum / 1000000L
        (w1, (psi, both.size.toLong))
    }.toMap
    val got = run("ev_psi_weekly").as[(Long, Long, Long)].collect()
      .map { case (w, psi, n) => (w, (psi, n)) }.toMap
    assert(got == expected)
    assert(got.values.forall(_._1 >= 0))
  }

  test("ev_psi_stream: drained streaming state folds to the batch PSI exactly") {
    val batch = run("ev_psi_weekly").as[(Long, Long, Long)].collect().toSeq
    val streamed = run("ev_psi_stream").as[(Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
  }

  test("corpus_ks_length: exact vs driver-side ECDF mirror; bounded by 1e6") {
    val docs = Readers.fixture(spark, sfDir, "documents")
      .select(col("source"), col("n_chars")).as[(String, Long)].collect()
    val bySrc = docs.groupBy(_._1).map { case (s, xs) => (s, xs.map(_._2)) }
    val grid = docs.map(_._2).distinct.sorted
    def ecdf(lengths: Array[Long]): Map[Long, Long] = {
      val n = lengths.length.toLong
      grid.map(x => x -> lengths.count(_ <= x) * 1000000L / n).toMap
    }
    val curves = bySrc.map { case (s, xs) => (s, (xs.length.toLong, ecdf(xs))) }
    val expected = (for {
      (sa, (na, fa)) <- curves; (sb, (nb, fb)) <- curves if sa < sb
    } yield (sa, sb) -> ((na, nb, grid.map(x => math.abs(fa(x) - fb(x))).max))).toMap
    val got = run("corpus_ks_length").as[(String, String, Long, Long, Long)].collect()
      .map { case (a, b, na, nb, d) => (a, b) -> ((na, nb, d)) }.toMap
    assert(got == expected)
    assert(got.values.forall { case (_, _, d) => d >= 0 && d <= 1000000L })
  }

  test("corpus_chi2_langsource: exact vs driver-side BigInt mirror") {
    val docs = Readers.fixture(spark, sfDir, "documents")
      .filter(col("lang").isNotNull && col("source").isNotNull)
      .select(col("lang"), col("source")).as[(String, String)].collect()
    val cells = docs.groupBy(identity).map { case ((l, s), xs) => (l, s, xs.length.toLong) }
    val r = cells.groupBy(_._1).map { case (l, xs) => (l, xs.map(_._3).sum) }
    val c = cells.groupBy(_._2).map { case (s, xs) => (s, xs.map(_._3).sum) }
    val tt = cells.map(_._3).sum
    val chi2 = cells.map { case (l, s, o) =>
      val d = BigInt(o * tt - r(l) * c(s))
      (d * d * 1000000L / (BigInt(r(l)) * c(s) * tt)).toLong
    }.sum
    val got = run("corpus_chi2_langsource").as[(Long, Long, Long)].head()
    assert(got == ((cells.size.toLong, tt, chi2)))
  }

  test("ev_burstiness: exact vs driver-side mirror over the zero-filled grid") {
    val HourUs = 3600L * 1000000L
    val ev = Readers.fixture(spark, sfDir, "events")
      .select(expr(s"unix_micros(ts) div $HourUs").as("hr"), col("event_type"))
      .as[(Long, String)].collect()
    val grid = ev.map(_._1).distinct
    val expected = ev.groupBy(_._2).map { case (t, xs) =>
      val byHr = xs.groupBy(_._1).map { case (h, hs) => (h, hs.length.toLong) }
      val counts = grid.map(byHr.getOrElse(_, 0L))
      val (n, s, q) = (grid.length.toLong, counts.sum, counts.map(x => x * x).sum)
      (t, (n, s, (n * q - s * s) * 1000000L / (n * s)))
    }
    val got = run("ev_burstiness").as[(String, Long, Long, Long)].collect()
      .map { case (t, n, s, d) => (t, (n, s, d)) }.toMap
    assert(got == expected)
    assert(got.values.forall(_._3 >= 0))
  }

  test("ev_cusum: window form equals the literal max(0, s+d) recursion") {
    val DayUs = 86400000000L
    val ev = Readers.fixture(spark, sfDir, "events")
      .select(expr(s"unix_micros(ts) div $DayUs").as("day"), col("event_type"))
      .as[(Long, String)].collect()
    val grid = ev.map(_._1).distinct.sorted
    val expected = ev.groupBy(_._2).toSeq.flatMap { case (t, xs) =>
      val byDay = xs.groupBy(_._1).map { case (d, ds) => (d, ds.length.toLong) }
      val counts = grid.map(byDay.getOrElse(_, 0L))
      val k = counts.sum / grid.length
      // the recursion itself, not the window identity
      val s = counts.scanLeft(0L)((acc, x) => math.max(0L, acc + (x - k))).tail
      grid.zip(counts).zip(s).map { case ((d, x), si) =>
        ((t, d), (x, k, si, si > 3 * k))
      }
    }.toMap
    val got = run("ev_cusum").as[(String, Long, Long, Long, Long, Boolean)].collect()
      .map { case (t, d, x, k, s, a) => ((t, d), (x, k, s, a)) }.toMap
    assert(got == expected)
  }

  test("corpus_ks_stream: drained binned cells fold to the binned batch KS; state clamped") {
    // the stream keys state on (source, log2 length bin) — its KS must equal
    // the BATCH fold over the same bins (not the raw-length corpus_ks_length)
    val binned = Readers.fixture(spark, sfDir, "documents")
      .groupBy(col("source"),
        (length(bin(greatest(col("n_chars"), lit(1L)))) - 1)
          .cast("long").as("len_bin"))
      .agg(count(lit(1)).as("c"))
    val batch = graft.queries.DriftQueries.ksFromCells(binned, valueCol = "len_bin")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    val streamed = run("corpus_ks_stream").as[(String, String, Long, Long, Long)]
      .collect().toSeq
    assert(streamed == batch)
    // the state-bound contract: the key domain the stream aggregates over is
    // ≤ |sources| × 64 rows no matter how long the ingest runs
    val nSources = binned.select("source").distinct().count()
    val nKeys = binned.count()
    assert(nKeys <= nSources * 64,
      s"binned state $nKeys rows exceeds the $nSources x 64 clamp")
    val bins = binned.select("len_bin").as[Long].collect()
    assert(bins.forall(b => b >= 0 && b < 64))
  }

  test("text_js_divergence: exact vs driver-side mirror; bounded by ln 2") {
    val Ln2 = graft.operators.Selection.Ln2Micro
    val docs = Readers.fixture(spark, sfDir, "documents")
      .filter(col("source").isNotNull)
      .select(col("source"), col("text")).as[(String, String)].collect()
    val ex = docs.flatMap { case (s, t) => t.split(" ", -1).map((s, _)) }
    val head = ex.groupBy(_._2).map { case (t, xs) => (t, xs.length.toLong) }
      .toSeq.sortBy { case (t, tf) => (-tf, t) }.take(50).map(_._1)
    val bySrc = ex.groupBy(_._1).map { case (s, xs) =>
      val counts = xs.groupBy(_._2).map { case (t, ts) => (t, ts.length.toLong) }
      val headCounts = head.map(t => counts.getOrElse(t, 0L))
      val tot = headCounts.sum
      (s, headCounts.map(_ * 1000000L / tot))
    }.filter(_._2.sum >= 0)
    def jsd(p: Seq[Long], q: Seq[Long]): Long = {
      val s = p.zip(q).map { case (pi, qi) =>
        pi * (Ln2 + lnMicroLong(pi + 1) - lnMicroLong(pi + qi + 2)) +
          qi * (Ln2 + lnMicroLong(qi + 1) - lnMicroLong(pi + qi + 2))
      }.sum
      math.max(s, 0L) / 2000000L
    }
    val expected = (for {
      (sa, pa) <- bySrc; (sb, pb) <- bySrc if sa < sb
    } yield (sa, sb) -> jsd(pa, pb)).toMap
    val got = run("text_js_divergence").as[(String, String, Long)].collect()
      .map { case (a, b, d) => (a, b) -> d }.toMap
    assert(got == expected)
    assert(got.values.forall(d => d >= 0 && d <= Ln2))
    // the exact-cancellation identity the zero property rests on
    for (x <- Seq(1L, 7L, 999L, 123456L, 999999L))
      assert(lnMicroLong(2 * x) == lnMicroLong(x) + Ln2)
    assert(jsd(Seq(3L, 5L, 100L), Seq(3L, 5L, 100L)) == 0L)
  }

  test("ev_heavy_change_stream: drained tagged sketch equals the batch result") {
    val batch = run("ev_heavy_change").as[(Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    val streamed = run("ev_heavy_change_stream").as[(Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(streamed == batch)
    // the sketch never under-reads a present key's half
    assert(batch.forall { case (_, na, nb, ca, cb, _) => ca >= na && cb >= nb })
  }

  test("text_char_entropy: exact vs driver-side mirror") {
    val docs = Readers.fixture(spark, sfDir, "documents")
      .filter(col("source").isNotNull && length(col("text")) >= 1)
      .select(col("source"), col("text")).as[(String, String)].collect()
    val expected = docs.groupBy(_._1).map { case (src, xs) =>
      val counts = xs.flatMap(_._2.toSeq).groupBy(identity)
        .map { case (_, cs) => cs.size.toLong }
      val nn = counts.sum
      val s = counts.map(n => n * lnMicroLong(n)).sum
      (src, (nn, counts.size.toLong, math.max(lnMicroLong(nn) - s / nn, 0L)))
    }
    val got = run("text_char_entropy").as[(String, Long, Long, Long)].collect()
      .map { case (src, n, d, h) => (src, (n, d, h)) }.toMap
    assert(got == expected)
  }

  test("text_token_gini: exact vs driver-side mirror; in [0, 1e6)") {
    val docs = Readers.fixture(spark, sfDir, "documents")
      .select(col("source"), col("text")).as[(String, String)].collect()
    val expected = docs.groupBy(_._1).map { case (src, xs) =>
      val tf = xs.flatMap(_._2.split(" ", -1)).groupBy(identity)
        .map { case (t, ts) => (t, ts.size.toLong) }
      val ranked = tf.toSeq.sortBy { case (t, f) => (f, t) }.zipWithIndex
      val n = ranked.size.toLong
      val total = tf.values.sum
      val wsum = ranked.map { case ((_, f), i0) => (2L * (i0 + 1) - 1) * f }.sum
      (src, (n, total, (wsum - n * total) * 1000000L / (n * total)))
    }
    val got = run("text_token_gini").as[(String, Long, Long, Long)].collect()
      .map { case (s, n, t, g) => (s, (n, t, g)) }.toMap
    assert(got == expected)
    assert(got.values.forall { case (_, _, g) => g >= 0 && g < 1000000L })
  }
}
