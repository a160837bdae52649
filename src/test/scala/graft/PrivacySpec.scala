package graft

import org.apache.spark.sql.functions._

import graft.core.Readers
import graft.operators.TextAnalysis
import graft.queries.PrivacyQueries

/** Privacy-family pins. The synthetic fixture is PII-free by construction,
  * so the oracle gate proves the zeros; the detector SEMANTICS are pinned
  * here on hand-built tokens, and the k-anonymity histogram is mirrored
  * driver-side from raw fixture rows.
  */
class PrivacySpec extends SparkSpec {
  import spark.implicits._

  test("PII token detectors: positive and negative cases") {
    val cases = Seq(
      // token, email, longnum, url
      ("alice@example.com", true, false, false),
      ("bob@localhost", false, false, false), // no dot after the @
      ("@", false, false, false),
      ("+1-555-867-5309", true == false, true, false), // 10 digits
      ("123456", false, false, false), // only 6 digits
      ("a1b2c3d4e5f6g7", false, true, false), // 7 interleaved digits
      ("https://x.test/y", false, false, true),
      ("http", false, false, true), // prefix match is deliberate
      ("www.example.org", false, false, true),
      ("wwwx", false, false, false),
      ("plain", false, false, false))
    val got = cases.map(_._1).toDF("tk")
      .select(col("tk"), TextAnalysis.isEmailToken(col("tk")).as("e"),
        TextAnalysis.isLongNumToken(col("tk")).as("n"),
        TextAnalysis.isUrlToken(col("tk")).as("u"))
      .as[(String, Boolean, Boolean, Boolean)].collect()
      .map(r => (r._1, (r._2, r._3, r._4))).toMap
    for ((tk, e, n, u) <- cases)
      assert(got(tk) == ((e, n, u)), s"token '$tk'")
  }

  test("PII redaction replaces exactly the detector-positive tokens in place") {
    val docs = Seq(
      (1L, "contact alice@example.com or visit www.example.org today"),
      (2L, "call 5551234567 now"),
      (3L, "plain clean words only"),
      (4L, "")).toDF("doc_id", "text")
    val got = docs.withColumn("tk", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"), TextAnalysis.redactPii(col("tk")).as("r"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "contact <PII> or visit <PII> today")
    assert(got(2L) == "call <PII> now")
    assert(got(3L) == "plain clean words only") // untouched round-trip
    assert(got(4L) == "")
  }

  test("ev_k_anonymity: histogram mirrors a driver-side profile computation") {
    val ev = Readers.fixture(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"), hour(col("ts")).cast("long").as("hod"))
      .as[(Long, String, Long)].collect()
    val profiles = ev.groupBy(_._1).map { case (_, rows) =>
      val modal = rows.groupBy(_._2).map { case (t, xs) => (t, xs.size) }
        .toSeq.sortBy { case (t, n) => (-n, t) }.head._1
      val peak = rows.groupBy(_._3).map { case (h, xs) => (h, xs.size) }
        .toSeq.sortBy { case (h, n) => (-n, h) }.head._1 / 6
      val act = java.lang.Long.toBinaryString(rows.size.toLong).length.toLong
      (modal, peak, act)
    }.toSeq
    val expected = profiles.groupBy(identity).values.map(_.size.toLong).toSeq
      .groupBy(identity).map { case (s, cs) =>
        (s, (cs.size.toLong, s * cs.size))
      }
    val got = QueryRegistry.all("ev_k_anonymity").fn(spark, sfDir)
      .as[(Long, Long, Long)].collect()
      .map { case (s, c, u) => (s, (c, u)) }.toMap
    assert(got == expected)
    // every user lands in exactly one class
    assert(got.values.map(_._2).sum == ev.map(_._1).distinct.size.toLong)
  }
}
