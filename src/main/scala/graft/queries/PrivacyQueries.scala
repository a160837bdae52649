package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryEntry
import graft.core.Readers
import graft.operators.TextAnalysis.{duckTokens, tokens}

/** Privacy/compliance audits a training-data pipeline runs before release:
  * k-anonymity of derivable behavioral profiles and PII-shaped token
  * density. Everything is exact integer arithmetic; the PII detectors use
  * LIKE patterns and a digit-stripping regexp_replace whose character-class
  * semantics are identical in Java regex and RE2, so both engines count the
  * same tokens (the repo's no-dialect-regex discipline).
  */
object PrivacyQueries {

  val entries: Seq[(String, QueryEntry)] = Seq(

    // k-anonymity audit: each user's releasable behavioral profile —
    // (modal event type, peak-hour quarter-of-day, log2 activity band) —
    // forms an equivalence class; the histogram of class sizes is the
    // re-identification risk readout (classes of size < k are the quasi-
    // identifiable users; s = 1 is a unique fingerprint). Modal/peak picks
    // tie-break deterministically (count desc, value asc). Scale shape:
    // windows run over user×type and user×hour cell aggregates (bounded by
    // |users|·|types| and |users|·24), partitioned by user — never raw
    // events; the class rollup is a two-level hash aggregate.
    "ev_k_anonymity" -> QueryEntry(
      fn = (spark, sfDir) => {
        val ev = Readers.fixture(spark, sfDir, "events")
          .select(col("user_id"), col("event_type"), hour(col("ts")).cast("long").as("hod"))
        val typeCells = ev.groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
        val modal = typeCells
          .withColumn("rn", row_number().over(Window.partitionBy("user_id")
            .orderBy(col("n").desc, col("event_type").asc)))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type").as("modal_type"))
        val hourCells = ev.groupBy("user_id", "hod").agg(count(lit(1)).as("n"))
        val peak = hourCells
          .withColumn("rn", row_number().over(Window.partitionBy("user_id")
            .orderBy(col("n").desc, col("hod").asc)))
          .filter(col("rn") === 1)
          .select(col("user_id"), expr("hod div 6").as("peak_quarter"))
        val activity = ev.groupBy("user_id").agg(count(lit(1)).as("total"))
          .select(col("user_id"), length(bin(col("total"))).cast("long").as("act_band"))
        val classes = modal.join(peak, "user_id").join(activity, "user_id")
          .groupBy("modal_type", "peak_quarter", "act_band")
          .agg(count(lit(1)).as("s"))
        classes.groupBy("s")
          .agg(count(lit(1)).as("n_classes"), sum(col("s")).as("n_users"))
          .orderBy("s")
      },
      oracle = Some("""
        WITH ev AS (SELECT user_id, event_type,
                           CAST(hour(ts) AS BIGINT) AS hod FROM events),
        tc AS (SELECT user_id, event_type, count(*) AS n FROM ev GROUP BY 1, 2),
        modal AS (SELECT user_id, event_type AS modal_type FROM (
            SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id
              ORDER BY n DESC, event_type ASC) AS rn FROM tc) q WHERE rn = 1),
        hc AS (SELECT user_id, hod, count(*) AS n FROM ev GROUP BY 1, 2),
        peak AS (SELECT user_id, hod // 6 AS peak_quarter FROM (
            SELECT user_id, hod, row_number() OVER (PARTITION BY user_id
              ORDER BY n DESC, hod ASC) AS rn FROM hc) q WHERE rn = 1),
        act AS (SELECT user_id, CAST(length(bin(count(*))) AS BIGINT) AS act_band
                FROM ev GROUP BY user_id),
        classes AS (SELECT m.modal_type, p.peak_quarter, a.act_band,
                           count(*) AS s
                    FROM modal m JOIN peak p USING (user_id)
                    JOIN act a USING (user_id)
                    GROUP BY 1, 2, 3)
        SELECT s, count(*) AS n_classes, CAST(sum(s) AS BIGINT) AS n_users
        FROM classes GROUP BY s ORDER BY s""")),

    // PII-shaped token density per source: email-shaped tokens (@ then a
    // later dot), long digit runs (≥7 digits — phone/ID-shaped), and URL
    // tokens, per million tokens — the "does this source need redaction
    // before training" screen that decides whether text_redact runs. One
    // exploded scan with map-side-combined counts; the detectors are
    // per-token expressions (no joins, no windows).
    "text_pii_scan" -> QueryEntry(
      fn = (spark, sfDir) => {
        val tok = Readers.spread(
          Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
          .filter(col("source").isNotNull)
          .select(col("source"), explode(tokens(col("text"))).as("tk"))
        tok
          .select(col("source"),
            graft.operators.TextAnalysis.isEmailToken(col("tk")).cast("long").as("is_email"),
            graft.operators.TextAnalysis.isLongNumToken(col("tk")).cast("long").as("is_longnum"),
            graft.operators.TextAnalysis.isUrlToken(col("tk")).cast("long").as("is_url"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("is_email")).as("n_email"),
            sum(col("is_longnum")).as("n_longnum"),
            sum(col("is_url")).as("n_url"))
          .select(col("source"), col("n_tokens"), col("n_email"),
            col("n_longnum"), col("n_url"),
            expr("(n_email + n_longnum + n_url) * 1000000 div n_tokens")
              .as("pii_per_million"))
          .orderBy("source")
      },
      oracle = Some {
        val tk = duckTokens("text")
        s"""WITH tok AS (SELECT source, t.tk
                         FROM documents d, unnest($tk) AS t(tk)
                         WHERE source IS NOT NULL),
           flags AS (SELECT source,
                            CASE WHEN tk LIKE '%@%.%' THEN 1 ELSE 0 END AS is_email,
                            CASE WHEN length(tk) - length(regexp_replace(tk, '[0-9]', '', 'g')) >= 7
                                 THEN 1 ELSE 0 END AS is_longnum,
                            CASE WHEN tk LIKE 'http%' OR tk LIKE 'www.%'
                                 THEN 1 ELSE 0 END AS is_url
                     FROM tok),
           agg AS (SELECT source, count(*) AS n_tokens,
                          CAST(sum(is_email) AS BIGINT) AS n_email,
                          CAST(sum(is_longnum) AS BIGINT) AS n_longnum,
                          CAST(sum(is_url) AS BIGINT) AS n_url
                   FROM flags GROUP BY source)
           SELECT source, n_tokens, n_email, n_longnum, n_url,
                  (n_email + n_longnum + n_url) * 1000000 // n_tokens
                    AS pii_per_million
           FROM agg ORDER BY source"""
      }),

    // PII redaction as a transform (the redact-instead-of-drop choice):
    // detector-positive tokens become the <PII> sentinel in place. On the
    // synthetic PII-free fixture every document round-trips unchanged and
    // n_redacted is all-zero — the oracle-gated correct answer here (the
    // text_pii_scan convention); the positive behavior is PrivacySpec-pinned
    // on hand-built documents
    "text_pii_redact" -> QueryEntry(
      fn = (spark, sfDir) => {
        import graft.operators.TextAnalysis
        Readers.spread(Readers.fixture(spark, sfDir, "documents"), col("doc_id"))
          .withColumn("tk", TextAnalysis.tokens(col("text")))
          .select(col("doc_id"),
            (size(filter(col("tk"), t =>
              TextAnalysis.isEmailToken(t) || TextAnalysis.isLongNumToken(t) ||
                TextAnalysis.isUrlToken(t)))).cast("long").as("n_redacted"),
            TextAnalysis.redactPii(col("tk")).as("redacted_text"))
          .orderBy("doc_id")
      },
      oracle = Some {
        import graft.operators.TextAnalysis.{duckRedactPii, duckTokens}
        s"""WITH toks AS (SELECT doc_id, ${duckTokens("text")} AS tk FROM documents)
           SELECT doc_id,
                  CAST(len(list_filter(tk, t -> t LIKE '%@%.%'
                    OR length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) >= 7
                    OR t LIKE 'http%' OR t LIKE 'www.%')) AS BIGINT) AS n_redacted,
                  ${duckRedactPii("tk")} AS redacted_text
           FROM toks ORDER BY doc_id"""
      })
  )
}
