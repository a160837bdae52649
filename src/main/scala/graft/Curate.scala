package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Readers, Staging}
import graft.operators.{Corpus, DedupClusters, MinHashLSH, TextAnalysis}

/** `graft-curate` — the training-data product surface: one command running
  * the full curation pipeline the registered queries verify piecewise
  * (exact dedup → near-dup cluster drop → optional decontamination →
  * quality filter → deterministic split → sharded partitioned write).
  * Every stage is the SAME operator the oracle gate checks, so the CLI's
  * behavior is pinned by the query-level correctness runs.
  */
object Curate {

  val helpText: String =
    """Curate a document corpus into sharded train/val/test parquet.
      |
      |Usage:
      |  graft-curate [flags] <documentsDir> <outDir>
      |
      |<documentsDir> must hold documents.parquet. Output is hive-partitioned
      |parquet (split=<train|val|test>/lang=<lang>/) with file counts bounded
      |by deterministic id-hash sharding.
      |
      |Flags:
      |      --decontaminate-against dir  drop documents sharing a word trigram
      |                                   with this corpus's documents.parquet
      |      --max-substr-coverage int    drop documents whose duplicated
      |                                   8-token-span coverage exceeds this
      |                                   (micro-units, 0..1000000; default off)
      |      --max-boilerplate int        drop documents whose same-source
      |                                   boilerplate-window coverage exceeds
      |                                   this (micro-units; default off)
      |      --max-para-dup-micro int     drop documents whose share of
      |                                   10-token paragraphs near-duplicating
      |                                   an earlier document's paragraphs
      |                                   exceeds this (micro-units; default
      |                                   off) — the doc+paragraph two-pass
      |      --keep-best                  near-dup clusters keep their highest-
      |                                   quality member instead of the minimum id
      |      --max-cluster-size int       drop near-dup clusters LARGER than this
      |                                   wholesale, representative included — the
      |                                   template-farm screen (default off)
      |      --min-quality num            quality-score threshold (default 0.45)
      |      --max-xent-micro int         drop documents whose mean bigram
      |                                   cross-entropy (micro-nats, LM trained
      |                                   on the surviving corpus) exceeds this
      |                                   — the perplexity gate (default off)
      |      --max-pii-per-million int    drop documents whose PII-shaped
      |                                   token density (email / long-digit /
      |                                   URL tokens per million) exceeds this
      |                                   — the redaction-or-drop safety gate
      |                                   (default off)
      |      --redact-pii                 replace PII-shaped tokens with the
      |                                   <PII> sentinel in surviving documents
      |                                   instead of (or after) dropping — the
      |                                   keep-the-document alternative
      |      --dsir-target-lang str       with --dsir-keep-pct: score documents
      |                                   by DSIR target-vs-raw likelihood with
      |                                   this language as the target domain
      |      --dsir-keep-pct int          keep the top N% by DSIR weight
      |                                   (default off; requires
      |                                   --dsir-target-lang)
      |      --lr-target-lang str         with --min-lr-sigma-micro: train the
      |                                   logistic-regression filter on the
      |                                   surviving corpus with this language
      |                                   as the positive class
      |      --min-lr-sigma-micro int     drop documents whose trained-filter
      |                                   posterior (micro, 0..1000000) falls
      |                                   below this — the fastText-style
      |                                   classifier gate (default off;
      |                                   requires --lr-target-lang)
      |      --per-source-quality         replace the global threshold with each
      |                                   source's own bottom-quartile cut
      |      --mix-temperature int        after sampling, temperature-mix sources
      |                                   toward this token budget (share per
      |                                   source proportional to sqrt of its
      |                                   token total; default off)
      |      --sample-weighted int        after the quality filter, keep a
      |                                   quality-weighted priority sample of
      |                                   this many documents (deterministic;
      |                                   default off = keep all)
      |      --train-pct int              train percentage (default 90)
      |      --val-pct int                validation percentage (default 5)
      |      --shards int                 max files per output partition (default 4)
      |      --chunk-tokens int           emit overlapping token-window chunks
      |                                   instead of whole documents (default off);
      |                                   split is assigned by PARENT document so
      |                                   overlapping chunks never straddle
      |                                   train/val/test
      |      --chunk-stride int           chunk window stride (default =
      |                                   chunk-tokens, i.e. no overlap)
      |      --shuffle-seed int           add deterministic epoch-seeded
      |                                   training-order columns
      |                                   (shuffle_shard, shuffle_pos)
      |  -h, --help                       help for graft-curate
      |""".stripMargin

  case class Config(
      docsDir: String = "", outDir: String = "",
      decontaminateAgainst: Option[String] = None,
      maxSubstrCoverage: Option[Long] = None,
      maxBoilerplate: Option[Long] = None,
      maxParaDupMicro: Option[Long] = None,
      keepBest: Boolean = false,
      maxClusterSize: Option[Long] = None,
      perSourceQuality: Boolean = false,
      mixTemperature: Option[Long] = None,
      minQuality: Double = 0.45,
      maxXentMicro: Option[Long] = None,
      maxPiiPerMillion: Option[Long] = None,
      redactPii: Boolean = false,
      dsirTargetLang: Option[String] = None,
      dsirKeepPct: Option[Int] = None,
      lrTargetLang: Option[String] = None,
      minLrSigmaMicro: Option[Long] = None,
      sampleWeighted: Option[Int] = None,
      trainPct: Int = 90, valPct: Int = 5, shards: Int = 4,
      chunkTokens: Option[Int] = None, chunkStride: Option[Int] = None,
      shuffleSeed: Option[Int] = None)

  def parse(args: Seq[String]): Either[String, Config] = {
    val split = args.toList.flatMap { a =>
      if (a.startsWith("--") && a.contains("=")) { val Array(f, v) = a.split("=", 2); List(f, v) }
      else List(a)
    }
    def num[A](flag: String, value: String, conv: String => Option[A])(set: A => Config): Either[String, Config] =
      conv(value).toRight(s"""invalid argument "$value" for $flag\n\n$helpText""").map(set)
    def loop(rest: List[String], acc: Config, positional: List[String]): Either[String, Config] =
      rest match {
        case Nil => positional match {
          case docs :: out :: Nil => Right(acc.copy(docsDir = docs, outDir = out))
          case _ => Left(s"expected <documentsDir> <outDir>, got ${positional.size} positional args\n\n$helpText")
        }
        case ("-h" | "--help") :: _ => Left(helpText)
        case "--per-source-quality" :: tail =>
          loop(tail, acc.copy(perSourceQuality = true), positional)
        case "--keep-best" :: tail =>
          loop(tail, acc.copy(keepBest = true), positional)
        case "--redact-pii" :: tail =>
          loop(tail, acc.copy(redactPii = true), positional)
        case flag :: value :: tail if flag.startsWith("--") =>
          flag match {
            case "--decontaminate-against" =>
              loop(tail, acc.copy(decontaminateAgainst = Some(value)), positional)
            case "--max-substr-coverage" =>
              num(flag, value, (_: String).toLongOption)(n =>
                acc.copy(maxSubstrCoverage = Some(n)))
                .flatMap(loop(tail, _, positional))
            case "--max-cluster-size" =>
              num(flag, value, (_: String).toLongOption)(n =>
                acc.copy(maxClusterSize = Some(n)))
                .flatMap(loop(tail, _, positional))
            case "--max-boilerplate" =>
              num(flag, value, (_: String).toLongOption)(n =>
                acc.copy(maxBoilerplate = Some(n)))
                .flatMap(loop(tail, _, positional))
            case "--max-para-dup-micro" =>
              num(flag, value, (_: String).toLongOption)(n =>
                acc.copy(maxParaDupMicro = Some(n)))
                .flatMap(loop(tail, _, positional))
            case "--mix-temperature" =>
              num(flag, value, (_: String).toLongOption)(n =>
                acc.copy(mixTemperature = Some(n)))
                .flatMap(loop(tail, _, positional))
            case "--min-quality" =>
              num(flag, value, (_: String).toDoubleOption)(d => acc.copy(minQuality = d))
                .flatMap(loop(tail, _, positional))
            case "--sample-weighted" =>
              num(flag, value, (_: String).toIntOption)(n =>
                acc.copy(sampleWeighted = Some(n))).flatMap(loop(tail, _, positional))
            case "--max-xent-micro" =>
              num(flag, value, (_: String).toLongOption)(n =>
                acc.copy(maxXentMicro = Some(n))).flatMap(loop(tail, _, positional))
            case "--max-pii-per-million" =>
              num(flag, value, _.toLongOption)(n =>
                acc.copy(maxPiiPerMillion = Some(n))).flatMap(loop(tail, _, positional))
            case "--dsir-target-lang" =>
              loop(tail, acc.copy(dsirTargetLang = Some(value)), positional)
            case "--dsir-keep-pct" =>
              num(flag, value, (_: String).toIntOption)(n =>
                acc.copy(dsirKeepPct = Some(n))).flatMap(loop(tail, _, positional))
            case "--lr-target-lang" =>
              loop(tail, acc.copy(lrTargetLang = Some(value)), positional)
            case "--min-lr-sigma-micro" =>
              num(flag, value, (_: String).toLongOption)(n =>
                acc.copy(minLrSigmaMicro = Some(n))).flatMap(loop(tail, _, positional))
            case "--train-pct" =>
              num(flag, value, (_: String).toIntOption)(n => acc.copy(trainPct = n))
                .flatMap(loop(tail, _, positional))
            case "--val-pct" =>
              num(flag, value, (_: String).toIntOption)(n => acc.copy(valPct = n))
                .flatMap(loop(tail, _, positional))
            case "--shards" =>
              num(flag, value, (_: String).toIntOption)(n => acc.copy(shards = n))
                .flatMap(loop(tail, _, positional))
            case "--chunk-tokens" =>
              num(flag, value, (_: String).toIntOption)(n =>
                acc.copy(chunkTokens = Some(n))).flatMap(loop(tail, _, positional))
            case "--chunk-stride" =>
              num(flag, value, (_: String).toIntOption)(n =>
                acc.copy(chunkStride = Some(n))).flatMap(loop(tail, _, positional))
            case "--shuffle-seed" =>
              num(flag, value, (_: String).toIntOption)(n =>
                acc.copy(shuffleSeed = Some(n))).flatMap(loop(tail, _, positional))
            case other => Left(s"unknown flag: $other\n\n$helpText")
          }
        case flag :: Nil if flag.startsWith("--") =>
          Left(s"flag needs an argument: $flag\n\n$helpText")
        case flag :: _ if flag.startsWith("-") && flag != "-" =>
          Left(s"unknown flag: $flag\n\n$helpText")
        case p :: tail => loop(tail, acc, positional :+ p)
      }
    loop(split, Config(), Nil).flatMap { c =>
      if (c.trainPct < 0 || c.valPct < 0)
        Left(s"train-pct and val-pct must be >= 0, got ${c.trainPct}/${c.valPct}")
      else if (c.trainPct + c.valPct > 100)
        Left(s"train-pct + val-pct must be <= 100, got ${c.trainPct}+${c.valPct}")
      else if (c.shards < 1) Left(s"--shards must be >= 1, got ${c.shards}")
      else if (c.maxSubstrCoverage.exists(m => m < 0 || m > 1000000))
        Left(s"--max-substr-coverage must be in [0, 1000000], got ${c.maxSubstrCoverage.get}")
      else if (c.maxBoilerplate.exists(m => m < 0 || m > 1000000))
        Left(s"--max-boilerplate must be in [0, 1000000], got ${c.maxBoilerplate.get}")
      else if (c.maxParaDupMicro.exists(m => m < 0 || m > 1000000))
        Left(s"--max-para-dup-micro must be in [0, 1000000], got ${c.maxParaDupMicro.get}")
      else if (c.maxClusterSize.exists(_ < 2))
        Left(s"--max-cluster-size must be >= 2 (every near-dup cluster has at least 2 members), got ${c.maxClusterSize.get}")
      else if (c.mixTemperature.exists(_ < 1))
        Left(s"--mix-temperature must be >= 1, got ${c.mixTemperature.get}")
      else if (c.sampleWeighted.exists(_ < 1))
        Left(s"--sample-weighted must be >= 1, got ${c.sampleWeighted.get}")
      else if (c.chunkTokens.exists(_ < 1))
        Left(s"--chunk-tokens must be >= 1, got ${c.chunkTokens.get}")
      else if (c.maxXentMicro.exists(_ < 0))
        Left(s"--max-xent-micro must be >= 0, got ${c.maxXentMicro.get}")
      else if (c.maxPiiPerMillion.exists(_ < 0))
        Left(s"--max-pii-per-million must be >= 0, got ${c.maxPiiPerMillion.get}")
      else if (c.dsirKeepPct.exists(p => p < 1 || p > 100))
        Left(s"--dsir-keep-pct must be in [1, 100], got ${c.dsirKeepPct.get}")
      else if (c.dsirKeepPct.isDefined != c.dsirTargetLang.isDefined)
        Left("--dsir-keep-pct and --dsir-target-lang go together")
      else if (c.minLrSigmaMicro.exists(m => m < 0 || m > 1000000))
        Left(s"--min-lr-sigma-micro must be in [0, 1000000], got ${c.minLrSigmaMicro.get}")
      else if (c.minLrSigmaMicro.isDefined != c.lrTargetLang.isDefined)
        Left("--min-lr-sigma-micro and --lr-target-lang go together")
      else if (c.chunkStride.isDefined && c.chunkTokens.isEmpty)
        Left("--chunk-stride requires --chunk-tokens")
      else if (c.chunkStride.exists(s => s < 1 || s > c.chunkTokens.get))
        Left(s"--chunk-stride must be in [1, chunk-tokens], got ${c.chunkStride.get}")
      else Right(c)
    }
  }

  /** A gate's surviving documents and their count. */
  private final case class Stage(df: DataFrame, n: Long)

  /** Runs the pipeline; returns per-stage surviving document counts (a
    * funnel, printed as the run summary and asserted by CurateSpec).
    *
    * One action per stage: each enabled gate's output is localCheckpoint-ed
    * lazily and counted by a single job, which also writes the checkpoint
    * blocks. The checkpoint is the corpus_waterfall gate-boundary lesson:
    * the later gates (the LR training loop, priority sampling, chunk
    * packing) run several actions each, and each would otherwise re-plan
    * the full accumulated stage lineage; truncation caps plan depth at one
    * stage. The funnel reuses the recorded counts: a disabled gate passes
    * on its input frame with that frame's count, so no frame is counted
    * twice. `input` and `written` (the on-disk truth) are summed from the
    * parquet footers, with no Spark job. Every checkpoint is released once
    * the output is written.
    */
  def run(spark: SparkSession, cfg: Config): Seq[(String, Long)] = {
    val staged = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def stage(df: DataFrame): Stage = {
      val (c, n) = Staging.checkpointCount(df)
      staged += c
      Stage(c, n)
    }
    try {
      val docsPath = s"${cfg.docsDir}/documents.parquet"
      val docs = Readers.parquet(spark, docsPath)
      val input = Stage(docs, Readers.parquetRows(spark, docsPath))

      // exact dedup: keep the smallest id per distinct text
      val keepIds = docs.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val exact = stage(docs.join(keepIds, Seq("doc_id"), "left_semi"))

      // near-dup dedup: LSH candidates → connected components → keep one
      // representative per cluster: minimum id by default, or the
      // highest-quality member under --keep-best (the dedup_best_rep rule —
      // dropping duplicates shouldn't also drop the best-written copy).
      // --max-cluster-size: a cluster wider than the cap is a template farm —
      // its REPRESENTATIVE is as synthetic as its members, so the whole
      // cluster drops (dedup_cluster_sizes is the histogram that picks the
      // cap). A closure that fits on the driver yields the min-id and cap
      // drop set there, and the stage is one broadcast anti-join; --keep-best
      // ranks each cluster with the frame rule on either closure path. The
      // signatures are persisted for the closure's one counting job
      val sigs = MinHashLSH.signatures(exact.df, "doc_id", "text", 3, 16)
      val pairs = MinHashLSH.candidatePairsFromSignatures(sigs, 16, 4)
        .filter(col("est_jaccard") >= 0.5).select("doc_a", "doc_b")
      val closure = try DedupClusters.closure(pairs) finally sigs.unpersist(blocking = false)
      val nearDeduped = closure match {
        case Left(local) if cfg.keepBest =>
          stage(exact.df.join(nearDropFrame(exact.df, local.toDF(spark), cfg),
            Seq("doc_id"), "left_anti"))
        case Left(local) =>
          val drop = local.dropSet(cfg.maxClusterSize)
          if (drop.isEmpty) exact
          else {
            import spark.implicits._
            stage(exact.df.join(broadcast(drop.toSeq.toDF("doc_id")), Seq("doc_id"), "left_anti"))
          }
        case Right(comp) =>
          try stage(exact.df.join(nearDropFrame(exact.df, comp, cfg), Seq("doc_id"), "left_anti"))
          finally Staging.releaseFrame(comp)
      }

      // optional eval-set decontamination (broadcast trigram semi-join)
      val decontaminated = cfg.decontaminateAgainst.fold(nearDeduped) { dir =>
        val eval = spark.read.parquet(s"$dir/documents.parquet")
        stage(nearDeduped.df.join(
          Corpus.contaminatedIds(nearDeduped.df, eval, "doc_id", "text", shingleN = 3),
          Seq("doc_id"), "left_anti"))
      }

      // optional duplicated-substring screen: drop documents mostly covered by
      // k-token spans that repeat elsewhere in the surviving corpus (license
      // blocks, boilerplate) — the ExactSubstr operator dedup_substring gates
      val substrScreened = cfg.maxSubstrCoverage.fold(decontaminated) { maxMicro =>
        // coverage() returns a persisted frame: materialize the screened set,
        // then release it — otherwise the per-doc coverage table stays pinned
        // in executor memory for the rest of the pipeline run
        val cov = graft.operators.ExactSubstr
          .coverage(decontaminated.df, "doc_id", "text", k = 8)
        val heavy = cov.filter(col("coverage_micro") > maxMicro)
          .select(col("id").as("doc_id"))
        val out = stage(decontaminated.df.join(heavy, Seq("doc_id"), "left_anti"))
        cov.unpersist(blocking = false)
        out
      }

      // optional same-source boilerplate screen: drop documents dominated by
      // windows repeated across their source's other documents — the
      // dedup_boilerplate operator as a gate (finer-grained than the
      // corpus-wide substring screen: a phrase common across sources survives)
      val bpScreened = cfg.maxBoilerplate.fold(substrScreened) { maxMicro =>
        // same materialize-then-release as the substring screen above
        val bp = graft.operators.ExactSubstr
          .boilerplate(substrScreened.df, "doc_id", "text", "source", k = 4, minDocs = 2)
        val heavy = bp.filter(col("removed_micro") > maxMicro)
          .select(col("id").as("doc_id"))
        val out = stage(substrScreened.df.join(heavy, Seq("doc_id"), "left_anti"))
        bp.unpersist(blocking = false)
        out
      }

      // optional paragraph-granularity screen (the dedup_paragraph operator as
      // a gate — the standard doc+paragraph two-pass): drop documents whose
      // share of 10-token paragraphs near-duplicating an EARLIER surviving
      // document's paragraphs reaches the cap. Runs on the corpus the earlier
      // whole-doc passes kept, so it catches the partial-copy pages whole-doc
      // MinHash missed
      val paraScreened = cfg.maxParaDupMicro.fold(bpScreened) { maxMicro =>
        val pd = MinHashLSH.paragraphDedup(bpScreened.df, "doc_id", "text",
          paraTokens = 10, shingleN = 3, numPerm = 16, numBands = 4,
          minMatching = 12, dropRatioMicro = maxMicro)
        val heavy = pd.filter(col("drop_doc")).select("doc_id")
        stage(bpScreened.df.join(heavy, Seq("doc_id"), "left_anti"))
      }

      // quality filter (shared scorer — same expression the oracle checks):
      // one global threshold, or each source's own bottom-quartile cut (the
      // corpus_quality_gate operator) under --per-source-quality
      val quality = stage(if (cfg.perSourceQuality)
        paraScreened.df.join(
          Corpus.perSourceQualityGate(paraScreened.df, "doc_id", "source", "text")
            .select("doc_id"),
          Seq("doc_id"), "left_semi")
      else
        paraScreened.df
          .filter(TextAnalysis.qualityScore(TextAnalysis.tokens(col("text"))) >= cfg.minQuality))

      // optional perplexity gate (the text_lm_xent quantity as a filter): LM
      // trains on the SURVIVING corpus, docs above the cross-entropy cap drop
      // — the CCNet-style fluency screen. Docs too short to score (< 2
      // tokens) have no xent row and survive the anti-join
      val xentGated = cfg.maxXentMicro.fold(quality) { cap =>
        val x = graft.operators.Vocab.lmXent(quality.df, "doc_id", "text")
        val heavy = x.filter(col("mean_xent_micro") > cap).select("doc_id")
        // lmXent persists its bigram frame; the counted stage no longer needs it
        try stage(quality.df.join(heavy, Seq("doc_id"), "left_anti"))
        finally Staging.releaseCaches(x)
      }

      // optional PII safety gate (the text_pii_scan detectors per document):
      // drop documents whose PII-shaped token density exceeds the cap — the
      // drop-side alternative to redaction, one per-row HOF expression
      val piiGated = cfg.maxPiiPerMillion.fold(xentGated) { cap =>
        stage(xentGated.df.filter(
          TextAnalysis.piiPerMillion(TextAnalysis.tokens(col("text"))) <= cap))
      }

      // optional in-place PII redaction (the text_pii_redact transform): the
      // keep-the-document alternative to the density drop above — every
      // detector-positive token becomes the <PII> sentinel; all later gates
      // (DSIR, the LR filter, chunking) see the redacted text
      val redacted = if (!cfg.redactPii) piiGated else
        stage(piiGated.df.withColumn("text",
          TextAnalysis.redactPii(TextAnalysis.tokens(col("text")))))

      // optional DSIR selection (the corpus_dsir operators as a gate): score
      // survivors by hashed-bigram target-vs-raw likelihood with the given
      // language as the target domain, keep the top N% by exact distributed
      // rank (range-partitioned + offset, never a single-partition window)
      val dsirKept = (cfg.dsirTargetLang, cfg.dsirKeepPct) match {
        case (Some(lang0), Some(pct)) =>
          val w = graft.operators.Selection.dsirWeights(
            redacted.df, "doc_id", "text", col("lang") === lang0, 1024)
          // distributed exact rank, never a single-partition global window
          // (Ranks scaladoc) — the curate binary sees full-corpus inputs
          val ranked = graft.operators.Ranks.globalRank(
            w, Seq(col("dsir_micro").desc, col("doc_id").asc), "rnk")
          // dsirWeights left-joins every document, so the ranked frame has
          // exactly the redacted stage's rows
          val keep = ranked.filter(col("rnk") * 100L <= redacted.n * pct).select("doc_id")
          // dsirWeights persists its bucketed bigram frame: release it with
          // the rank frame once the stage is counted
          try stage(redacted.df.join(keep, Seq("doc_id"), "left_semi"))
          finally {
            ranked.unpersist(blocking = false)
            Staging.releaseFrame(ranked)
            Staging.releaseCaches(w)
          }
        case _ => redacted
      }

      // optional trained-classifier gate (the text_lr operators as a filter):
      // train the logistic-regression filter ON the survivors (hashed
      // presence features, NB init, integer-GD fine-tune — LogReg scaladoc),
      // then drop documents whose posterior falls below the cap. The
      // fastText-style "does this look like the target domain" screen,
      // discriminative where the DSIR gate above is generative. An empty
      // survivor set has nothing to train on and nothing to keep
      val lrGated = (cfg.lrTargetLang, cfg.minLrSigmaMicro) match {
        case (Some(lang0), Some(minSigma)) if dsirKept.n > 0 =>
          import graft.operators.LogReg
          import graft.queries.TextQueries.{LrBuckets, LrSteps, LrNum, LrDen}
          val lr = LogReg.stage(LogReg.features(dsirKept.df, "doc_id", "text",
            col("lang") === lang0, LrBuckets), LrBuckets)
          try {
            val w = lr.trainWeights(dsirKept.n, LrSteps, LrNum, LrDen,
              init = Some(lr.nbInit()))
            val keep = lr.score(w).filter(col("sigma") >= minSigma).select("doc_id")
            stage(dsirKept.df.join(keep, Seq("doc_id"), "left_semi"))
          } finally lr.close()
        case _ => dsirKept
      }

      // optional quality-weighted downsample (Duffield–Lund–Thorup priority
      // sample — the corpus_sample_weighted operator): keep-probability scales
      // with the shared quality score, so the budget cut preserves the mix
      // instead of top-k cherry-picking; deterministic across runs
      val sampled0 = cfg.sampleWeighted.fold(lrGated) { k =>
        stage(Corpus.prioritySample(
            lrGated.df.withColumn("q",
              TextAnalysis.qualityScore(TextAnalysis.tokens(col("text")))),
            "doc_id", expr("CAST(floor(q * 1000000) AS BIGINT) + 1"), k)
          .drop("q", "w", "priority"))
      }
      // optional temperature-scaled source mix toward a token budget (the
      // corpus_mix_temperature operator): applied to whatever survived the
      // earlier gates, so the mix reweights the CURATED corpus
      val sampled = cfg.mixTemperature.fold(sampled0) { budget =>
        stage(sampled0.df.join(
          Corpus.temperatureMix(sampled0.df, "doc_id", "source", "text", budget)
            .select("doc_id"),
          Seq("doc_id"), "left_semi"))
      }

      // deterministic split, assigned by (parent) document BEFORE optional
      // chunking: overlapping chunks of one document share text, so letting
      // them straddle train/val/test would leak evaluation data into training
      val split = sampled.df.withColumn("split",
        Corpus.splitAssign(col("doc_id"), cfg.trainPct, cfg.valPct))

      // optional chunking: the written unit becomes the overlapping token
      // window; chunk ids pack (parent, idx) so they stay unique and traceable.
      // The packing is only collision-free below 100k chunks per doc — the
      // packing expression fails the stage loudly instead of silently fusing
      // two parents' chunks
      val units = cfg.chunkTokens.fold(Stage(split, sampled.n)) { ct =>
        val stride = cfg.chunkStride.getOrElse(ct)
        stage(Corpus.chunk(split, "doc_id", "text", ct, stride, passThrough = Seq("lang", "split"))
          .select(
            when(col("chunk_idx") < 100000L, col("doc_id") * 100000L + col("chunk_idx"))
              .otherwise(raise_error(lit("chunk id packing overflow: a document " +
                "produced >= 100000 chunks; raise --chunk-stride or --chunk-tokens")))
              .as("doc_id"),
            col("chunk_text").as("text"), col("lang"), col("split")))
      }

      // optional epoch-seeded training order: shard + position columns the
      // trainer reads in (shuffle_shard, shuffle_pos) order; a new seed
      // re-permutes. BOTH columns are written — shuffle_pos alone is a
      // per-shard position and would be ambiguous without its shard
      val tagged = cfg.shuffleSeed.fold(units.df) { seed =>
        Corpus.withShuffleOrder(units.df, "doc_id", seed, cfg.shards,
          "shuffle_shard", "shuffle_pos")
      }
      Corpus.writeSharded(tagged, cfg.outDir, "doc_id", Seq("split", "lang"), cfg.shards)
      // an all-filtered corpus writes only _SUCCESS: no footers, 0 rows
      val written = Readers.parquetRows(spark, cfg.outDir)

      Seq(
        "input" -> input,
        "exact_deduped" -> exact,
        "near_deduped" -> nearDeduped,
        "decontaminated" -> decontaminated,
        "substr_screened" -> substrScreened,
        "boilerplate_screened" -> bpScreened,
        "para_screened" -> paraScreened,
        "quality_filtered" -> quality,
        "xent_gated" -> xentGated,
        "pii_gated" -> piiGated,
        "dsir_selected" -> dsirKept,
        "lr_gated" -> lrGated,
        "quality_kept" -> sampled,
        "written_units" -> units).map { case (k, st) => k -> st.n } :+
        ("written" -> written)
    } finally staged.foreach(Staging.releaseFrame)
  }

  /** The near-dup drop set as a frame over a closure `comp` (doc_id,
    * cluster_id): the non-representatives (per `--keep-best`, a window over
    * each cluster) plus, under `--max-cluster-size`, every member of a larger
    * cluster. Used for a closure too large for the driver, and for
    * `--keep-best` on either path.
    */
  private[graft] def nearDropFrame(docs: DataFrame, comp: DataFrame, cfg: Config): DataFrame = {
    val dropNonReps =
      if (!cfg.keepBest) comp.filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      else {
        import org.apache.spark.sql.expressions.Window
        comp.join(docs.select(col("doc_id"),
            TextAnalysis.qualityScore(TextAnalysis.tokens(col("text"))).as("q")), "doc_id")
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("cluster_id")).orderBy(col("q").desc, col("doc_id"))))
          .filter(col("rn") > 1).select("doc_id")
      }
    cfg.maxClusterSize.fold(dropNonReps) { maxSz =>
      val farms = comp.join(
        comp.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
          .filter(col("sz") > maxSz).select("cluster_id"),
        Seq("cluster_id"), "left_semi").select("doc_id")
      dropNonReps.unionByName(farms).distinct()
    }
  }

  def main(args: Array[String]): Unit = {
    parse(args.toSeq) match {
      case Left(msg) =>
        // stdout carries only the JSON funnel summary; help goes to stdout
        // (it was asked for), errors to stderr.
        if (msg == helpText) println(msg)
        else { Console.err.println(msg); sys.exit(2) }
      case Right(cfg) =>
        val spark = Sessions.local("local[*]", 32)
        val funnel = run(spark, cfg)
        println(funnel.map { case (k, v) => s""""$k":$v""" }
          .mkString("{", ",", s""","out":"${cfg.outDir}"}"""))
        spark.stop()
    }
  }
}
