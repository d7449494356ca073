package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.graft.CheckpointOps

import graft.operators.{Dedup, TextAnalysis}
import graft.sources.PartitionedWrite

/** End-to-end training-data curation: the composition a 100 TB pretraining
  * pipeline actually runs, built entirely from this library's operators —
  * ingest → language-ID → quality filter → optional deterministic sample →
  * exact dedup → MinHash near-dup removal (cluster-canonical survivors via
  * connected components) → tokenize/stats → partitioned shard write.
  *
  * Every stage is a DataFrame transform (Catalyst-optimized end to end:
  * the quality filter's expressions push into the same stage as language
  * scoring; only the dedups shuffle). Survivor selection is deterministic
  * (min doc_id) so shards are reproducible run-over-run.
  */
object TrainingDataPipeline {

  final case class Config(
      minQuality: Double = 0.7,
      minTokens: Int = 10,
      nearDupThreshold: Double = 0.8,
      shingleK: Int = 5,
      outputPartitionCol: String = "lang",
      /** Deterministic corpus downsample applied before dedup (None = all);
        * hash-bucket sampling, so the same documents survive at any
        * partitioning — reproducible ablation runs. */
      sampleFraction: Option[Double] = None,
      /** Also apply the Gopher-style rule gate ([[TextAnalysis.gopherKeep]])
        * on top of the composite quality score, with these thresholds —
        * the knobs a curation run sweeps (e.g. raise maxMeanLen for
        * code-heavy corpora). */
      gopherRules: Option[GopherRules] = None,
      /** Replace emails/URLs/phone numbers with placeholder tokens before
        * anything downstream sees the text. */
      redactPii: Boolean = false,
      /** Per-source mixing rates (strata column, rates, default rate):
        * deterministic hash sampling per stratum, applied with the
        * corpus downsample before dedup. */
      mixingRates: Option[(String, Map[String, Double], Double)] = None,
      /** Temperature-scaled mixing (domain column, alpha, target rows):
        * derives the per-domain rates from the `p ∝ n^alpha` smoothing
        * rule instead of hand-set `mixingRates`
        * ([[Dedup.temperatureMix]]); mutually exclusive with it. */
      temperatureMixing: Option[(String, Double, Long)] = None,
      /** With `temperatureMixing`: budget by this per-row weight column
        * instead of row counts — set to "n_tokens" (computed by
        * [[annotate]]) for the token-budgeted mix pretraining recipes
        * specify. */
      temperatureMixWeightCol: Option[String] = None,
      /** Corpus-level repeated-span removal after near-dup dedup: spans of
        * this many tokens that occurred earlier in the corpus are dropped
        * and documents rewritten ([[Dedup.spanDedup]]). */
      spanDedupTokens: Option[Int] = None,
      /** Boilerplate line removal ([[Dedup.lineDedup]]): newline-delimited
        * lines occurring in more than this many distinct documents are
        * removed everywhere; runs with the corpus rewrites (after near-dup
        * dedup, before span dedup) so the matching stages upstream see the
        * original text. Docs reduced to nothing are dropped. */
      lineDedupDocFreq: Option[Long] = None,
      /** C4-recipe rule-based line cleaning ([[TextAnalysis.c4Clean]]):
        * (minWordsPerLine, minLines). Runs FIRST — before redaction and
        * every signal — because it models raw web-text cleanup (terminal
        * punctuation, short fragments, boilerplate markers); documents
        * left under minLines are dropped, and `Report.input` counts the
        * documents that SURVIVE this screen. Unlike `lineDedupDocFreq`
        * (corpus-frequency lines, needs a shuffle) this is a zero-shuffle
        * per-row rule. */
      c4LineFilter: Option[(Int, Int)] = None,
      /** Treat ingest `text` as raw HTML and extract visible prose
        * ([[TextAnalysis.htmlToText]]) before every other stage —
        * zero-shuffle, so it fuses into the same scan stage as C4
        * cleaning and annotation. */
      htmlExtract: Boolean = false,
      /** URL hygiene (column holding each doc's URL): canonicalize and
        * keep one min-id survivor per normalized URL — the cheapest dedup
        * rung, BEFORE any text signal is computed (RefinedWeb runs it
        * first for the same reason: the dup decision reads a ~100 B key,
        * not the document). */
      urlDedupCol: Option[String] = None,
      /** Domain blocklist over the same URL column: drop documents whose
        * registrable domain is listed (broadcast
        * [[graft.operators.UrlOps.domainFilter]]). */
      blockedDomains: Option[Seq[String]] = None,
      /** Per-source calibrated quality gate: AFTER the global score
        * screens, keep the top fraction of each group by calibrated
        * quality ([[TextAnalysis.calibratedKeep]]) — one global knob that
        * prunes every source equally instead of whichever source's score
        * distribution sits lowest. (groupCol, keepFraction). */
      calibratedQuality: Option[(String, Double)] = None,
      /** Compression-ratio band gate ([[TextAnalysis.compressionKeep]]):
        * (minRatio, maxRatio) — drops degenerate repetition below the
        * band and incompressible noise above it; fuses into the same
        * per-row stage as the other quality screens. */
      compressionBand: Option[(Double, Double)] = None,
      /** Exact-substring (k-gram coverage) rewrite
        * ([[Dedup.substringDedup]]) — the strongest corpus-rewrite rung,
        * after span dedup; spans duplicated anywhere keep only their
        * first occurrence. Documents cut to nothing are dropped. */
      substringDedupK: Option[Int] = None)

  /** Trainer-ready sequence emission ([[run]]'s `sequenceOutput`): the
    * surviving documents are BPE-encoded with the supplied pre-trained
    * model and packed into fixed-length id sequences
    * ([[graft.operators.Tokenizer.packSequences]]) written to `dir`
    * partitioned by the pipeline's output-partition column. Train the
    * model beforehand (on a sample, like every fit in this library).
    * The default `padId` 0 is the vocabulary's reserved `<unk>` id —
    * fine when the trainer masks trailing pad, GPT-2-style; pass a
    * dedicated id if pad must be distinguishable from OOV. */
  final case class SequencePack(
      model: graft.operators.Tokenizer.BpeModel,
      dir: String,
      seqLen: Int = 2048,
      seqsPerBin: Int = 64,
      padId: Int = 0)

  /** Drop-ledger request for [[run]] — the batch counterpart of
    * `streamCurate`'s reasoned DLQ: `dir` receives ONE parquet row per
    * dropped input document, `(doc_id, stage, reason)`, where `stage`
    * is the FIRST pipeline stage that discarded it (stages screen
    * strictly narrowing survivor sets, so first-failing is by
    * construction — a doc appears at most once) and `reason` the
    * finest-grained cause (the quality stage splits into
    * tokens/quality/gopher/compression; elsewhere reason = stage).
    * This answers the first question every curation audit asks — "why
    * did doc X disappear?" — which the aggregate `observe()` Report
    * cannot.
    *
    * `sampleMod` keeps the ledger bounded on a 100 TB run: only docs
    * with `xxhash64(doc_id) % sampleMod == 0` are recorded (1 = full
    * ledger; the hash is the same deterministic family as
    * [[Dedup.hashSample]], so the sample is reproducible and unbiased
    * per stage).
    *
    * Cost model (opt-in): the ledger is ONE extra write action.
    * Per-row screen reasons ride the SAME predicate expressions the
    * quality gate evaluates ([[qualityScreenReason]] — the screens
    * are never re-derived); the exact/near-dup stages contribute
    * their ALREADY-COMPUTED id-sized loser sets (lazily
    * local-checkpointed, so the dedup shuffles never re-run for the
    * audit); the remaining enabled stages contribute id-projection
    * anti-joins whose column pruning keeps the re-read to the id/key
    * columns. No corpus-sized persist anywhere. */
  final case class DropLedger(dir: String, sampleMod: Long = 1L) {
    require(sampleMod >= 1L, s"sampleMod must be >= 1, got $sampleMod")
  }

  /** Rule-gate thresholds for [[TextAnalysis.gopherKeep]]. */
  final case class GopherRules(
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minStopRatio: Double = 0.02, maxRepetition: Double = 0.5)

  /** Stage counts observed on the single write pass. `afterExactDedup`
    * includes decontamination losses when a benchmark is supplied (they
    * land between the quality and exact-dedup observations), and
    * `afterNearDedup` is the FINAL document count — after span dedup when
    * `spanDedupTokens` is set (span dedup can delete fully-duplicate
    * documents). */
  final case class Report(
      input: Long, afterQuality: Long, afterExactDedup: Long,
      afterNearDedup: Long, totalTokens: Long,
      /** Fixed-length training sequences written (0 unless `sequenceOutput`
        * was requested). */
      sequences: Long = 0L)

  /** Annotate: (optional PII redaction,) language, quality, token count —
    * one codegen'd pass; redaction rewrites `text` before any signal
    * reads it. */
  def annotate(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val src = if (cfg.redactPii)
      docs.withColumn("text", TextAnalysis.redactPii(col("text")))
    else docs
    src.select(col("doc_id"), col("text"), col("source"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.qualityScore(col("text")).as("quality"),
      org.apache.spark.sql.graft.NativeFunctions.tokenCount(col("text"))
        .cast(LongType).as("n_tokens"))
  }

  /** FIRST-failing per-row quality-screen reason (NULL = passes every
    * screen), shared by [[qualityFilter]] and the drop ledger so the
    * keep set and the audit can never diverge. NULL-valued keep
    * predicates FAIL their screen (a row whose signal is unscoreable is
    * dropped, exactly as the bare filter chain dropped it under ternary
    * logic) — the same convention as `streamCurate`'s DLQ reasons. */
  def qualityScreenReason(cfg: Config): org.apache.spark.sql.Column = {
    def fail(keep: org.apache.spark.sql.Column, r: String) =
      when(!coalesce(keep, lit(false)), lit(r))
    val rs = Seq(
      fail(col("n_tokens") >= cfg.minTokens, "tokens"),
      fail(col("quality") >= cfg.minQuality, "quality")) ++
      cfg.gopherRules.map(g => fail(TextAnalysis.gopherKeep(
        col("text"), g.minWords, g.maxWords, g.minMeanLen, g.maxMeanLen,
        g.minStopRatio, g.maxRepetition), "gopher")).toSeq ++
      cfg.compressionBand.map { case (lo, hi) =>
        fail(TextAnalysis.compressionKeep(col("text"), lo, hi),
          "compression") }.toSeq
    coalesce((rs :+ lit(null).cast("string")): _*)
  }

  /** Quality gate: per-row predicate, fully pushed into the scan stage;
    * with `gopherRules` the rule-based screen runs in the same stage.
    * Keeps exactly the rows whose [[qualityScreenReason]] is NULL. */
  def qualityFilter(annotated: DataFrame, cfg: Config): DataFrame =
    annotated.filter(qualityScreenReason(cfg).isNull)

  /** Exact dedup: keep the min-id survivor per identical text. Hash-first
    * ([[Dedup.exactLosers]]): the corpus-wide shuffle carries only
    * (xxhash64, partial count) with map-side combine — document text never
    * crosses the wire except for the tiny colliding-hash candidate sliver,
    * and the final anti-join broadcasts the loser ids so the corpus spine
    * itself does not shuffle at all. */
  def dropExactDups(df: DataFrame): DataFrame =
    df.join(Dedup.exactLosers(df, "doc_id", Seq("text")),
      Seq("doc_id"), "left_anti")

  /** Near-dup removal with CLUSTER-canonical survivors: MinHash pairs →
    * connected components ([[Dedup.dupClusters]]) → keep only each
    * cluster's min id. Cluster resolution matters for chains: with pairs
    * (1,2),(2,3) but no (1,3), pairwise loser-dropping would discard 3
    * even though its only near-dup (2) is also dropped; clustering keeps
    * exactly one representative per component. */
  def dropNearDups(df: DataFrame, cfg: Config): DataFrame = {
    val pairs = Dedup.minhashNearDups(df, "doc_id", "text",
      shingleK = cfg.shingleK, threshold = cfg.nearDupThreshold)
    val losers = Dedup.dupClusters(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    df.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Run the full pipeline; write shards partitioned by language.
    *
    * All five Report numbers come from `observe()` metrics riding plans the
    * pipeline executes anyway — the near-dup stage's eager edge
    * materialization fires the input/quality/exact-dedup observations, and
    * the shard write fires the output ones. No stage is `persist()`ed and
    * no extra counting job runs: at 100 TB the old persist-then-count
    * report cost 4× corpus-scale cache pressure plus five scheduled scans;
    * this costs one accumulator per stage. (The same stage subtree can
    * appear in several plan branches — candidate hash set, loser anti-join
    * — but every instance observes the stage's full row set, so the
    * recorded metric is the stage count regardless of which branch
    * reported it.) */
  /** Optional benchmark-decontamination input for [[run]]: documents whose
    * shingle overlap with any of these reaches the threshold are dropped
    * between the quality gate and dedup.
    *
    * Optional DSIR selection input (`dsirTarget`): a (target corpus with a
    * `text` column, keep fraction) pair — after the quality gate, only the
    * share of the corpus whose hashed-n-gram distribution best matches the
    * target survives ([[Dedup.importanceResample]]). The target sees the
    * same PII redaction as the corpus (a redaction-shifted distribution
    * would skew the likelihood ratios). Its losses land between the
    * `afterQuality` and `afterExactDedup` observations, like
    * decontamination's. */
  /** Optional CCNet-style perplexity gate (`perplexityRef`): an LM is
    * trained on the supplied trusted reference corpus and only the target
    * documents at or below the given perplexity quantile survive
    * ([[graft.operators.LanguageModel.perplexityFilter]]); unscoreable
    * (sub-n-gram) docs are kept. The reference sees the same PII
    * redaction as the corpus. Optional learned quality gate
    * (`qualityModel`): a pre-trained hashing-trick classifier
    * ([[graft.operators.Classifier]]) scores every document zero-shuffle
    * and rows below the threshold are dropped — train it on a labeled
    * sample beforehand. Both stages' losses land between the
    * `afterQuality` and `afterExactDedup` observations, like
    * decontamination's.
    *
    * Optional per-document drop ledger (`dropLedger`): write one
    * (doc_id, stage, reason) row per dropped document — the batch
    * counterpart of `streamCurate`'s reasoned DLQ; see
    * [[DropLedger]] for the contract and cost model. */
  def run(spark: SparkSession, docs: DataFrame, outDir: String,
      cfg: Config = Config(), benchmark: Option[DataFrame] = None,
      dsirTarget: Option[(DataFrame, Double)] = None,
      perplexityRef: Option[(DataFrame, Double)] = None,
      qualityModel: Option[(graft.operators.Classifier.LinearModel, Double)] = None,
      sequenceOutput: Option[SequencePack] = None,
      dropLedger: Option[DropLedger] = None): Report = {
    import org.apache.spark.sql.Observation
    val (obsIn, obsQ, obsE, obsD) =
      (Observation(), Observation(), Observation(), Observation())
    // Drop-ledger plumbing (see [[DropLedger]]): each screening stage
    // contributes its losers as (doc_id, stage, reason) rows; the
    // union writes once, AFTER the shard write (so every observe()
    // metric is settled by the main action, and the ledger's extra
    // executions of observed subtrees are ignored by Observation).
    // Every contributed frame is lazily local-checkpointed AT LEDGER
    // WRITE TIME (after the main action) — ids only, never
    // corpus-sized — so the ledger union's own plan is a union of
    // LogicalRDD stubs instead of one multi-hundred-KB tree carrying
    // every stage's corpus chain textually (the r15 p332 profile: the
    // residual cost was Catalyst planning of exactly that tree). The
    // checkpoint must NOT happen at frame creation: a lazy
    // localCheckpoint issues a "checkpointLazy" query execution whose
    // completion event can report an observe() node's UNRUN metrics
    // (zero rows) and complete the Observation with 0 before the main
    // action runs — deterministically reproduced for shuffle-free
    // frames, whose plan is not wrapped (hidden) by AQE. Per-row
    // screens contribute their losers by negating the gate's OWN
    // predicate over one pass; set-valued screens (URL dedup,
    // decontamination) contribute a losers-side derivation — never a
    // `before ANTI after` that executes the prefix twice.
    val ledgerBuf = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def ledgerIds(stage: String, before: DataFrame, after: DataFrame): Unit =
      dropLedger.foreach { _ =>
        ledgerBuf += before.select(col("doc_id"))
          .join(after.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), lit(stage).as("stage"),
            lit(stage).as("reason"))
      }
    def ledgerLosers(stage: String, losers: DataFrame): Unit =
      dropLedger.foreach { _ =>
        ledgerBuf += losers.select(col("doc_id"), lit(stage).as("stage"),
            lit(stage).as("reason"))
      }
    // loser-id frames shared between the corpus chain and the ledger,
    // persisted for the duration of the run (id-sized, never corpus);
    // unpersisted right after the ledger write
    val ledgerPersisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // URL hygiene first: blocklist + URL-level dedup read only the URL
    // column — no text signal is paid for a page that loses here
    val urlScreened = cfg.urlDedupCol.map { u =>
      val blocked = cfg.blockedDomains.filter(_.nonEmpty).map { doms =>
        import spark.implicits._
        val list = doms.toDF("domain")
        val b = graft.operators.UrlOps.domainFilter(docs, u,
          list, "domain", "deny")
        // the blocklist losers are the "allow"-mode complement of the
        // same predicate — one pass over docs, no anti-join
        ledgerLosers("url_blocked", graft.operators.UrlOps.domainFilter(
          docs, u, list, "domain", "allow"))
        b
      }.getOrElse(docs)
      val keep = graft.operators.UrlOps.urlDedup(blocked, "doc_id", u)
        .select(col("keep_doc_id").as("doc_id"))
      val out = blocked.join(keep, Seq("doc_id"), "left_semi")
      ledgerLosers("url_dup",
        graft.operators.UrlOps.urlDedupLosers(blocked, "doc_id", u))
      out
    }.getOrElse {
      require(cfg.blockedDomains.isEmpty,
        "blockedDomains needs urlDedupCol to name the URL column")
      docs
    }
    val extracted =
      if (cfg.htmlExtract)
        urlScreened.withColumn("text", TextAnalysis.htmlToText(col("text")))
      else urlScreened
    val pre = cfg.c4LineFilter.map { case (minWords, minLines) =>
      val c = TextAnalysis
        .c4Clean(extracted, "doc_id", "text", minWords, minLines)
        .withColumnRenamed("id", "doc_id")
        .drop("kept_lines", "total_lines")
      ledgerIds("c4_lines", extracted, c)
      c
    }.getOrElse(extracted)
    val annotated = annotate(pre, cfg).observe(obsIn, count(lit(1)).as("n"))
    // the sample keep-decision is a deterministic per-row predicate
    // (Dedup.hashSampleKeep) — the ledger negates it instead of
    // anti-joining the annotated chain against its own sampled self
    val sampleKeep = cfg.sampleFraction
      .map(f => Dedup.hashSampleKeep("doc_id", f))
    val sampled = sampleKeep.map(annotated.filter).getOrElse(annotated)
    require(cfg.mixingRates.isEmpty || cfg.temperatureMixing.isEmpty,
      "set mixingRates (hand-set) or temperatureMixing (derived), not both")
    val mixingOn =
      cfg.mixingRates.isDefined || cfg.temperatureMixing.isDefined
    val mixed = cfg.mixingRates
      .map { case (strata, rates, dflt) =>
        Dedup.stratifiedSample(sampled, "doc_id", strata, rates, dflt) }
      .orElse(cfg.temperatureMixing.map { case (domain, alpha, target) =>
        Dedup.temperatureMix(sampled, "doc_id", domain, alpha, target,
          cfg.temperatureMixWeightCol) })
      .getOrElse(sampled)
    if (mixingOn) ledgerIds("mixed_out", sampled, mixed)
    // per-row screens: the ledger re-uses the gate's OWN predicate
    // expressions (first failing screen), never a re-derivation
    dropLedger.foreach { _ =>
      val reason = qualityScreenReason(cfg)
      sampleKeep match {
        case Some(keep) if !mixingOn =>
          // mixed == sampled here, so ONE pass over the annotated
          // chain yields both frames' rows: a row failing the sample
          // predicate is sampled_out; a surviving row failing a
          // quality screen is quality_screen — same rows, same
          // first-failing-stage attribution as the two-frame form
          ledgerBuf += annotated.select(col("doc_id"),
              when(!keep, lit("sampled_out"))
                .when(reason.isNotNull, lit("quality_screen"))
                .as("stage"),
              when(!keep, lit("sampled_out")).otherwise(reason)
                .as("reason"))
            .filter(col("stage").isNotNull)
        case _ =>
          sampleKeep.foreach { keep =>
            ledgerLosers("sampled_out", annotated.filter(!keep))
          }
          ledgerBuf += mixed
            .select(col("doc_id"), lit("quality_screen").as("stage"),
              reason.as("reason"))
            .filter(col("reason").isNotNull)
      }
    }
    val qualityGated = qualityFilter(mixed, cfg)
    // the calibrated gate is part of the quality stage: afterQuality
    // reports what survives BOTH the global screens and the per-source cut
    val calibrated = cfg.calibratedQuality
      .map { case (group, frac) =>
        val c = TextAnalysis.calibratedKeep(qualityGated, "quality",
          group, frac)
        ledgerIds("calibrated", qualityGated, c)
        c
      }
      .getOrElse(qualityGated)
    val quality = calibrated.observe(obsQ, count(lit(1)).as("n"))
    val selected = dsirTarget
      .map { case (t0, frac) =>
        val tgt = if (cfg.redactPii)
          t0.withColumn("text", TextAnalysis.redactPii(col("text")))
        else t0
        val sel = Dedup.importanceResample(quality, "doc_id", "text",
          tgt.select("text"), frac).drop("score")
        ledgerIds("dsir", quality, sel)
        sel
      }
      .getOrElse(quality)
    // the LM reference must see the same redaction as the corpus — a
    // model trained on raw emails/URLs would score redacted text as
    // out-of-domain
    val fluent = perplexityRef
      .map { case (r0, quantile) =>
        val ref = if (cfg.redactPii)
          r0.withColumn("text", TextAnalysis.redactPii(col("text")))
        else r0
        val f = graft.operators.LanguageModel.perplexityFilter(
          selected, ref, "doc_id", "text", keepQuantile = quantile)
          .drop("perplexity")
        ledgerIds("perplexity", selected, f)
        f
      }
      .getOrElse(selected)
    val gated = qualityModel
      .map { case (model, threshold) =>
        val g = graft.operators.Classifier
          .classify(fluent, "text", model, threshold)
          .filter(col("keep")).drop("score", "keep")
        ledgerIds("classifier", fluent, g)
        g
      }
      .getOrElse(fluent)
    // the benchmark must see the same redaction as the corpus, or a
    // PII-bearing benchmark doc would no longer exact-hash-match its
    // verbatim corpus twin
    val clean = benchmark
      .map { b0 =>
        val b = if (cfg.redactPii)
          b0.withColumn("text", TextAnalysis.redactPii(col("text")))
        else b0
        if (dropLedger.isDefined) {
          // the contaminated-id set is computed ONCE (persisted, ids
          // only — materialized by the main action through the corpus
          // anti-join, read back by the ledger, unpersisted after the
          // ledger write) — the former before-ANTI-after audit re-ran
          // the whole contamination kernel plus the gated chain a
          // second time inside the ledger plan. persist(), not a lazy
          // localCheckpoint: see the ledger-plumbing note on
          // pre-action checkpointLazy executions vs Observation.
          val losers = Dedup.decontaminateLosers(gated, b, "doc_id",
              "text", cfg.shingleK).persist()
          ledgerPersisted += losers
          ledgerLosers("contaminated", losers)
          gated.join(losers, Seq("doc_id"), "left_anti")
        } else Dedup.decontaminate(gated, b, "doc_id", "text",
          cfg.shingleK)
      }
      .getOrElse(gated)
    // dedup stages share their ALREADY-COMPUTED loser-id sets with the
    // ledger (lazily local-checkpointed, ids only) — the dedup
    // shuffles/minhash kernels never re-run for the audit
    val exactLosersDf = dropLedger.map { _ =>
      Dedup.exactLosers(clean, "doc_id", Seq("text"))
        .select(col("doc_id")).transform(CheckpointOps(_, eager = false))
    }
    val exact = exactLosersDf
      .map(l => clean.join(l, Seq("doc_id"), "left_anti"))
      .getOrElse(dropExactDups(clean))
      .observe(obsE, count(lit(1)).as("n"))
    exactLosersDf.foreach(l => ledgerBuf += l.select(col("doc_id"),
      lit("exact_dup").as("stage"), lit("exact_dup").as("reason")))
    val nearLosersDf = dropLedger.map { _ =>
      Dedup.dupClusters(Dedup.minhashNearDups(exact, "doc_id", "text",
          shingleK = cfg.shingleK, threshold = cfg.nearDupThreshold))
        .filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
        .transform(CheckpointOps(_, eager = false))
    }
    val nearDeduped = nearLosersDf
      .map(l => exact.join(l, Seq("doc_id"), "left_anti"))
      .getOrElse(dropNearDups(exact, cfg))
    nearLosersDf.foreach(l => ledgerBuf += l.select(col("doc_id"),
      lit("near_dup").as("stage"), lit("near_dup").as("reason")))
    // corpus rewrites: boilerplate lines first (line-granular), then
    // repeated spans; token totals recomputed after each rewrite
    val lineDeduped = cfg.lineDedupDocFreq
      .map { f =>
        Dedup.lineDedup(nearDeduped, "doc_id", "text", f,
            carryCols = Seq("source", "lang", "quality"))
          .withColumnRenamed("id", "doc_id")
          .withColumn("n_tokens",
            org.apache.spark.sql.graft.NativeFunctions.tokenCount(col("text"))
              .cast(LongType))
          .drop("kept_lines", "total_lines")
      }
      .getOrElse(nearDeduped)
    val spanDeduped = cfg.spanDedupTokens
      .map { k =>
        Dedup.spanDedup(lineDeduped, "doc_id", "text", k,
            carryCols = Seq("source", "lang", "quality"))
          .withColumnRenamed("id", "doc_id")
          .withColumn("n_tokens",
            org.apache.spark.sql.graft.NativeFunctions.tokenCount(col("text"))
              .cast(LongType))
          .drop("kept_spans")
      }
      .getOrElse(lineDeduped)
    // strongest rewrite rung last: spans duplicated ANYWHERE keep only
    // their first occurrence; docs cut to nothing drop out
    val rewritten = cfg.substringDedupK
      .map { k =>
        Dedup.substringDedup(spanDeduped, "doc_id", "text", k,
            carryCols = Seq("source", "lang", "quality"))
          .filter(col("clean_text") =!= "")
          .withColumnRenamed("clean_text", "text")
          .withColumn("n_tokens",
            org.apache.spark.sql.graft.NativeFunctions.tokenCount(col("text"))
              .cast(LongType))
          .drop("n_removed")
      }
      .getOrElse(spanDeduped)
    // only the corpus rewrites can delete a document here (cut to
    // nothing) — skip the anti-join entirely when none is configured
    if (cfg.lineDedupDocFreq.isDefined || cfg.spanDedupTokens.isDefined ||
        cfg.substringDedupK.isDefined)
      ledgerIds("rewritten_empty", nearDeduped, rewritten)
    val deduped = rewritten
      .observe(obsD,
        count(lit(1)).as("n"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("tok"))

    PartitionedWrite.writePartitioned(
      deduped, outDir, Seq(cfg.outputPartitionCol))

    // the ledger writes AFTER the main action: observe() metrics are
    // settled, the dedup loser checkpoints are materialized, and a
    // pipeline failure never leaves a ledger for an unwritten corpus
    dropLedger.foreach { dl =>
      // each branch is lazily checkpointed HERE — after the main
      // action, so the checkpointLazy executions can no longer race an
      // Observation (see the plumbing note) — turning the union's plan
      // into a union of LogicalRDD stubs; each branch's (single-prefix)
      // plan is planned on its own instead of inside one giant tree
      val all = ledgerBuf.map(CheckpointOps(_, eager = false))
        .reduce(_ unionByName _)
      val rows =
        if (dl.sampleMod > 1L)
          all.filter(pmod(xxhash64(lit("graft_ledger"),
            col("doc_id").cast("string")), lit(dl.sampleMod)) === 0L)
        else all
      rows.write.mode("overwrite").parquet(dl.dir)
      ledgerPersisted.foreach(_.unpersist())
    }

    // Sequence emission reads BACK the just-written shards — referencing
    // the live `deduped` plan again would re-run the entire curation
    // pipeline (dedup shuffles included) for the encode pass.
    val nSeq = sequenceOutput.fold(0L) { sp =>
      val survivors = spark.read.parquet(outDir)
      val enc = graft.operators.Tokenizer.bpeEncodeIdsUdf(spark, sp.model)
      val encoded = survivors.select(col("doc_id"),
        col(cfg.outputPartitionCol), enc(col("text")).as("ids"))
      val packed = graft.operators.Tokenizer.packSequences(
        encoded, "ids", sp.seqLen,
        group = col(cfg.outputPartitionCol), order = col("doc_id"),
        seqsPerBin = sp.seqsPerBin, padId = Some(sp.padId))
      val obsS = Observation()
      PartitionedWrite.writePartitioned(
        packed.withColumnRenamed("group", cfg.outputPartitionCol)
          .observe(obsS, count(lit(1)).as("n")),
        sp.dir, Seq(cfg.outputPartitionCol))
      obsS.get("n").asInstanceOf[Long]
    }

    Report(
      input = obsIn.get("n").asInstanceOf[Long],
      afterQuality = obsQ.get("n").asInstanceOf[Long],
      afterExactDedup = obsE.get("n").asInstanceOf[Long],
      afterNearDedup = obsD.get("n").asInstanceOf[Long],
      totalTokens = obsD.get("tok").asInstanceOf[Long],
      sequences = nSeq)
  }
}
