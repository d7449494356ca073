package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipelines.TrainingDataPipeline

class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  test("end-to-end curation pipeline: filter, dedup, shard write") {
    val docs = Tables.documents(spark, sf)
    // plant an exact dup and a near dup to exercise both dedup stages
    val donor = docs.filter($"doc_id" === 3).head()
    val text = donor.getAs[String]("text")
    val near = text.split(" ").dropRight(1).mkString(" ") + " zzz"
    val planted = docs.unionByName(Seq(
      (900001L, text, "xx", "srcdup", text.length.toLong),
      (900002L, near, "xx", "srcnear", near.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))

    val outDir = Files.createTempDirectory("graft_pipeline").toString
    val report = TrainingDataPipeline.run(spark, planted, outDir,
      TrainingDataPipeline.Config(minQuality = 0.0, minTokens = 1,
        nearDupThreshold = 0.6))

    assert(report.input == docs.count() + 2)
    // both planted copies must be dropped (doc 3 is the min-id survivor)
    assert(report.afterExactDedup == report.afterQuality - 1)
    assert(report.afterNearDedup < report.afterExactDedup)
    val out = spark.read.parquet(outDir)
    assert(out.count() == report.afterNearDedup)
    assert(!out.filter($"doc_id".isin(900001L, 900002L)).head(1).nonEmpty)
    assert(out.filter($"doc_id" === 3).count() == 1)
    // partitioned layout by lang
    assert(out.select("lang").distinct().count() >= 1)
    assert(report.totalTokens > 0)
  }

  test("exact-dedup subplan: text never shuffles on the corpus spine") {
    import graft.plans.PlanNodes
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val docs = Tables.documents(spark, sf)
    val planted = docs.unionByName( // ensure real dup candidates flow
      docs.filter($"doc_id" < 20).withColumn("doc_id", $"doc_id" + 700000L))
    val out = TrainingDataPipeline.dropExactDups(
      TrainingDataPipeline.annotate(planted))
    out.count() // let AQE finalize the executed plan
    val nodes = PlanNodes(out.queryExecution.executedPlan)
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.nonEmpty)
    // text may cross the wire only inside candidate resolution (downstream
    // of the join with the colliding-hash set, which AQE broadcasts here),
    // never for the full corpus: the hash-count shuffle carries
    // (hash, count) and the loser anti-join broadcasts
    shuffles.filter(_.output.exists(_.name == "text")).foreach { s =>
      assert(PlanNodes(s.child)
        .exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"corpus-width shuffle not under candidate join:\n$s")
    }
  }

  test("run() leaves zero cached datasets and reports from observations") {
    val docs = Tables.documents(spark, sf)
    val outDir = Files.createTempDirectory("graft_pipe_obs").toString
    val report = TrainingDataPipeline.run(spark, docs, outDir)
    assert(spark.sharedState.cacheManager.isEmpty,
      "pipeline must not persist corpus-scale intermediates")
    // observation-sourced numbers agree with a direct recount
    val out = spark.read.parquet(outDir)
    assert(report.afterNearDedup == out.count())
    assert(report.input == docs.count())
    assert(report.totalTokens ==
      out.agg(sum("n_tokens")).head().getLong(0))
  }

  test("drop ledger: every dropped doc appears exactly once with its " +
      "first-failing stage; output XOR ledger partitions the input; " +
      "results unchanged by the ledger") {
    val docs = Tables.documents(spark, sf)
    val donor = docs.filter($"doc_id" === 3).head().getAs[String]("text")
    val near = donor.split(" ").dropRight(1).mkString(" ") + " zzz"
    val planted = docs.unionByName(Seq(
      (900001L, donor, "xx", "srcdup", donor.length.toLong), // exact dup
      (900002L, near, "xx", "srcnear", near.length.toLong),  // near dup
      (900003L, "tiny", "xx", "srctiny", 4L),                // < minTokens
      (900004L, ("! ? " * 8).trim, "xx", "srcpunct", 31L)    // junk quality
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // benchmark twin → doc 7 decontaminated
    val benchmark = docs.filter($"doc_id" === 7L)
      .select(($"doc_id" + 500000L).as("doc_id"), $"text")
    // qualityScore's floor is 0.55 (length-band x stopword factors), so
    // 0.6 is the lowest cut that can fire; the planted short
    // stopword-free junk scores 0.55 and real docs score >= 0.8
    val cfg = TrainingDataPipeline.Config(minQuality = 0.6,
      minTokens = 3, nearDupThreshold = 0.6)
    val outPlain = Files.createTempDirectory("graft_led_plain").toString
    val rPlain = TrainingDataPipeline.run(spark, planted, outPlain, cfg,
      benchmark = Some(benchmark))
    val outDir = Files.createTempDirectory("graft_led_out").toString
    val ledDir = Files.createTempDirectory("graft_led").toString + "/led"
    val r = TrainingDataPipeline.run(spark, planted, outDir, cfg,
      benchmark = Some(benchmark),
      dropLedger = Some(TrainingDataPipeline.DropLedger(ledDir)))
    // the ledger must not change WHAT survives
    assert(r == rPlain)
    val ledger = spark.read.parquet(ledDir)
    val out = spark.read.parquet(outDir)
    // planted losers carry their first-failing stage and fine reason
    val byId = ledger.collect()
      .map(row => row.getAs[Long]("doc_id") ->
        (row.getAs[String]("stage"), row.getAs[String]("reason"))).toMap
    assert(byId(900001L) == (("exact_dup", "exact_dup")))
    assert(byId(900002L) == (("near_dup", "near_dup")))
    assert(byId(900003L) == (("quality_screen", "tokens")))
    assert(byId(900004L) == (("quality_screen", "quality")))
    assert(byId(7L) == (("contaminated", "contaminated")))
    // exactly-once: no doc has two ledger rows
    assert(ledger.count() == ledger.select("doc_id").distinct().count())
    // completeness: output ids ∪ ledger ids = input ids, disjoint
    val outIds = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val ledIds = ledger.select("doc_id").collect().map(_.getLong(0)).toSet
    val inIds = planted.select("doc_id").collect().map(_.getLong(0)).toSet
    assert((outIds & ledIds).isEmpty)
    assert((outIds | ledIds) == inIds)
    assert(ledger.count() == r.input - r.afterNearDedup)
    // no corpus-scale persists for the audit either
    assert(spark.sharedState.cacheManager.isEmpty)
    // sampled ledger: deterministic hash subset of the full ledger
    val outS = Files.createTempDirectory("graft_led_souts").toString
    val ledS = Files.createTempDirectory("graft_led_s").toString + "/led"
    TrainingDataPipeline.run(spark, planted, outS, cfg,
      benchmark = Some(benchmark),
      dropLedger = Some(TrainingDataPipeline.DropLedger(ledS,
        sampleMod = 2L)))
    val sampledIds = spark.read.parquet(ledS)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sampledIds.subsetOf(ledIds))
    assert(sampledIds.size < ledIds.size)
  }

  test("full-config run: mixing, gopher rules, decontamination, span dedup") {
    val docs = Tables.documents(spark, sf)
    // benchmark = a couple of corpus docs verbatim → must be decontaminated
    val benchmark = docs.filter($"doc_id".isin(5L, 7L))
      .select(($"doc_id" + 500000L).as("doc_id"), $"text")
    // plant a doc sharing its first 8-token span with doc 1 → span dropped
    val d1 = docs.filter($"doc_id" === 1).head().getAs[String]("text")
    val shared = d1.split(" ").take(8).mkString(" ")
    val planted = docs.unionByName(Seq(
      (910001L, shared + " novel1 novel2 novel3 novel4 novel5 novel6 novel7 novel8",
        "en", "srcspan", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))

    val outDir = Files.createTempDirectory("graft_pipe_full").toString
    val report = TrainingDataPipeline.run(spark, planted, outDir,
      TrainingDataPipeline.Config(minQuality = 0.0, minTokens = 1,
        nearDupThreshold = 0.99,
        redactPii = true,
        // permissive thresholds: exercises the rule-gate path without
        // changing which documents survive
        gopherRules = Some(TrainingDataPipeline.GopherRules(minWords = 1,
          minMeanLen = 0.0, maxMeanLen = 100.0, minStopRatio = 0.0,
          maxRepetition = 1.0)),
        mixingRates = Some(("source", Map("src0" -> 1.0), 1.0)),
        spanDedupTokens = Some(8)),
      benchmark = Some(benchmark))

    val out = spark.read.parquet(outDir)
    assert(out.count() == report.afterNearDedup)
    // decontaminated: the benchmark twins are gone
    assert(out.filter($"doc_id".isin(5L, 7L)).count() == 0)
    // span dedup: the planted doc survives but lost its shared span
    val plantedOut = out.filter($"doc_id" === 910001L).head()
    assert(plantedOut.getAs[String]("text") ==
      "novel1 novel2 novel3 novel4 novel5 novel6 novel7 novel8")
    assert(plantedOut.getAs[Long]("n_tokens") == 8L)
    // metadata carried through the rewrite
    assert(plantedOut.getAs[String]("source") == "srcspan")
    // doc 1 keeps its own span (first occurrence)
    assert(out.filter($"doc_id" === 1L)
      .head().getAs[String]("text") == d1)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("perplexity and learned-classifier gates drop the planted junk") {
    val docs = Tables.documents(spark, sf)
    // gibberish doc: every bigram context unseen by an LM trained on the
    // corpus → worst perplexity tail; "awful" marker for the classifier
    val junkText = Seq.fill(30)("zq xv qj wk").mkString(" ")
    val planted = docs.unionByName(Seq(
      (900010L, junkText, "xx", "srcjunk", junkText.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))

    // classifier trained to recognize docs mentioning "join" as keepable
    val labeled = docs.select($"doc_id", $"text",
      array_contains(split($"text", " "), "join").cast("int").as("label"))
    val model = graft.operators.Classifier.train(labeled, "text", "label",
      dim = 1 << 12, epochs = 25, lr = 1.0)

    val outDir = Files.createTempDirectory("graft_pipeline_gates").toString
    val report = TrainingDataPipeline.run(spark, planted, outDir,
      TrainingDataPipeline.Config(minQuality = 0.0, minTokens = 1,
        nearDupThreshold = 0.99),
      perplexityRef = Some((docs, 0.9)),
      qualityModel = Some((model, 0.5)))

    val out = spark.read.parquet(outDir)
    assert(out.filter($"doc_id" === 900010L).head(1).isEmpty,
      "gibberish doc must fall to the perplexity gate")
    assert(out.filter(!array_contains(split($"text", " "), "join"))
      .head(1).isEmpty, "classifier gate keeps only join-mentioning docs")
    assert(report.afterExactDedup < report.afterQuality,
      "gate losses land between quality and exact-dedup observations")
    assert(out.count() > 0)
  }

  test("line-dedup stage strips boilerplate lines from the shards") {
    val boiler = "subscribe to our newsletter today"
    val docs = Tables.documents(spark, sf)
      .select($"doc_id",
        when($"doc_id" % 2 === 0, concat($"text", lit("\n" + boiler)))
          .otherwise($"text").as("text"),
        $"lang", $"source", $"n_chars")
    val outDir = Files.createTempDirectory("graft_pipeline_lines").toString
    val report = TrainingDataPipeline.run(spark, docs, outDir,
      TrainingDataPipeline.Config(minQuality = 0.0, minTokens = 1,
        nearDupThreshold = 0.95, lineDedupDocFreq = Some(10)))
    val out = spark.read.parquet(outDir)
    assert(out.filter($"text".contains(boiler)).head(1).isEmpty,
      "boilerplate line must not reach the shards")
    assert(out.count() == report.afterNearDedup)
    assert(out.columns.contains("quality") && out.columns.contains("source"))
    assert(report.totalTokens > 0)
  }

  test("c4 line-filter stage cleans bad lines before any signal") {
    // make each doc multi-line with terminal punctuation, then plant a
    // boilerplate line and a fragment; the c4 stage must strip both and
    // report.input must count post-screen survivors
    val docs = Tables.documents(spark, sf)
      .select($"doc_id",
        concat(
          concat_ws("\n", transform(
            graft.operators.TextAnalysis.chunkByTokens($"text", 8, 0),
            l => concat(l, lit(".")))),
          lit("\nlorem ipsum dolor sit amet."),
          lit("\ntoo short.")).as("text"),
        $"lang", $"source", $"n_chars")
    val outDir = Files.createTempDirectory("graft_pipeline_c4").toString
    val report = TrainingDataPipeline.run(spark, docs, outDir,
      TrainingDataPipeline.Config(minQuality = 0.0, minTokens = 1,
        nearDupThreshold = 0.95, c4LineFilter = Some((4, 1))))
    val out = spark.read.parquet(outDir)
    assert(out.filter($"text".contains("lorem ipsum")).head(1).isEmpty,
      "blocklisted line must not reach the shards")
    assert(out.filter($"text".contains("too short")).head(1).isEmpty,
      "short fragment line must not reach the shards")
    // every fixture doc has a >= 8-token first chunk, so minLines=1 keeps
    // all docs and report.input counts the full post-screen corpus
    assert(report.input == docs.count())
    assert(out.count() == report.afterNearDedup && out.count() > 0)
  }

  test("temperature mixing knob derives rates from domain counts") {
    val docs = Tables.documents(spark, sf)
    val outDir = Files.createTempDirectory("graft_pipe_temp").toString
    val target = 200L
    val report = TrainingDataPipeline.run(spark, docs, outDir,
      TrainingDataPipeline.Config(minQuality = 0.0, minTokens = 1,
        temperatureMixing = Some(("source", 0.5, target))))
    // the mix lands near the target (hash-sampling noise), never above
    // input, and the pipeline stays consistent downstream
    assert(report.afterQuality <= report.input)
    assert(math.abs(report.afterQuality - target) < target / 2,
      s"mix=${report.afterQuality} target=$target")
    // token-budgeted variant: the mix budgets sum(n_tokens), so the kept
    // token mass (pre-dedup ~ afterQuality's share of input tokens) lands
    // near the token target, not the row count
    val outTok = Files.createTempDirectory("graft_pipe_temptok").toString
    val tokTarget = docs
      .agg(sum(org.apache.spark.sql.graft.NativeFunctions
        .tokenCount($"text"))).head().getLong(0) / 2
    val rTok = TrainingDataPipeline.run(spark, docs, outTok,
      TrainingDataPipeline.Config(minQuality = 0.0, minTokens = 1,
        temperatureMixing = Some(("source", 1.0, tokTarget)),
        temperatureMixWeightCol = Some("n_tokens")))
    assert(math.abs(rTok.totalTokens - tokTarget) < tokTarget / 2,
      s"tokens=${rTok.totalTokens} target=$tokTarget")
    // both knobs at once is a config error
    intercept[IllegalArgumentException] {
      TrainingDataPipeline.run(spark, docs, outDir,
        TrainingDataPipeline.Config(
          mixingRates = Some(("source", Map.empty[String, Double], 1.0)),
          temperatureMixing = Some(("source", 0.5, 100L))))
    }
  }

  test("web front-door stages: blocklist, url dedup, html extract, substring rewrite") {
    val tail = " unique shared tail sentence appearing twice across documents here"
    val docs = Tables.documents(spark, sf).filter($"doc_id" < 200)
      // make the probe docs' texts unique so exact/near dedup can't
      // interfere with the URL-stage assertions
      .withColumn("text",
        when($"doc_id".isin(10L, 11L, 12L),
          concat($"text", lit(" u"), $"doc_id"))
        .when($"doc_id".isin(20L, 25L), concat($"text", lit(tail)))
        .otherwise($"text"))
      .withColumn("text", concat(lit("<html><body><p>"), $"text",
        lit("</p><script>var x = 1;</script></body></html>")))
      .withColumn("url",
        when($"doc_id" === 11L, lit("https://WWW.good.org/p/10?utm_source=x"))
        .when($"doc_id" === 10L, lit("https://good.org/p/10"))
        .when($"doc_id" === 12L, lit("https://spam.bad-domain.com/x"))
        .otherwise(concat(lit("https://good.org/p/"), $"doc_id")))

    val outDir = Files.createTempDirectory("graft_pipe_web").toString
    val report = TrainingDataPipeline.run(spark, docs, outDir,
      TrainingDataPipeline.Config(minQuality = 0.0, minTokens = 1,
        htmlExtract = true, urlDedupCol = Some("url"),
        blockedDomains = Some(Seq("bad-domain.com")),
        substringDedupK = Some(8)))
    val out = spark.read.parquet(outDir)
    // 11 lost URL dedup to 10 (same canonical URL), 12 hit the blocklist
    assert(out.filter($"doc_id".isin(11L, 12L)).head(1).isEmpty)
    assert(out.filter($"doc_id" === 10L).count() == 1)
    // html never reaches the shards
    assert(out.filter($"text".contains("<")).head(1).isEmpty)
    // substring rewrite: first occurrence (doc 20) keeps the shared tail,
    // doc 25 loses exactly those words
    val t20 = out.filter($"doc_id" === 20L).head().getAs[String]("text")
    val t25 = out.filter($"doc_id" === 25L).head().getAs[String]("text")
    assert(t20.endsWith("here"), t20.takeRight(80))
    assert(!t25.contains("shared tail sentence"), t25.takeRight(80))
    assert(report.input == 200 - 2) // the two URL-stage losses precede input
  }

  test("calibrated quality gate keeps the same share of every source") {
    val docs = Tables.documents(spark, sf)
    val outDir = Files.createTempDirectory("graft_pipe_cal").toString
    val report = TrainingDataPipeline.run(spark, docs, outDir,
      TrainingDataPipeline.Config(minQuality = 0.0, minTokens = 1,
        calibratedQuality = Some(("source", 0.5))))
    // with no global screens, the calibrated gate alone sets afterQuality.
    // The fixture's rule score is a two-value plateau per source, so the
    // at-least-fraction semantics keep the whole top plateau (more than
    // half) while still dropping every source's bottom plateau.
    assert(report.afterQuality < report.input &&
      report.afterQuality >= (0.5 * report.input).toLong,
      s"afterQuality=${report.afterQuality} input=${report.input}")
  }

  test("pipeline is deterministic across runs") {
    val docs = Tables.documents(spark, sf)
    val out1 = Files.createTempDirectory("graft_p1").toString
    val out2 = Files.createTempDirectory("graft_p2").toString
    val r1 = TrainingDataPipeline.run(spark, docs, out1)
    val r2 = TrainingDataPipeline.run(spark, docs.repartition(13), out2)
    assert(r1 == r2)
    val a = spark.read.parquet(out1).select("doc_id")
    val b = spark.read.parquet(out2).select("doc_id")
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("dsir selection stage keeps target-distribution docs before dedup") {
    val vocabA = Seq("solar", "flux", "photon", "lattice", "quark", "spin")
    val vocabB = Seq("gravel", "asphalt", "cement", "mortar", "brick", "tile")
    def doc(vocab: Seq[String], rot: Int): String =
      (0 until 8).map(j => vocab((rot + j) % vocab.size)).mkString(" ")
    val corpus = ((1 to 30).map(i => (i.toLong, doc(vocabA, i), "en", "a", 1L)) ++
      (31 to 60).map(i => (i.toLong, doc(vocabB, i), "en", "b", 1L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val target = (1 to 10).map(i => (i.toLong, doc(vocabA, i * 7)))
      .toDF("tid", "text")
    val outDir = Files.createTempDirectory("graft_pipe_dsir").toString
    val report = TrainingDataPipeline.run(spark, corpus, outDir,
      TrainingDataPipeline.Config(minQuality = 0.0, minTokens = 1,
        nearDupThreshold = 0.99),
      dsirTarget = Some((target, 0.5)))
    assert(report.input == 60 && report.afterQuality == 60)
    // DSIR losses land before the exact-dedup observation
    assert(report.afterExactDedup < 60)
    val out = spark.read.parquet(outDir)
    assert(out.count() == report.afterNearDedup)
    val a = out.filter($"doc_id" <= 30).count()
    val b = out.filter($"doc_id" > 30).count()
    assert(a > b, s"target family must dominate the output: a=$a b=$b")
    // selection happens before dedup, so survivors are still min-id
    // canonical within each family's duplicate groups
    assert(out.count() == out.select("text").distinct().count())
  }

  test("sequence output stage emits fixed-length trainer shards") {
    val docs = Tables.documents(spark, sf)
    val model = graft.operators.Tokenizer.bpeTrain(
      docs, "text", numMerges = 60, maxWords = 5000)
    val outDir = Files.createTempDirectory("graft_pipe_seq_docs").toString
    val seqDir = Files.createTempDirectory("graft_pipe_seq_out").toString
    val report = TrainingDataPipeline.run(spark, docs, outDir,
      TrainingDataPipeline.Config(minQuality = 0.0, minTokens = 1),
      sequenceOutput = Some(TrainingDataPipeline.SequencePack(
        model, seqDir, seqLen = 128, seqsPerBin = 8)))
    val seqs = spark.read.parquet(seqDir)
    assert(report.sequences > 0 && seqs.count() == report.sequences)
    assert(seqs.filter(size($"ids") =!= 128).head(1).isEmpty,
      "every written sequence is exactly seqLen after padding")
    // layout mirrors the document shards: partitioned by lang
    assert(seqs.columns.toSet == Set("lang", "bin", "seq_idx", "ids"))
    // conservation: total ids = survivors' encoded tokens + bounded pad
    // (less than one seqLen per (lang, bin))
    val enc = graft.operators.Tokenizer.bpeEncodeIdsUdf(spark, model)
    val inTok = spark.read.parquet(outDir)
      .agg(sum(size(enc($"text")))).head().getLong(0)
    val outTok = report.sequences * 128
    val nBins = seqs.select("lang", "bin").distinct().count()
    assert(outTok >= inTok && outTok < inTok + nBins * 128,
      s"in=$inTok out=$outTok bins=$nBins")
  }

  test("media pipeline: binary near-dup screen, frame sample, batch pack") {
    import graft.pipelines.MediaCurationPipeline
    val docs = Tables.documents(spark, sf)
    // plant two long near-identical payloads: big enough (~4 KB) that CDC
    // produces many chunks, so the mid-payload edit re-synchronizes and
    // byte-jaccard stays high. Short fixture docs chunk as a single blob
    // (any edit zeroes the jaccard) — that regime is m142's concern.
    val base = (1 to 400).map(i => s"tok$i word$i").mkString(" ")
    val twin = base.patch(2000, "EDITED-SPLICE", 0)
    val planted = docs.unionByName(Seq(
      (900001L, base, "xx", "srcdup", base.length.toLong),
      (900002L, twin, "xx", "srcdup", twin.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))

    val outDir = Files.createTempDirectory("graft_media").toString
    val report = MediaCurationPipeline.run(spark, planted, outDir)

    assert(report.input == docs.count() + 2)
    // the twin loses to its cluster's min id (900001 survives)
    assert(report.afterNearDedup < report.input)
    val manifest = spark.read.parquet(outDir)
    assert(!manifest.filter($"doc_id" === 900002L).head(1).nonEmpty)
    assert(manifest.filter($"doc_id" === 900001L).head(1).nonEmpty)

    // manifest invariants: counts match the report; stills contribute
    // exactly one frame at t=0; videos never exceed the per-video cap;
    // a document's frames all land in one (format, bin) batch
    assert(manifest.count() == report.frames)
    assert(manifest.select("format", "bin").distinct().count()
      == report.batches)
    assert(manifest.filter($"media" === "video")
      .select("doc_id").distinct().count() == report.videos)
    val perDoc = manifest.groupBy("doc_id", "media")
      .agg(count(lit(1)).as("nf"),
        countDistinct($"format", $"bin").as("nbin"))
    assert(perDoc.filter($"media" === "still" &&
      ($"nf" =!= 1 || $"nbin" =!= 1)).head(1).isEmpty)
    assert(perDoc.filter($"nf" > 8 || $"nbin" =!= 1).head(1).isEmpty)
    assert(report.videos > 0 && report.frames > report.afterNearDedup)
  }

  test("the p182_media_pipeline gate entry reports exactly what run() reports") {
    import graft.pipelines.MediaCurationPipeline
    val row = SparkEntry.queries("p182_media_pipeline")(spark, sf).head()
    val out = Files.createTempDirectory("graft_p182_pin").toString
    val r = MediaCurationPipeline.run(spark, Tables.documents(spark, sf), out)
    assert(row.getLong(0) == r.input)
    assert(row.getLong(1) == r.afterNearDedup)
    assert(row.getLong(2) == r.videos)
    assert(row.getLong(3) == r.frames)
    assert(row.getLong(4) == r.batches)
  }

  test("the p88_pipeline gate entry reports exactly what run() reports") {
    val row = SparkEntry.queries("p88_pipeline")(spark, sf).head()
    val out = Files.createTempDirectory("graft_p88_pin").toString
    val r = TrainingDataPipeline.run(spark, Tables.documents(spark, sf), out)
    assert(row.getLong(0) == r.input)
    assert(row.getLong(1) == r.afterQuality)
    assert(row.getLong(2) == r.afterExactDedup)
    assert(row.getLong(3) == r.afterNearDedup)
    assert(row.getLong(4) == r.totalTokens)
    assert(r.input > 0 && r.afterNearDedup > 0 && r.totalTokens > 0)
  }
}
