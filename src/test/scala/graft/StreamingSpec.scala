package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.{CdcStream, MicroBatch}

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def eventsDir(): String = {
    // Stage events as a directory source (streaming file source needs a dir
    // it can list; single parquet file works too, but a dir is realistic).
    val dir = Files.createTempDirectory("graft_stream").toString
    Tables.events(spark, sf).write.mode("overwrite").parquet(dir)
    dir
  }

  test("windowed counts over a file stream match batch aggregation") {
    val dir = eventsDir()
    val stream = MicroBatch.fileStream(spark, dir)
    val agg = MicroBatch.windowedCounts(stream, "ts", "1 hour", "1 hour",
      Seq(col("event_type")))
    val got = MicroBatch.runToMemory(spark, agg, "win_counts")
      .select(col("window.start").as("h"), col("event_type"), col("n"))
    val want = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(got.count() == want.count())
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("stream dedup emits each key once despite re-delivered input") {
    // stage the events TWICE — a redelivery — and dedup on the ingest path
    val dir = Files.createTempDirectory("graft_stream_dd").toString
    Tables.events(spark, sf).write.mode("overwrite").parquet(dir)
    Tables.events(spark, sf).write.mode("append").parquet(dir)
    val deduped = MicroBatch.streamDedup(
        MicroBatch.fileStream(spark, dir), "ts", "1 hour",
        Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"))
    val got = MicroBatch.runToMemory(spark, deduped, "sdd", outputMode = "append")
    val want = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).distinct()
    assert(got.count() == want.count())
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("stream-stream interval join matches the batch interval join") {
    val dir = eventsDir()
    def src = MicroBatch.fileStream(spark, dir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val buys = src.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"))
    val joined = MicroBatch.intervalJoin(
      clicks, buys, "user_id", "click_ts", "buy_ts", "1 hour", "1 day")
    val got = MicroBatch.runToMemory(spark, joined, "ij", outputMode = "append")
      .select(col("click_id"), col("buy_id"))

    val ev = Tables.events(spark, sf)
    val l = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("lts"))
    val r = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("ruid"), col("event_id").as("buy_id"), col("ts").as("rts"))
    val want = l.join(r, col("user_id") === col("ruid") &&
        col("rts") >= col("lts") &&
        col("rts") <= col("lts") + expr("interval 1 day"))
      .select(col("click_id"), col("buy_id"))
    assert(got.count() > 0)
    assert(got.count() == want.count())
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("interval join resolves column names that would need backticks in SQL") {
    // Dots and spaces in the join/timestamp names: a string-interpolated
    // condition would fail to parse; the Column-API build must resolve them.
    val dir = eventsDir()
    def src = MicroBatch.fileStream(spark, dir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("user.id"), col("event_id").as("click_id"),
        col("ts").as("click ts"))
    val buys = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("user.id"), col("event_id").as("buy_id"),
        col("ts").as("buy ts"))
    val joined = MicroBatch.intervalJoin(
      clicks, buys, "user.id", "click ts", "buy ts", "1 hour", "1 day")
    val got = MicroBatch.runToMemory(spark, joined, "ij_bt", outputMode = "append")
      .select(col("click_id"), col("buy_id"))

    val ev = Tables.events(spark, sf)
    val l = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("lts"))
    val r = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("ruid"), col("event_id").as("buy_id"), col("ts").as("rts"))
    val want = l.join(r, col("user_id") === col("ruid") &&
        col("rts") >= col("lts") &&
        col("rts") <= col("lts") + expr("interval 1 day"))
      .select(col("click_id"), col("buy_id"))
    assert(got.count() > 0 && got.count() == want.count())
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("cdc stateful stream: deletes drop keys, updates win by seq") {
    val dir = Files.createTempDirectory("graft_cdc").toString
    Seq(
      CdcStream.CdcOp(1L, "I", 1L, 1.0), CdcStream.CdcOp(1L, "U", 2L, 5.0),
      CdcStream.CdcOp(2L, "I", 3L, 2.0), CdcStream.CdcOp(2L, "D", 4L, 0.0),
      CdcStream.CdcOp(3L, "I", 5L, 9.0)
    ).toDS().write.mode("overwrite").parquet(dir)
    val ops = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[CdcStream.CdcOp]].schema)
      .parquet(dir)
      .as[CdcStream.CdcOp]
    val out = CdcStream.runBatch(spark, ops, "cdc_state")
      .collect().map(s => (s.key, s.value)).toSeq.sorted
    assert(out == Seq((1L, 5.0), (3L, 9.0)))
  }

  test("dead-letter split routes dirty rows without aborting") {
    val dir = eventsDir()
    val stream = MicroBatch.fileStream(spark, dir)
    var good = 0L
    var bad = 0L
    val q = MicroBatch.withDeadLetter(stream, col("value") >= 10.0,
        b => good += b.count(), b => bad += b.count())
      .start()
    try q.processAllAvailable() finally q.stop()
    val ev = Tables.events(spark, sf)
    assert(good == ev.filter(col("value") >= 10.0).count())
    assert(bad == ev.filter(col("value") < 10.0).count())
  }

  test("dead-letter: rows whose predicate evaluates to NULL are DIRTY, not lost") {
    val dir = Files.createTempDirectory("graft_dlq_null").toString
    // value NULL makes `value >= 10` evaluate to NULL — the corrupt-row
    // case a DLQ exists for; a filter/!filter pair would drop it entirely
    Seq((1L, Some(20.0)), (2L, Some(5.0)), (3L, None: Option[Double]))
      .toDF("id", "value").write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    var good = Seq.empty[Long]
    var bad = Seq.empty[Long]
    val q = MicroBatch.withDeadLetter(stream, col("value") >= 10.0,
        b => good ++= b.select("id").as[Long].collect(),
        b => bad ++= b.select("id").as[Long].collect())
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(good.sorted == Seq(1L))
    assert(bad.sorted == Seq(2L, 3L), s"NULL-predicate row lost: $bad")
  }

  test("checkpointed file sink writes event-time partitioned output") {
    val dir = eventsDir()
    val outDir = Files.createTempDirectory("graft_sink").toString
    val ckpt = Files.createTempDirectory("graft_sink_ck").toString
    val stream = MicroBatch.fileStream(spark, dir)
      .withColumn("dt", MicroBatch.eventTimePartition(col("ts"), "yyyy-MM-dd"))
    val q = stream.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .partitionBy("dt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val back = spark.read.parquet(outDir)
    assert(back.count() == Tables.events(spark, sf).count())
    // partition dirs exist per day
    val days = Files.list(java.nio.file.Paths.get(outDir)).iterator()
    val dtDirs = Iterator.continually(days).takeWhile(_.hasNext).map(_.next())
      .map(_.getFileName.toString).filter(_.startsWith("dt=")).toSeq
    assert(dtDirs.nonEmpty)
  }

  test("lookup join refreshes the dimension per micro-batch") {
    val dir = eventsDir()
    val stream = MicroBatch.fileStream(spark, dir)
    var loads = 0
    var joined = 0L
    val dim = Seq(("click", 1), ("purchase", 2)).toDF("event_type", "w")
    val q = MicroBatch.lookupJoin(stream, () => { loads += 1; dim },
        Seq("event_type"), b => joined += b.filter(col("w").isNotNull).count())
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(loads >= 1)
    val ev = Tables.events(spark, sf)
    assert(joined == ev.filter(col("event_type").isin("click", "purchase")).count())
  }

  test("lookup join rides out transient dimension-reload failures") {
    import graft.sources.Retry
    val dir = eventsDir()
    val stream = MicroBatch.fileStream(spark, dir)
    var attempts = 0
    var joined = 0L
    val dim = Seq(("click", 1), ("purchase", 2)).toDF("event_type", "w")
    val saved = Retry.baseBackoffMs
    Retry.baseBackoffMs = 1L
    val q = MicroBatch.lookupJoin(stream, () => {
        attempts += 1
        // the first two reloads fail transiently (dimension source flake)
        if (attempts <= 2) throw new java.sql.SQLTransientException(s"dim flake $attempts")
        dim
      },
        Seq("event_type"), b => joined += b.filter(col("w").isNotNull).count())
      .start()
    try q.processAllAvailable() finally { q.stop(); Retry.baseBackoffMs = saved }
    assert(attempts >= 3, "the failed reloads must have been retried")
    val ev = Tables.events(spark, sf)
    assert(joined == ev.filter(col("event_type").isin("click", "purchase")).count())
  }

  test("lookup join retries failures at dimension SCAN time, not just construction") {
    import graft.sources.Retry
    val dir = eventsDir()
    val stream = MicroBatch.fileStream(spark, dir)
    var joined = 0L
    StreamingSpec.scanAttempts.set(0)
    // The poison fires when the dimension is EVALUATED (executor-side),
    // after loadDim has already returned a perfectly healthy lazy plan —
    // the failure mode a lazy-only retry would miss.
    val poison = udf { (et: String) =>
      if (StreamingSpec.scanAttempts.get() <= 1)
        // transient-classified cause, reaching Retry through Spark's
        // FAILED_EXECUTE_UDF wrapper — the chain transientDefault walks
        throw new java.io.IOException("transient dim scan flake")
      et
    }
    val dim = Seq(("click", 1), ("purchase", 2)).toDF("event_type", "w")
      .withColumn("event_type", poison(col("event_type")))
    val saved = Retry.baseBackoffMs
    Retry.baseBackoffMs = 1L
    val q = MicroBatch.lookupJoin(stream,
        () => { StreamingSpec.scanAttempts.incrementAndGet(); dim },
        Seq("event_type"), b => joined += b.filter(col("w").isNotNull).count())
      .start()
    try q.processAllAvailable() finally { q.stop(); Retry.baseBackoffMs = saved }
    assert(StreamingSpec.scanAttempts.get() >= 2,
      "the scan-time failure must have triggered a reload retry")
    val ev = Tables.events(spark, sf)
    assert(joined == ev.filter(col("event_type").isin("click", "purchase")).count())
  }

  test("streaming near-dup ingest dedups across batches via the index") {
    import graft.operators.Dedup
    def words(prefix: String) = (1 to 20).map(i => s"$prefix$i").mkString(" ")
    def perturb(t: String) = t.split(" ").dropRight(1).mkString(" ") + " zzz"

    val root = Files.createTempDirectory("graft_snd")
    val (indexDir, outDir, srcDir, ckpt) = (s"$root/idx", s"$root/out",
      s"$root/src", s"$root/ckpt")
    // seed: index of the deduplicated base corpus (batch=seed subdir)
    val base = Seq((2L, words("alpha")), (4L, words("beta"))).toDF("doc_id", "text")
    Dedup.minhashIndex(base, "doc_id", "text")
      .write.parquet(s"$indexDir/batch=seed")

    // two source files = two micro-batches (maxFilesPerTrigger=1):
    //  batch 1: 101 novel, 103 ~ base doc 2   → 103 dropped via seed index
    //  batch 2: 201 ~ 101 (NOT in the base!), 205 novel
    //           → 201 must be dropped via the ACCUMULATED index
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    def stage(name: String, mtime: Long, rows: (Long, String)*): Unit = {
      val tmp = Files.createTempDirectory("graft_snd_f").toString + "/data"
      rows.toSeq.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(srcDir, name)
      Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis() - 60000
    stage("f1.parquet", t0, 101L -> words("gamma"), 103L -> perturb(words("alpha")))
    stage("f2.parquet", t0 + 30000, 201L -> perturb(words("gamma")), 205L -> words("delta"))

    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = MicroBatch.streamNearDupIngest(stream, indexDir, outDir, ckpt,
      "doc_id", "text", threshold = 0.5)
    try q.processAllAvailable() finally q.stop()

    val survivors = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(101L, 205L),
      s"cross-batch near-dup must be dropped via the accumulated index: $survivors")
    // the index accumulated exactly the seed + the survivors
    val idxIds = spark.read.parquet(indexDir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(idxIds == Set(2L, 4L, 101L, 205L), s"index ids: $idxIds")
  }

  test("streamCurate: reasoned DLQ, cross-batch dedup, restart is a no-op") {
    def words(prefix: String) = (1 to 20).map(i => s"$prefix$i").mkString(" ")
    val root = Files.createTempDirectory("graft_curate")
    val (indexDir, outDir, rejDir, srcDir, ckpt) = (s"$root/idx", s"$root/out",
      s"$root/rej", s"$root/src", s"$root/ckpt")
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    def stage(name: String, mtime: Long, rows: (Long, String)*): Unit = {
      val tmp = Files.createTempDirectory("graft_cur_f").toString + "/data"
      rows.toSeq.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(srcDir, name)
      Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis() - 60000
    // batch 1: a good doc, a too-short doc, a PII-bearing good doc
    stage("f1.parquet", t0,
      1L -> words("alpha"), 2L -> "tiny", 3L -> (words("beta") + " a@b.co"))
    // batch 2: verbatim replay of doc 1 (must lose to the accumulated
    // index), plus a novel doc
    stage("f2.parquet", t0 + 30000, 10L -> words("alpha"), 11L -> words("gamma"))

    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = MicroBatch.streamCurate(stream, indexDir, outDir, rejDir, ckpt,
        "doc_id", "text",
        MicroBatch.CurateConfig(minQuality = 0.0, minTokens = 3,
          threshold = 0.6))
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val kept = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 11L), s"kept: $kept")
    val rejects = spark.read.parquet(rejDir)
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rejects == Map(2L -> "tokens"), s"rejects: $rejects")
    // redaction ran before the index was built
    val t3 = spark.read.parquet(outDir).filter($"doc_id" === 3L)
      .head().getAs[String]("text")
    assert(t3.contains("<EMAIL>") && !t3.contains("a@b.co"))
    // restart against the same checkpoint: nothing new → outputs unchanged
    run()
    val kept2 = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == kept)
  }

  test("streamCurate DLQ reports the FIRST failing screen") {
    def words(prefix: String) = (1 to 20).map(i => s"$prefix$i").mkString(" ")
    val root = Files.createTempDirectory("graft_curate2")
    val (indexDir, outDir, rejDir, srcDir, ckpt) = (s"$root/idx", s"$root/out",
      s"$root/rej", s"$root/src", s"$root/ckpt")
    // a repetitive doc fails the compression band; the short doc fails
    // tokens FIRST even though it would also fail compression
    Seq(1L -> words("ok"), 2L -> ("spam ham " * 100).trim, 3L -> "tiny")
      .toDF("doc_id", "text").coalesce(1).write.parquet(srcDir)
    val stream = spark.readStream
      .schema(new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string"))
      .parquet(srcDir)
    val q = MicroBatch.streamCurate(stream, indexDir, outDir, rejDir, ckpt,
      "doc_id", "text",
      MicroBatch.CurateConfig(minQuality = 0.0, minTokens = 3,
        compressionBand = Some((0.15, 1.0)), threshold = 0.6))
    try q.processAllAvailable() finally q.stop()
    val rejects = spark.read.parquet(rejDir)
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rejects == Map(2L -> "compression", 3L -> "tokens"), s"$rejects")
    assert(spark.read.parquet(outDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("streamCurate reads each source row once per trigger") {
    def words(prefix: String) = (1 to 20).map(i => s"$prefix$i").mkString(" ")
    val root = Files.createTempDirectory("graft_curate_rows")
    val (indexDir, outDir, rejDir, srcDir, ckpt) = (s"$root/idx", s"$root/out",
      s"$root/rej", s"$root/src", s"$root/ckpt")
    val n = 12
    (1 to n).map(i => (i.toLong, if (i % 4 == 0) "tiny" else words(s"d$i-")))
      .toDF("doc_id", "text").coalesce(1).write.parquet(srcDir)
    val stream = spark.readStream
      .schema(new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string"))
      .parquet(srcDir)
    val q = MicroBatch.streamCurate(stream, indexDir, outDir, rejDir, ckpt,
      "doc_id", "text",
      MicroBatch.CurateConfig(minQuality = 0.0, minTokens = 3))
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.map(_.numInputRows).sum == n,
      q.recentProgress.map(_.numInputRows).mkString(","))
    assert(spark.read.parquet(outDir).count() +
      spark.read.parquet(rejDir).count() == n)
  }

  test("a foreachBatch body plans its shuffles adaptively") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // the sinks' per-batch queries (dedup, folds, merges) rely on AQE's
    // runtime broadcasts and concurrent stages although the streaming
    // plan itself runs without AQE
    val srcDir = Files.createTempDirectory("graft_fb_aqe").toString + "/src"
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "v").coalesce(1)
      .write.parquet(srcDir)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val body: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, _) => {
      val agg = b.groupBy("v").count()
      plans.add(agg.queryExecution.executedPlan match {
        case _: AdaptiveSparkPlanExec => "adaptive"
        case p => p.nodeName
      })
      agg.collect()
      ()
    }
    val q = spark.readStream
      .schema(new org.apache.spark.sql.types.StructType()
        .add("k", "long").add("v", "string"))
      .parquet(srcDir).writeStream.foreachBatch(body).start()
    try q.processAllAvailable() finally q.stop()
    assert(!plans.isEmpty && plans.toArray.forall(_ == "adaptive"),
      plans.toString)
  }

  test("near-dup ingest batch replay is idempotent (no self-index dedup)") {
    import graft.operators.Dedup
    def words(prefix: String) = (1 to 20).map(i => s"$prefix$i").mkString(" ")
    val root = Files.createTempDirectory("graft_snd_replay")
    val (indexDir, outDir) = (s"$root/idx", s"$root/out")
    val base = Seq((2L, words("alpha"))).toDF("doc_id", "text")
    Dedup.minhashIndex(base, "doc_id", "text")
      .write.parquet(s"$indexDir/batch=seed")

    val batch = Seq((101L, words("gamma")), (105L, words("delta")))
      .toDF("doc_id", "text")
    def run(): Set[Long] = {
      MicroBatch.ingestDedupBatch(batch, 0L, indexDir, outDir,
        "doc_id", "text", 5, 128, 32, 0.5, 64)
      spark.read.parquet(s"$outDir/batch=0")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val first = run()
    assert(first == Set(101L, 105L), s"first attempt: $first")
    // crash-after-index-write replay: batch=0's own index rows now exist;
    // the replay must NOT dedup the batch against its own previous attempt
    // (that would emit an empty batch and lose the documents forever)
    val replay = run()
    assert(replay == first,
      s"replay must reproduce the batch, not erase it: $replay")
  }

  test("an all-dup ingest batch keeps the output and index readable") {
    import graft.operators.Dedup
    def words(prefix: String) = (1 to 20).map(i => s"$prefix$i").mkString(" ")
    val root = Files.createTempDirectory("graft_snd_empty")
    val (indexDir, outDir) = (s"$root/idx", s"$root/out")
    val base = Seq((2L, words("alpha"))).toDF("doc_id", "text")
    Dedup.minhashIndex(base, "doc_id", "text")
      .write.parquet(s"$indexDir/batch=seed")
    // batch 0: an exact twin of the base doc → ZERO survivors; the write
    // and the index build from the read-back must both tolerate empty
    MicroBatch.ingestDedupBatch(
      Seq((101L, words("alpha"))).toDF("doc_id", "text"),
      0L, indexDir, outDir, "doc_id", "text", 5, 128, 32, 0.5, 64)
    // the stream continues: batch 1 still dedups against the seed index
    MicroBatch.ingestDedupBatch(
      Seq((201L, words("beta")), (202L, words("alpha")))
        .toDF("doc_id", "text"),
      1L, indexDir, outDir, "doc_id", "text", 5, 128, 32, 0.5, 64)
    val survivors = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(201L), s"survivors: $survivors")
    val idxIds = spark.read.parquet(indexDir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(idxIds == Set(2L, 201L), s"index ids: $idxIds")
  }

  test("a malformed index dir fails the ingest batch with a layout error") {
    import graft.operators.Dedup
    def words(prefix: String) = (1 to 20).map(i => s"$prefix$i").mkString(" ")
    val root = Files.createTempDirectory("graft_snd_layout")
    val (indexDir, outDir) = (s"$root/idx", s"$root/out")
    Dedup.minhashIndex(Seq((2L, words("alpha"))).toDF("doc_id", "text"),
        "doc_id", "text")
      .write.parquet(s"$indexDir/batch=seed")
    // a stray partition-less parquet file under the index root would
    // silently break partition discovery for every later micro-batch —
    // must be rejected at batch start with a clear error instead
    Files.copy(
      new java.io.File(s"$indexDir/batch=seed").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath,
      java.nio.file.Paths.get(s"$indexDir/stray.parquet"))
    val ex = intercept[IllegalArgumentException] {
      MicroBatch.ingestDedupBatch(
        Seq((101L, words("beta"))).toDF("doc_id", "text"),
        0L, indexDir, outDir, "doc_id", "text", 5, 128, 32, 0.5, 64)
    }
    assert(ex.getMessage.contains("stray.parquet"), ex.getMessage)
    // hidden bookkeeping files (_SUCCESS-style) are tolerated
    Files.delete(java.nio.file.Paths.get(s"$indexDir/stray.parquet"))
    Files.createFile(java.nio.file.Paths.get(s"$indexDir/_marker"))
    MicroBatch.ingestDedupBatch(
      Seq((101L, words("beta"))).toDF("doc_id", "text"),
      0L, indexDir, outDir, "doc_id", "text", 5, 128, 32, 0.5, 64)
    val got = spark.read.parquet(s"$outDir/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(101L))
  }

  test("stateless classifier scoring on a stream matches the batch result") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source"),
        array_contains(split(col("text"), " "), "join")
          .cast("int").as("label"))
    val model = graft.operators.Classifier.train(docs, "text", "label",
      dim = 1 << 12, epochs = 15, lr = 1.0)
    val batchCounts = docs
      .select(col("source"),
        (graft.operators.Classifier.scoreExpr(col("text"), model) >= 0.5)
          .cast("long").as("keep"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("keep")).as("kept"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    val streamDir = java.nio.file.Files.createTempDirectory("graft_strq")
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"))
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val src = spark.readStream.schema(schema).parquet(streamDir.toString)
    val agg = src.select(col("source"),
        (graft.operators.Classifier.scoreExpr(col("text"), model) >= 0.5)
          .cast("long").as("keep"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("keep")).as("kept"))
    val name = "strq_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val streamed = graft.streaming.MicroBatch.runToMemory(spark, agg, name)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batchCounts,
      "the literal-weights scoring expression must be batch/stream invariant")
  }

  test("upsertSnapshot: batch rows win, untouched keys and partitions survive") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString + "/snap"
    // seed snapshot: two partitions
    graft.streaming.MicroBatch.upsertSnapshot(
      Seq(("p1", "a", 1L), ("p1", "b", 2L), ("p2", "c", 3L))
        .toDF("part", "k", "n"), dir, "part", Seq("k"))
    // update: touches p1 only — updates a, adds d; b must survive, p2 untouched
    graft.streaming.MicroBatch.upsertSnapshot(
      Seq(("p1", "a", 10L), ("p1", "d", 4L)).toDF("part", "k", "n"),
      dir, "part", Seq("k"))
    val got = spark.read.parquet(dir)
      .collect().map(r => (r.getAs[String]("part"), r.getAs[String]("k"),
        r.getAs[Long]("n"))).toSet
    assert(got == Set(("p1", "a", 10L), ("p1", "b", 2L), ("p1", "d", 4L),
      ("p2", "c", 3L)))
    // idempotent: replaying the same batch changes nothing
    graft.streaming.MicroBatch.upsertSnapshot(
      Seq(("p1", "a", 10L), ("p1", "d", 4L)).toDF("part", "k", "n"),
      dir, "part", Seq("k"))
    assert(spark.read.parquet(dir).count() == 4)
    // an empty batch is a no-op, not a truncate
    graft.streaming.MicroBatch.upsertSnapshot(
      Seq.empty[(String, String, Long)].toDF("part", "k", "n"),
      dir, "part", Seq("k"))
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("streamUpsert merges update-mode windowed counts across micro-batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_strup")
    val (srcDir, snapDir, ckpt) =
      (s"$root/src", s"$root/snap", s"$root/ckpt")
    // two files -> two micro-batches hitting the SAME window key
    Seq(("2024-01-01 00:10:00", "click"), ("2024-01-01 00:20:00", "click"),
        ("2024-01-01 00:30:00", "view"))
      .toDF("t", "event_type").withColumn("ts", to_timestamp(col("t")))
      .select("ts", "event_type").repartition(1).write.parquet(srcDir)
    Seq(("2024-01-01 00:40:00", "click"), ("2024-01-01 01:05:00", "view"))
      .toDF("t", "event_type").withColumn("ts", to_timestamp(col("t")))
      .select("ts", "event_type").repartition(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val counts = graft.streaming.MicroBatch.windowedCounts(
        stream, "ts", "100 hours", "1 hour", Seq(col("event_type")))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hr"),
        col("event_type"), col("n"))
    val q = graft.streaming.MicroBatch.streamUpsert(counts, snapDir,
        "hr", Seq("event_type"),
        graft.streaming.MicroBatch.IngestConfig(checkpointDir = ckpt))
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(snapDir)
      .collect().map(r => (r.getAs[String]("hr"), r.getAs[String]("event_type"),
        r.getAs[Long]("n"))).toSet
    // cross-batch totals, not last-batch counts: click 3 in hour 00
    assert(got == Set(("2024-01-01 00:00", "click", 3L),
      ("2024-01-01 00:00", "view", 1L), ("2024-01-01 01:00", "view", 1L)))
  }

  test("upsertSnapshotManifest: batch rows win through the pointer " +
      "commit; untouched partitions keep their old generations; replay " +
      "converges; vacuum reclaims orphans") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.ManifestCommit
    val dir = java.nio.file.Files
      .createTempDirectory("graft_upsertm").toString + "/snap"
    def up(rows: Seq[(String, String, Long)]): Unit =
      graft.streaming.MicroBatch.upsertSnapshotManifest(
        rows.toDF("part", "k", "n"), dir, "part", Seq("k"))
    up(Seq(("p1", "a", 1L), ("p1", "b", 2L), ("p2", "c", 3L)))
    up(Seq(("p1", "a", 10L), ("p1", "d", 4L))) // touches p1 only
    def got() = ManifestCommit.read(spark, dir)
      .collect().map(r => (r.getAs[String]("part"), r.getAs[String]("k"),
        r.getAs[Long]("n"))).toSet
    assert(got() == Set(("p1", "a", 10L), ("p1", "b", 2L),
      ("p1", "d", 4L), ("p2", "c", 3L)))
    // untouched p2 is still served from generation 0 (never rewritten)
    val (_, map) = ManifestCommit.latestPointer(dir).get
    assert(map("part=p2") === Seq(0L))
    assert(map("part=p1") === Seq(1L))
    // replay: re-applying the same batch converges (new generation,
    // same logical state); the superseded generation vacuums away
    up(Seq(("p1", "a", 10L), ("p1", "d", 4L)))
    assert(got() == Set(("p1", "a", 10L), ("p1", "b", 2L),
      ("p1", "d", 4L), ("p2", "c", 3L)))
    val deleted = ManifestCommit.vacuum(dir)
    assert(deleted.exists(_.endsWith("g=1"))) // p1's superseded gen
    assert(got().size == 4)
    // empty batch is a no-op, not a truncate
    up(Seq.empty)
    assert(got().size == 4)
  }

  test("streamUpsertManifest merges update-mode windowed counts across " +
      "micro-batches through the pointer commit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_strupm")
    val (srcDir, snapDir, ckpt) =
      (s"$root/src", s"$root/snap", s"$root/ckpt")
    Seq(("2024-01-01 00:10:00", "click"), ("2024-01-01 00:20:00", "click"),
        ("2024-01-01 00:30:00", "view"))
      .toDF("t", "event_type").withColumn("ts", to_timestamp(col("t")))
      .select("ts", "event_type").repartition(1).write.parquet(srcDir)
    Seq(("2024-01-01 00:40:00", "click"), ("2024-01-01 01:05:00", "view"))
      .toDF("t", "event_type").withColumn("ts", to_timestamp(col("t")))
      .select("ts", "event_type").repartition(1).write.mode("append")
      .parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val counts = graft.streaming.MicroBatch.windowedCounts(
        stream, "ts", "100 hours", "1 hour", Seq(col("event_type")))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hr"),
        col("event_type"), col("n"))
    val q = graft.streaming.MicroBatch.streamUpsertManifest(counts,
        snapDir, "hr", Seq("event_type"),
        graft.streaming.MicroBatch.IngestConfig(checkpointDir = ckpt),
        compactEvery = 1) // exercise the in-stream compaction too
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = graft.sources.ManifestCommit.read(spark, snapDir)
      .collect().map(r => (r.getAs[String]("hr"),
        r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSet
    assert(got == Set(("2024-01-01 00:00", "click", 3L),
      ("2024-01-01 00:00", "view", 1L), ("2024-01-01 01:00", "view", 1L)))
  }

  /** Two micro-batches of (hr, k, event_type) rows that both touch hour
    * h0, aggregated as `max(event_type)` per (hr, k) with no alias — the
    * shape whose persisted foreachBatch frame failed its cache lookup. */
  private def maxPerHourStream(root: java.nio.file.Path)
      : org.apache.spark.sql.DataFrame = {
    val srcDir = s"$root/src"
    Seq(("h0", "a", "click"), ("h0", "b", "view"))
      .toDF("hr", "k", "event_type").repartition(1).write.parquet(srcDir)
    Seq(("h0", "a", "view"), ("h1", "c", "click"))
      .toDF("hr", "k", "event_type").repartition(1).write.mode("append")
      .parquet(srcDir)
    spark.readStream.schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .groupBy(col("hr"), col("k")).agg(max(col("event_type")))
  }

  private val maxPerHourWant = Set(("h0", "a", "view"), ("h0", "b", "view"),
    ("h1", "c", "click"))

  private def maxPerHourRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[String]("hr"), r.getAs[String]("k"),
      r.getAs[String]("max(event_type)"))).toSet

  test("streamUpsert merges an unaliased max aggregate over two batches " +
      "touching one partition") {
    val root = Files.createTempDirectory("graft_strup_max")
    val q = MicroBatch.streamUpsert(maxPerHourStream(root), s"$root/snap",
        "hr", Seq("k"), MicroBatch.IngestConfig(checkpointDir = s"$root/ckpt"))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(maxPerHourRows(spark.read.parquet(s"$root/snap")) == maxPerHourWant)
  }

  test("streamUpsertManifest merges an unaliased max aggregate over two " +
      "batches touching one partition") {
    val root = Files.createTempDirectory("graft_strupm_max")
    val q = MicroBatch.streamUpsertManifest(maxPerHourStream(root),
        s"$root/snap", "hr", Seq("k"),
        MicroBatch.IngestConfig(checkpointDir = s"$root/ckpt"))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(maxPerHourRows(graft.sources.ManifestCommit.read(spark,
      s"$root/snap")) == maxPerHourWant)
  }

  test("dead-letter split over an unaliased max aggregate in update " +
      "mode lands every emitted row in exactly one sink") {
    val root = Files.createTempDirectory("graft_dlq_max")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[String]("hr"), r.getAs[String]("k"),
        r.getAs[String]("max(event_type)"))).toSeq
    var good = Seq.empty[(String, String, String)]
    var bad = Seq.empty[(String, String, String)]
    val q = MicroBatch.withDeadLetter(maxPerHourStream(root),
        col("max(event_type)") === "view",
        b => good ++= rows(b), b => bad ++= rows(b),
        MicroBatch.IngestConfig(checkpointDir = s"$root/ckpt"))
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    // update mode emits (h0,a) twice: click in batch 0, view in batch 1
    assert(good.sorted == Seq(("h0", "a", "view"), ("h0", "b", "view")))
    assert(bad.sorted == Seq(("h0", "a", "click"), ("h1", "c", "click")))
  }

  test("streamRollup: versioned snapshots reach the recompute state; " +
      "restart with no new input is a no-op") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Cdc
    val root = java.nio.file.Files.createTempDirectory("graft_strroll")
    val (srcDir, rollDir, ckpt) =
      (s"$root/src", s"$root/roll", s"$root/ckpt")
    val v1 = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("k", "g", "v")
    val v2 = Seq((1L, "a", 11.0), (2L, "b", 20.0), (5L, "a", 5.0))
      .toDF("k", "g", "v")
    Cdc.snapshotDiffImaged(v1.limit(0), v1, Seq("k"))
      .coalesce(1).write.parquet(srcDir)
    Cdc.snapshotDiffImaged(v1, v2, Seq("k"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = graft.streaming.MicroBatch.streamRollup(stream, rollDir,
          "g", "v", graft.streaming.MicroBatch.IngestConfig(
            checkpointDir = ckpt, triggerMillis = 0))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    def state() = graft.streaming.MicroBatch.readRollup(spark, rollDir)
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(state() === Seq(("a", 2L, 16.0), ("b", 1L, 20.0)))
    run() // restart: checkpoint replays nothing, state unchanged
    assert(state() === Seq(("a", 2L, 16.0), ("b", 1L, 20.0)))
  }

  test("streamComponents: batched edges reach the full-graph labels " +
      "(cross-batch merge included); restart with no new input is a " +
      "no-op") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_strcc")
    val (srcDir, outDir, ckpt) = (s"$root/src", s"$root/cc", s"$root/ckpt")
    // batch 1: two separate components; batch 2: an edge merging them
    // plus a brand-new pair
    Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
      .coalesce(1).write.parquet(srcDir)
    Seq((3L, 10L), (20L, 21L)).toDF("src", "dst")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = graft.streaming.MicroBatch.streamComponents(stream, outDir,
          "src", "dst", graft.streaming.MicroBatch.IngestConfig(
            checkpointDir = ckpt, triggerMillis = 0))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    def state() = graft.streaming.MicroBatch.readComponents(spark, outDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 21L -> 20L)
    assert(state() === want)
    run() // restart: checkpoint replays nothing, labels unchanged
    assert(state() === want)
  }

  test("streamCoOccurrence: basket-complete batches reproduce the " +
      "batch operator exactly; restart with no new input is a no-op") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_strco")
    val (srcDir, outDir, ckpt) = (s"$root/src", s"$root/cooc", s"$root/ckpt")
    // baskets {x,y,z} {x,y} | {x,y} {w,z} — whole baskets per batch
    Seq((1L, "x"), (1L, "y"), (1L, "z"), (2L, "x"), (2L, "y"))
      .toDF("basket", "item").coalesce(1).write.parquet(srcDir)
    Seq((3L, "x"), (3L, "y"), (4L, "w"), (4L, "z"))
      .toDF("basket", "item").coalesce(1).write.mode("append")
      .parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = graft.streaming.MicroBatch.streamCoOccurrence(stream,
          outDir, "basket", "item",
          cfg = graft.streaming.MicroBatch.IngestConfig(
            checkpointDir = ckpt, triggerMillis = 0))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    def state() = graft.streaming.MicroBatch
      .readCoOccurrence(spark, outDir, minSupport = 1L)
      .orderBy("item_a", "item_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val batch = graft.operators.Affinity.coOccurrence(
        Seq((1L, "x"), (1L, "y"), (1L, "z"), (2L, "x"), (2L, "y"),
          (3L, "x"), (3L, "y"), (4L, "w"), (4L, "z"))
          .toDF("basket", "item"), "basket", "item", minSupport = 1L)
      .orderBy("item_a", "item_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(state() === batch)
    // (x,y) co-occurs in baskets from BOTH batches: 1,2 then 3
    assert(state().exists(t => t._1 == "x" && t._2 == "y" && t._3 == 3L))
    run() // restart: checkpoint replays nothing
    assert(state() === batch)
  }

  test("streamValueCounts: batched values fold additively; read-side " +
      "KS equals batch ksDrift on the union; restart is a no-op") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_strvc")
    val (srcDir, outDir, ckpt) =
      (s"$root/src", s"$root/counts", s"$root/ckpt")
    val b1 = Seq(3.0, 4.0, Double.NaN)
    val b2 = Seq(5.0, 6.0, 3.0)
    b1.toDF("price").coalesce(1).write.parquet(srcDir)
    b2.toDF("price").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = graft.streaming.MicroBatch.streamValueCounts(stream,
          outDir, "price", graft.streaming.MicroBatch.IngestConfig(
            checkpointDir = ckpt, triggerMillis = 0))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val ref = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    def streamedKs() = {
      val refCounts = ref.groupBy(col("v").as("value"))
        .agg(count(lit(1)).as("n"))
      graft.operators.Expectations.ksDriftFromCounts(refCounts,
          graft.streaming.MicroBatch.readValueCounts(spark, outDir))
        .head
    }
    val batch = graft.operators.Expectations.ksDrift(ref,
      (b1 ++ b2).toDF("v"), col("v")).head
    assert(streamedKs() === batch)
    assert(streamedKs().getLong(1) === 5L) // NaN excluded, 3.0 twice
    run() // restart: checkpoint replays nothing
    assert(streamedKs() === batch)
  }

  test("streamPairCounts: batched pairs fold additively; the read-side " +
      "FD audit equals batch fdProfile on the union; restart is a no-op") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft_strfd")
    val (srcDir, outDir, ckpt) = (s"$root/src", s"$root/fd", s"$root/ckpt")
    // k1 is clean in batch 1 and violated only by batch 2 — the monitor
    // must see violations that SPAN batches, not just within one
    val b1 = Seq(("k1", "a"), ("k2", "x"), ("k2", "x"), ("k3", null))
    val b2 = Seq(("k1", "b"), ("k2", "x"), ("k3", "z"))
    b1.toDF("det", "dep").coalesce(1).write.parquet(srcDir)
    b2.toDF("det", "dep").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = graft.streaming.MicroBatch.streamPairCounts(stream,
          outDir, "det", "dep", graft.streaming.MicroBatch.IngestConfig(
            checkpointDir = ckpt, triggerMillis = 0))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    def streamed() = graft.streaming.MicroBatch.readFdProfile(spark,
      outDir, "det", "dep").head
    val batch = graft.operators.Expectations.fdProfile(
      (b1 ++ b2).toDF("det", "dep"), Seq(("det", "dep"))).head
    assert(streamed() === batch)
    // k1 → {a,b} is the only violation: 2 rows under it, fanout 2;
    // k3's null dep never counts as a distinct value
    assert((streamed().getLong(2), streamed().getLong(3),
      streamed().getLong(4), streamed().getLong(5),
      streamed().getBoolean(6)) === ((3L, 1L, 2L, 2L, false)))
    run() // restart: checkpoint replays nothing
    assert(streamed() === batch)
  }

  test("streamMoments: additive decimal moments across batches equal " +
      "batch corrMatrix to the BIT; restart is a no-op") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft_strmom")
    val (srcDir, outDir, ckpt) =
      (s"$root/src", s"$root/mom", s"$root/ckpt")
    val b1 = Seq((1.0, 2.5), (2.0, 4.5), (3.0, 5.5))
    val b2 = Seq((4.0, 9.5), (5.0, 10.0), (Double.NaN, 1.0))
    b1.toDF("x", "y").coalesce(1).write.parquet(srcDir)
    b2.toDF("x", "y").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = graft.streaming.MicroBatch.streamMoments(stream, outDir,
          "x", "y", graft.streaming.MicroBatch.IngestConfig(
            checkpointDir = ckpt, triggerMillis = 0))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    def streamed() = graft.streaming.MicroBatch.readCorr(spark, outDir,
      "x", "y").head
    val batch = graft.operators.Expectations.corrMatrix(
      (b1 ++ b2).toDF("x", "y"), Seq("x", "y")).head
    assert(streamed().getLong(2) === 5L) // NaN row excluded
    assert(streamed().getDouble(3) === batch.getDouble(3),
      "streamed Pearson must equal the batch value bit-for-bit")
    run() // restart: checkpoint replays nothing
    assert(streamed().getDouble(3) === batch.getDouble(3))
  }

  test("streamKeySums: additive per-key decimal totals; top-k read " +
      "equals the hand leaderboard; restart is a no-op") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft_strks")
    val (srcDir, outDir, ckpt) = (s"$root/src", s"$root/ks", s"$root/ckpt")
    // union: a -> 300 (2 rows), b -> 250 (1), c -> 50 (1); a's total
    // SPANS the two batches, so the fold itself is what's tested
    Seq(("a", 100L), ("b", 250L)).toDF("k", "cents")
      .coalesce(1).write.parquet(srcDir)
    Seq(("a", 200L), ("c", 50L)).toDF("k", "cents")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = graft.streaming.MicroBatch.streamKeySums(stream, outDir,
          "k", "cents", graft.streaming.MicroBatch.IngestConfig(
            checkpointDir = ckpt, triggerMillis = 0))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    def top() = graft.streaming.MicroBatch
      .readTopContributors(spark, outDir, k = 2)
      .collect().map(r => (r.getString(0),
        r.getDecimal(1).longValueExact(), r.getLong(2), r.getDouble(3)))
    assert(top().toSeq === Seq(("a", 300L, 2L, 0.5),
      ("b", 250L, 1L, 250.0 / 600.0)))
    run() // restart: checkpoint replays nothing
    assert(top().toSeq === Seq(("a", 300L, 2L, 0.5),
      ("b", 250L, 1L, 250.0 / 600.0)))
  }

  test("streamDistinctSketch: register-max union across batches equals " +
      "the batch sketch of the union exactly; restart is a no-op") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_strhll")
    val (srcDir, outDir, ckpt) =
      (s"$root/src", s"$root/hll", s"$root/ckpt")
    // values overlap ACROSS batches — the union must not double-count
    val b1 = Seq(("a", Some(1L)), ("a", Some(2L)), ("b", Some(10L)),
      ("a", Option.empty[Long]))
    val b2 = Seq(("a", Some(2L)), ("a", Some(3L)), ("b", Some(10L)),
      ("b", Some(11L)))
    b1.toDF("g", "v").coalesce(1).write.parquet(srcDir)
    b2.toDF("g", "v").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = MicroBatch.streamDistinctSketch(stream, outDir, "v",
          groupCol = Some("g"), lgK = 12,
          MicroBatch.IngestConfig(checkpointDir = ckpt, triggerMillis = 0))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    def got() = MicroBatch.readDistinctSketch(spark, outDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val batch = (b1 ++ b2).toDF("g", "v")
      .filter(col("v").isNotNull)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        hll_sketch_estimate(hll_sketch_agg(col("v"), lit(12))).as("est"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got() === batch)
    // small-cardinality HLL estimates are exact: a holds 4 non-null
    // rows over 3 distinct values, b 3 rows over 2
    assert(got() === Seq(("a", 4L, 3L), ("b", 3L, 2L)))
    run() // restart: checkpoint replays nothing
    assert(got() === batch)
  }

  test("streamFreshness: MAX-merged event times across batches equal " +
      "the batch freshness report on the union; all-NULL-ts group " +
      "reports stale; restart is a no-op") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_strfresh")
    val (srcDir, outDir, ckpt) =
      (s"$root/src", s"$root/fresh", s"$root/ckpt")
    def ts(s: String) =
      if (s == null) null else java.sql.Timestamp.valueOf(s)
    // feed "a" goes newest in batch 1; "b" newest in batch 2 (the MAX
    // must span batches); "c" has only NULL timestamps
    val b1 = Seq(("a", ts("2024-01-31 23:00:00")), ("b", ts("2024-01-30 00:00:00")),
      ("c", ts(null)))
    val b2 = Seq(("a", ts("2024-01-20 00:00:00")), ("b", ts("2024-01-31 00:00:00")))
    b1.toDF("g", "ts").coalesce(1).write.parquet(srcDir)
    b2.toDF("g", "ts").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = MicroBatch.streamFreshness(stream, outDir, "g", "ts",
          MicroBatch.IngestConfig(checkpointDir = ckpt, triggerMillis = 0))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    def got() = MicroBatch.readFreshness(spark, outDir,
        asOf = "2024-02-01 00:00:00", maxLagSeconds = 100000L)
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getAs[java.sql.Timestamp]("last_ts")).map(_.toString),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getBoolean(4))).toSeq
    val batch = graft.operators.Expectations.freshness(
        (b1 ++ b2).toDF("g", "ts"), "g", col("ts"),
        asOf = "2024-02-01 00:00:00", maxLagSeconds = 100000L)
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getAs[java.sql.Timestamp]("last_ts")).map(_.toString),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getBoolean(4))).toSeq
    assert(got() === batch)
    // a: 1h lag (fresh at 100000s); b: 24h lag (fresh); c: NULL, stale
    assert(got().map(t => (t._1, t._4, t._5)) === Seq(
      ("a", Some(3600L), false), ("b", Some(86400L), false),
      ("c", None, true)))
    // an unparseable asOf fails eagerly, like the batch operator
    intercept[IllegalArgumentException] {
      MicroBatch.readFreshness(spark, outDir, "not-a-time", 1L)
    }
    run() // restart: checkpoint replays nothing
    assert(got() === batch)
  }

  test("streamPreferences + readBradleyTerry: the live board equals " +
      "the batch fit on the union; restart is a no-op") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_strbt")
    val (srcDir, outDir, ckpt) =
      (s"$root/src", s"$root/bt", s"$root/ckpt")
    val b1 = Seq.fill(3)(("a", "b")) ++ Seq(("b", "c"), ("a", "a"))
    val b2 = Seq(("b", "a"), ("c", "b"), ("a", "c"))
    b1.toDF("w", "l").coalesce(1).write.parquet(srcDir)
    b2.toDF("w", "l").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = MicroBatch.streamPreferences(stream, outDir, "w", "l",
          MicroBatch.IngestConfig(checkpointDir = ckpt, triggerMillis = 0))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    def got() = MicroBatch.readBradleyTerry(spark, outDir)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.Experiment.bradleyTerry(
        (b1 ++ b2).toDF("w", "l"), "w", "l")
      .collect().map(_.toSeq).toSeq
    assert(got() === batch)
    run() // restart: checkpoint replays nothing
    assert(got() === batch)
    // the maxVariants cap fires IN-PLAN (raise_error, not the driver
    // require): an over-cap state dir refuses before its pair matrix
    // is collected — same guard, same message as the batch fit
    val e = intercept[Exception] {
      MicroBatch.readBradleyTerry(spark, outDir, maxVariants = 2)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(!e.isInstanceOf[IllegalArgumentException])
    assert(chain(e).exists(_.contains("exceed maxVariants=2")))
  }

  test("readTukeyFences / readConformalThreshold over streamed " +
      "grouped counts: batch-exact quartiles, fences, outliers, and " +
      "the (n+1) conformal rank") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_strtukey")
    val (srcDir, outDir, ckpt) =
      (s"$root/src", s"$root/counts", s"$root/ckpt")
    // group a: values 1..8 plus a planted 100 outlier (the q228
    // fixture); split across two batches
    val all = ((1 to 8).map(i => ("a", i.toDouble)) :+ ("a", 100.0))
    val (b1, b2) = all.splitAt(5)
    b1.toDF("g", "v").coalesce(1).write.parquet(srcDir)
    b2.toDF("g", "v").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = MicroBatch.streamGroupedValueCounts(stream, outDir, "g", "v",
        MicroBatch.IngestConfig(checkpointDir = ckpt, triggerMillis = 0))
      .start()
    try q.processAllAvailable() finally q.stop()
    // batch fences on the union (rank rule: ceil(q·9) → 3rd, 5th, 7th)
    val batch = graft.operators.Expectations.tukeyFences(
      all.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
        .toDF("g", "v", "id"), "g", col("v"), "id").head
    val got = MicroBatch.readTukeyFences(spark, outDir).head
    assert(got.getLong(1) === 9L)
    assert(got.getDouble(2) === batch.getDouble(2) &&
      got.getDouble(3) === batch.getDouble(3) &&
      got.getDouble(4) === batch.getDouble(4))
    assert(got.getDouble(5) === batch.getDouble(5) &&
      got.getDouble(6) === batch.getDouble(6))
    assert(got.getLong(7) === batch.getLong(7) &&
      got.getLong(8) === batch.getLong(8))
    assert(got.getLong(8) === 1L) // exactly the planted outlier
    // conformal: n=9, alpha=0.1 → rank ceil(10·0.9)=9 → 9th smallest
    // = 100.0; alpha=0.05 → rank 10 > 9 → NULL
    val c1 = MicroBatch.readConformalThreshold(spark, outDir, 0.1).head
    assert(c1.getLong(1) === 9L && c1.getLong(2) === 9L &&
      c1.getDouble(3) === 100.0)
    val c2 = MicroBatch.readConformalThreshold(spark, outDir, 0.05).head
    assert(c2.getLong(2) === 10L && c2.isNullAt(3))
  }

  test("streamSprt: additive (successes, trials) across batches; Wald " +
      "boundaries decide per group; restart is a no-op") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_strsprt")
    val (srcDir, outDir, ckpt) =
      (s"$root/src", s"$root/sprt", s"$root/ckpt")
    // group a: 15/20 hits (strong H1); b: 2/20 (strong H0);
    // c: 5/10 (in the continuation band for p0=0.3 vs p1=0.7)
    val b1 = (1 to 10).map(i => ("a", i <= 8)) ++
      (1 to 10).map(i => ("b", i <= 1)) ++
      (1 to 5).map(i => ("c", i <= 2))
    val b2 = (1 to 10).map(i => ("a", i <= 7)) ++
      (1 to 10).map(i => ("b", i <= 1)) ++
      (1 to 5).map(i => ("c", i <= 3))
    b1.toDF("g", "hit").coalesce(1).write.parquet(srcDir)
    b2.toDF("g", "hit").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = MicroBatch.streamSprt(stream, outDir, "g", "hit",
          MicroBatch.IngestConfig(checkpointDir = ckpt, triggerMillis = 0))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    def got() = MicroBatch.readSprt(spark, outDir, p0 = 0.3, p1 = 0.7,
        alpha = 0.05, beta = 0.2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(4), r.getString(5))).toSeq
    // exact closed form, spelled EXACTLY like the implementation:
    // 1.0 − 0.7 is 0.30000000000000004 in IEEE, so ln((1−p1)/(1−p0))
    // differs from ln(0.3/0.7) by an ulp — mirror the impl's form
    def llr(s: Long, t: Long): Double =
      s * math.log(0.7 / 0.3) +
        (t - s) * math.log((1.0 - 0.7) / (1.0 - 0.3))
    val upper = math.log(0.8 / 0.05) // ln((1−β)/α) ≈ 2.77
    val lower = math.log(0.2 / 0.95) // ≈ −1.56
    assert(got() === Seq(
      ("a", 20L, 15L, llr(15, 20), "accept_h1"),
      ("b", 20L, 2L, llr(2, 20), "accept_h0"),
      ("c", 10L, 5L, llr(5, 10), "continue")))
    assert(llr(15, 20) >= upper && llr(2, 20) <= lower &&
      llr(5, 10) > lower && llr(5, 10) < upper)
    run() // restart: checkpoint replays nothing
    assert(got().map(_._2).sum === 50L)
    // parameter guards
    intercept[IllegalArgumentException] {
      MicroBatch.readSprt(spark, outDir, p0 = 0.5, p1 = 0.5)
    }
    intercept[IllegalArgumentException] {
      MicroBatch.readSprt(spark, outDir, p0 = 0.3, p1 = 0.7, alpha = 0.0)
    }
  }

  test("streamGramFit: the streamed per-group OLS equals the batch " +
      "linearFit on the union; restart is a no-op; maxGroups guards " +
      "the read collect") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft_strgram")
    val (srcDir, outDir, ckpt) = (s"$root/src", s"$root/gram", s"$root/ckpt")
    def mk(lo: Int, hi: Int) = (lo until hi).map { i =>
      val g = if (i % 2 == 0) "a" else "b"
      val x1 = (i % 7).toDouble
      val x2 = (i % 5).toDouble
      // distinct planes per group plus deterministic noise
      val y = (if (g == "a") 1.0 + 2.0 * x1 - x2 else 5.0 - x1 + 0.5 * x2) +
        ((i * 13) % 3).toDouble * 0.1
      (g, y, x1, x2)
    }
    mk(0, 40).toDF("g", "y", "x1", "x2").coalesce(1).write.parquet(srcDir)
    mk(40, 80).toDF("g", "y", "x1", "x2").coalesce(1)
      .write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = MicroBatch.streamGramFit(stream, outDir, "g", col("y"),
          Seq(col("x1"), col("x2")),
          MicroBatch.IngestConfig(checkpointDir = ckpt, triggerMillis = 0))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val streamed = MicroBatch.readLinearFit(spark, outDir,
        Seq("x1", "x2"))
      .orderBy("group", "term").collect().map(_.toSeq)
    // batch fit per group over the SAME union
    val union = mk(0, 80).toDF("g", "y", "x1", "x2")
    val batch = Seq("a", "b").flatMap { g =>
      graft.operators.Regression.linearFit(
          union.filter(col("g") === g), col("y"),
          Seq("x1" -> col("x1"), "x2" -> col("x2")))
        .collect().map(r => Seq(g) ++ r.toSeq)
    }.sortBy(s => (s(0).toString, s(1).toString))
    assert(streamed.toSeq === batch.toSeq,
      "streamed Gram state must reproduce the batch fit bit-for-bit")
    run() // restart replays nothing
    val again = MicroBatch.readLinearFit(spark, outDir, Seq("x1", "x2"))
      .orderBy("group", "term").collect().map(_.toSeq)
    assert(again.toSeq === streamed.toSeq)
    intercept[IllegalArgumentException] {
      MicroBatch.readLinearFit(spark, outDir, Seq("x1", "x2"),
        maxGroups = 1)
    }
  }

  test("readConcentration over streamed value counts: hand HHI and " +
      "top share from additive exact counts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft_strhhi")
    val (srcDir, outDir, ckpt) = (s"$root/src", s"$root/vc", s"$root/ckpt")
    // union counts: 5.0 -> 3, 7.0 -> 1 => HHI = (9+1)/16, top = 3/4
    Seq(5.0, 5.0).toDF("m").coalesce(1).write.parquet(srcDir)
    Seq(5.0, 7.0).toDF("m").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = graft.streaming.MicroBatch.streamValueCounts(stream, outDir,
        "m", graft.streaming.MicroBatch.IngestConfig(
          checkpointDir = ckpt, triggerMillis = 0))
      .start()
    try q.processAllAvailable() finally q.stop()
    val r = graft.streaming.MicroBatch.readConcentration(spark, outDir)
      .head
    assert((r.getLong(0), r.getLong(1)) === ((4L, 2L)))
    assert(r.getDouble(2) === 10.0 / 16.0 && r.getDouble(3) === 0.75)
  }

  test("readSequenceAudit over streamed key counts: a gap and a replay " +
      "dup both surface; equals the batch audit on the union") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft_strseq")
    val (srcDir, outDir, ckpt) = (s"$root/src", s"$root/vc", s"$root/ckpt")
    // union keys: 1,2,2,4 → span 4, missing {3}, dup {2}
    Seq(1L, 2L).toDF("k").coalesce(1).write.parquet(srcDir)
    Seq(2L, 4L).toDF("k").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = graft.streaming.MicroBatch.streamValueCounts(stream, outDir,
        "k", graft.streaming.MicroBatch.IngestConfig(
          checkpointDir = ckpt, triggerMillis = 0))
      .start()
    try q.processAllAvailable() finally q.stop()
    val r = graft.streaming.MicroBatch.readSequenceAudit(spark, outDir)
      .head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7)) ===
      ((4L, 3L, 1L, 4L, 4L, 1L, 1L, false)))
    // and bit-for-bit against the batch operator's single-group row
    val batch = graft.operators.Expectations.sequenceAudit(
      Seq(("g", 1L), ("g", 2L), ("g", 2L), ("g", 4L)).toDF("g", "k"),
      "g", col("k")).head
    assert((r.getLong(5), r.getLong(6), r.getBoolean(7)) ===
      ((batch.getLong(6), batch.getLong(7), batch.getBoolean(8))))
  }

  test("readEntropy over streamed value counts equals the batch " +
      "entropy profile of the union bit-for-bit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft_strent")
    val (srcDir, outDir, ckpt) = (s"$root/src", s"$root/vc", s"$root/ckpt")
    val b1 = Seq(1.0, 1.0, 2.0)
    val b2 = Seq(2.0, 3.0, 3.0, 3.0)
    b1.toDF("m").coalesce(1).write.parquet(srcDir)
    b2.toDF("m").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = graft.streaming.MicroBatch.streamValueCounts(stream, outDir,
        "m", graft.streaming.MicroBatch.IngestConfig(
          checkpointDir = ckpt, triggerMillis = 0))
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = graft.streaming.MicroBatch.readEntropy(spark, outDir)
      .head
    val batch = graft.operators.Expectations.entropyProfile(
      (b1 ++ b2).toDF("m"), Seq("m")).head
    assert(streamed.getLong(0) === batch.getLong(1) &&
      streamed.getLong(1) === batch.getLong(2))
    assert(streamed.getDouble(2) === batch.getDouble(3) &&
      streamed.getDouble(3) === batch.getDouble(4))
  }

  test("streaming funnel: time-split batches reproduce the batch chain " +
      "exactly, state advances across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamFunnel
    import graft.streaming.StreamFunnel.StepEvent
    import graft.operators.Funnel

    // fixture events mapped to step indices, time-split into 3 batches
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id").as("entity"),
        when(col("event_type") === "view", 0)
          .when(col("event_type") === "click", 1)
          .otherwise(2).as("step"),
        unix_micros(col("ts")).as("ts"))
    val rows = ev.as[StepEvent].collect().sortBy(e => (e.ts, e.step))
    val cut = rows.length / 3
    val batches = Seq(rows.take(cut), rows.slice(cut, 2 * cut),
      rows.drop(2 * cut))

    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[StepEvent]
    val q = StreamFunnel.reachStream(ms.toDS(), 3).toDF()
      .writeStream.outputMode("update").format("memory")
      .queryName("sf_funnel").start()
    try {
      batches.foreach { b => ms.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()

    val got = spark.table("sf_funnel")
      .groupBy(col("entity")).agg(max(col("reached")).as("reached"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

    // batch reference over the same events
    val want = Funnel.reach(
        Tables.events(spark, sf)
          .filter(col("event_type").isin("view", "click", "purchase")),
        "user_id", "ts", Seq(
          col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"))
      .collect().map { r =>
        r.getLong(0) -> Seq(1, 2, 3).count(i => !r.isNullAt(i))
      }.toMap

    // batch reach omits never-viewed entities; stream emits them at 0
    assert(got.filter(_._2 > 0) === want.filter(_._2 > 0))
    assert(want.keySet.subsetOf(got.keySet))
  }

  test("streaming funnel: same-instant step does not advance; horizon " +
      "bounds later steps; chain survives batch boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamFunnel
    import graft.streaming.StreamFunnel.StepEvent

    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[StepEvent]
    val q = StreamFunnel.reachStream(ms.toDS(), 3, withinMs = Some(100L))
      .toDF()
      .writeStream.outputMode("update").format("memory")
      .queryName("sf_funnel2").start()
    try {
      // u1: view@10 then click@10 (same instant -> stuck at 1)
      // u2: view@10 in batch 1, click@20 in batch 2, purchase@200 beyond
      //     the 100ms horizon -> stuck at 2
      // u3: full chain within horizon, split across all three batches
      ms.addData(Seq(StepEvent(1L, 0, 10L), StepEvent(1L, 1, 10L),
        StepEvent(2L, 0, 10L), StepEvent(3L, 0, 10L)))
      q.processAllAvailable()
      ms.addData(Seq(StepEvent(2L, 1, 20L), StepEvent(3L, 1, 40L)))
      q.processAllAvailable()
      ms.addData(Seq(StepEvent(2L, 2, 200L), StepEvent(3L, 2, 90L)))
      q.processAllAvailable()
    } finally q.stop()
    val fin = spark.table("sf_funnel2")
      .groupBy(col("entity")).agg(max(col("reached")).as("reached"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fin === Map(1L -> 1, 2L -> 2, 3L -> 3))
  }

  test("streamGroupedValueCounts: grouped counts fold additively; the " +
      "read-side median equals the batch selection on the union; " +
      "restart is a no-op") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_strgm")
    val (srcDir, outDir, ckpt) =
      (s"$root/src", s"$root/counts", s"$root/ckpt")
    val b1 = Seq(("a", 1.0), ("a", 9.0), ("b", 5.0), ("b", Double.NaN))
    val b2 = Seq(("a", 3.0), ("b", 5.0), ("b", 7.0))
    b1.toDF("g", "v").coalesce(1).write.parquet(srcDir)
    b2.toDF("g", "v").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = graft.streaming.MicroBatch.streamGroupedValueCounts(stream,
          outDir, "g", "v", graft.streaming.MicroBatch.IngestConfig(
            checkpointDir = ckpt, triggerMillis = 0))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    def state() = graft.streaming.MicroBatch
      .readGroupedMedian(spark, outDir)
      .orderBy("group").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // a: {1, 9, 3} → median 3 (n = 3); b: {5, 5, 7} → lower weighted
    // median 5 (the NaN row is excluded, never a count)
    assert(state() === Seq(("a", 3L, 3.0), ("b", 3L, 5.0)))
    // the distinct lens over the SAME state: b has {5, 7} (5 repeats)
    val dist = graft.streaming.MicroBatch
      .readGroupedDistinct(spark, outDir)
      .orderBy("group").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(dist === Seq(("a", 3L, 3L), ("b", 3L, 2L)))
    run() // restart: checkpoint replays nothing, state unchanged
    assert(state() === Seq(("a", 3L, 3.0), ("b", 3L, 5.0)))
    // the generic quantile lens over the SAME state: q=0.5 reproduces
    // the median exactly; q=1.0 is the max; fractional cuts use the
    // lower-quantile rule (a: {1,3,9} p25 -> 1; b: {5,5,7} p90 -> 7)
    val qs = graft.streaming.MicroBatch
      .readGroupedQuantiles(spark, outDir, Seq(0.25, 0.5, 0.9, 1.0))
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(3))).toSeq
    assert(qs === Seq(
      ("a", 0.25, 1.0), ("a", 0.5, 3.0), ("a", 0.9, 9.0),
      ("a", 1.0, 9.0),
      ("b", 0.25, 5.0), ("b", 0.5, 5.0), ("b", 0.9, 7.0),
      ("b", 1.0, 7.0)))
  }

  test("segment-log value-count state: each micro-batch appends ONE " +
      "delta segment committed by ONE manifest; compaction collapses " +
      "to a single segment and GCs past the replay horizon") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_strbk")
    val (srcDir, outDir, ckpt) =
      (s"$root/src", s"$root/counts", s"$root/ckpt")
    val b1 = Seq(10.0, 20.0, 30.0, 40.0)
    val b2 = Seq(10.0)
    val b3 = Seq(20.0, 50.0)
    b1.toDF("v").coalesce(1).write.parquet(srcDir)
    b2.toDF("v").coalesce(1).write.mode("append").parquet(srcDir)
    b3.toDF("v").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def segsOnDisk = new java.io.File(outDir).listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("seg="))
      .map(_.getName.stripPrefix("seg=").toLong).sorted
    def manifests = new java.io.File(s"$outDir/_manifests").listFiles
      .toSeq.map(_.getName).filterNot(_.startsWith(".")).sorted
    def run(compactEvery: Int): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = graft.streaming.MicroBatch.streamValueCounts(stream,
          outDir, "v", graft.streaming.MicroBatch.IngestConfig(
            checkpointDir = ckpt, triggerMillis = 0),
          compactEvery = compactEvery)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run(compactEvery = 3)
    // batches 0,1 appended delta segments; batch 2 hit the width-3
    // threshold and compacted: ONE live segment, manifest m2 lists it,
    // and GC kept only the replay-horizon manifest (m1) plus m2 and
    // the segments they reference
    assert(manifests === Seq("m1.json", "m2.json"))
    val m2 = scala.io.Source.fromFile(
      s"$outDir/_manifests/m2.json").mkString
    assert(m2.contains("\"segments\":[2]"))
    assert(segsOnDisk === Seq(0L, 1L, 2L)) // 0,1 still cited by m1
    // the merged read is the exact union of all three batches
    val counts = graft.streaming.MicroBatch
      .readValueCounts(spark, outDir)
      .orderBy("value").collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(counts === Seq(10.0 -> 2L, 20.0 -> 2L, 30.0 -> 1L,
      40.0 -> 1L, 50.0 -> 1L))
    run(compactEvery = 3) // restart: checkpoint replays nothing
    assert(counts === graft.streaming.MicroBatch
      .readValueCounts(spark, outDir).orderBy("value").collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toSeq)
  }

  test("streamRollup rides the segment log: one delta segment per " +
      "batch, ONE manifest commit, compaction collapses to a single " +
      "segment and GC keeps the replay horizon") {
    import graft.operators.Cdc
    val root = java.nio.file.Files.createTempDirectory("graft_strrolllsm")
    val (srcDir, rollDir, ckpt) =
      (s"$root/src", s"$root/roll", s"$root/ckpt")
    val v1 = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("k", "g", "v")
    val v2 = Seq((1L, "a", 11.0), (2L, "b", 20.0), (5L, "a", 5.0))
      .toDF("k", "g", "v")
    val v3 = Seq((1L, "a", 11.0), (5L, "c", 7.0)).toDF("k", "g", "v")
    Cdc.snapshotDiffImaged(v1.limit(0), v1, Seq("k"))
      .coalesce(1).write.parquet(srcDir)
    Cdc.snapshotDiffImaged(v1, v2, Seq("k"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    Cdc.snapshotDiffImaged(v2, v3, Seq("k"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = MicroBatch.streamRollup(stream, rollDir, "g", "v",
        MicroBatch.IngestConfig(checkpointDir = ckpt, triggerMillis = 0),
        compactEvery = 3)
      .start()
    try q.processAllAvailable() finally q.stop()
    // batches 0,1 appended delta segments; batch 2 hit the width-3
    // threshold and compacted to one segment; GC kept the replay
    // horizon (m1 + its segments 0,1) plus the current m2/seg=2
    def names(p: String) = new java.io.File(p).listFiles.toSeq
      .map(_.getName).filterNot(_.startsWith(".")).sorted
    assert(names(s"$rollDir/_manifests") === Seq("m1.json", "m2.json"))
    assert(scala.io.Source.fromFile(s"$rollDir/_manifests/m2.json")
      .mkString.contains("\"segments\":[2]"))
    assert(names(rollDir).filter(_.startsWith("seg=")) ===
      Seq("seg=0", "seg=1", "seg=2"))
    // the merged read equals the from-scratch aggregate over v3
    val got = MicroBatch.readRollup(spark, rollDir)
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq(("a", 1L, 11.0), ("c", 1L, 7.0)))
  }

  test("segment-log state refuses a pre-r14 versioned-snapshot " +
      "layout loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft_stroldver")
    val dir = s"$root/roll"
    Seq(("a", 2L, 16.0)).toDF("g", "n", "sum_v")
      .write.parquet(s"$dir/version=1")
    val ex = intercept[IllegalStateException] {
      MicroBatch.readRollup(spark, dir).collect()
    }
    assert(ex.getMessage.contains("pre-r14 versioned-snapshot"))
  }

  test("streamComponents publishes through the one-PUT manifest: " +
      "readers resolve seg=<id> via _manifests (never by listing), " +
      "GC keeps the replay horizon") {
    val root = java.nio.file.Files.createTempDirectory("graft_strccm")
    val (srcDir, outDir, ckpt) = (s"$root/src", s"$root/cc", s"$root/ckpt")
    Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
      .coalesce(1).write.parquet(srcDir)
    Seq((3L, 10L), (20L, 21L)).toDF("src", "dst")
      .coalesce(1).write.mode("append").parquet(srcDir)
    Seq((21L, 22L)).toDF("src", "dst")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = MicroBatch.streamComponents(stream, outDir, "src", "dst",
        MicroBatch.IngestConfig(checkpointDir = ckpt, triggerMillis = 0))
      .start()
    try q.processAllAvailable() finally q.stop()
    def names(p: String) = new java.io.File(p).listFiles.toSeq
      .map(_.getName).filterNot(_.startsWith(".")).sorted
    // full-state per batch: each manifest references ONLY its own
    // segment; GC keeps the replay-horizon pair, drops seg=0/m0
    assert(names(s"$outDir/_manifests") === Seq("m1.json", "m2.json"))
    assert(names(outDir).filter(_.startsWith("seg=")) ===
      Seq("seg=1", "seg=2"))
    assert(names(outDir).forall(!_.startsWith("version=")))
    val labels = MicroBatch.readComponents(spark, outDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("compactNearDupIndex crash window: rows left in BOTH a fold's " +
      "output and its undeleted sources merge away on the next " +
      "compaction (id-keyed dedup)") {
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima"
    val tB = "mike november oscar papa quebec romeo sierra tango " +
      "uniform victor whiskey xray"
    val root = Files.createTempDirectory("graft_idxcrash")
    val idx = s"$root/idx"
    graft.operators.Dedup.minhashIndex(
        Seq((1L, tA), (2L, tB)).toDF("doc_id", "text"), "doc_id", "text")
      .write.parquet(s"$idx/batch=seed")
    // first fold: seed -> base-1 (keepLast needs >=2 partitions to act,
    // so stage a numeric batch too)
    graft.operators.Dedup.minhashIndex(
        Seq((3L, tA + " extra")).toDF("doc_id", "text"), "doc_id", "text")
      .write.parquet(s"$idx/batch=0")
    graft.operators.Dedup.minhashIndex(
        Seq((4L, tB + " extra")).toDF("doc_id", "text"), "doc_id", "text")
      .write.parquet(s"$idx/batch=1")
    assert(MicroBatch.compactNearDupIndex(spark, idx, keepLast = 1) === 2)
    // simulate the crash: the fold's SOURCE rows reappear alongside
    // base-1 (as if the post-write source delete never ran)
    spark.read.parquet(s"$idx/batch=base-1").where(col("id") <= 2)
      .write.parquet(s"$idx/batch=0")
    assert(MicroBatch.compactNearDupIndex(spark, idx, keepLast = 1) === 2)
    val base2 = spark.read.parquet(s"$idx/batch=base-2")
    assert(base2.count() === base2.select("id").distinct().count(),
      "crash-window duplicate index rows must merge away, not persist")
    assert(base2.count() === 3L) // ids 1,2,3 (batch=1 kept aside)
  }

  test("streamNearDupIngest auto-compacts the index every " +
      "compactEvery batches (bounded partition fan-out, identical " +
      "survivors)") {
    val texts = Seq(
      "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
      "kilo lima mike november oscar papa quebec romeo sierra tango",
      "uniform victor whiskey xray yankee zulu apple banana cherry date",
      "east fig grape honey iris jade kiwi lemon mango nectarine")
    def run(compactEvery: Int): (Seq[Long], Seq[String]) = {
      val root = Files.createTempDirectory("graft_autocmp")
      val (srcDir, idx, out, ckpt) =
        (s"$root/src", s"$root/idx", s"$root/out", s"$root/ckpt")
      graft.operators.Dedup.minhashIndex(
          Seq((0L, texts(0))).toDF("doc_id", "text"), "doc_id", "text")
        .write.parquet(s"$idx/batch=seed")
      texts.zipWithIndex.foreach { case (t, i) =>
        Seq((i + 10L, t)).toDF("doc_id", "text")
          .coalesce(1).write.mode("append").parquet(srcDir)
      }
      val schema = spark.read.parquet(srcDir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = MicroBatch.streamNearDupIngest(stream, idx, out, ckpt,
        "doc_id", "text", compactEvery = compactEvery)
      try q.processAllAvailable() finally q.stop()
      val survivors = spark.read.option("basePath", out).parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val parts = new java.io.File(idx).listFiles.toSeq
        .map(_.getName).filter(_.startsWith("batch=")).sorted
      (survivors, parts)
    }
    val (plainSurv, plainParts) = run(compactEvery = 0)
    val (autoSurv, autoParts) = run(compactEvery = 2)
    assert(autoSurv === plainSurv) // 10 dups the seed; rest survive
    assert(autoSurv === Seq(11L, 12L, 13L))
    // manual-off keeps every batch partition; auto bounds the fan-out
    assert(plainParts ===
      Seq("batch=0", "batch=1", "batch=2", "batch=3", "batch=seed"))
    assert(autoParts ===
      Seq("batch=1", "batch=2", "batch=3", "batch=base-1"))
  }

  test("compactNearDupIndex: the folded index probes identically to " +
      "the unfolded one; layout collapses to base + kept batches") {
    import spark.implicits._
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima"
    val tB = "mike november oscar papa quebec romeo sierra tango " +
      "uniform victor whiskey xray"
    val tC = "zulu yankee xylophone walnut violet umbrella turtle " +
      "sunset river quartz planet ocean"
    val tD = "north meadow lantern keystone island harbor garden " +
      "forest ember dawn canyon breeze"
    def run(compact: Boolean): (Seq[Long], String) = {
      val root = Files.createTempDirectory("graft_idxcmp")
      val (idx, out) = (s"$root/idx", s"$root/out")
      graft.operators.Dedup.minhashIndex(
          Seq((1L, tA)).toDF("doc_id", "text"), "doc_id", "text")
        .write.parquet(s"$idx/batch=seed")
      def ingest(id: Long, rows: Seq[(Long, String)]): Unit =
        graft.streaming.MicroBatch.ingestDedupBatch(
          rows.toDF("doc_id", "text"), id, idx, out, "doc_id", "text",
          shingleK = 5, numHashes = 128, bands = 32,
          threshold = 0.8, maxBucketSize = 64)
      ingest(1L, Seq((11L, tA), (12L, tB))) // 11 dups the seed
      ingest(2L, Seq((21L, tC), (22L, tB))) // 22 dups batch 1's 12
      if (compact) {
        val folded = graft.streaming.MicroBatch
          .compactNearDupIndex(spark, idx, keepLast = 1)
        assert(folded === 2) // seed + batch=1 collapsed
        val parts = new java.io.File(idx).listFiles.toSeq
          .map(_.getName).filter(_.startsWith("batch=")).sorted
        assert(parts === Seq("batch=2", "batch=base-1"))
      }
      // 31 dups the seed (now only in base), 32 dups batch 2, 33 new
      ingest(3L, Seq((31L, tA), (32L, tC), (33L, tD)))
      val survivors = spark.read.option("basePath", out)
        .parquet(s"$out/batch=3")
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
      (survivors, idx)
    }
    val (plain, _) = run(compact = false)
    val (folded, idx) = run(compact = true)
    assert(plain === Seq(33L) && folded === plain)
    // nothing left to fold once everything is inside the kept window
    assert(graft.streaming.MicroBatch.compactNearDupIndex(spark,
      s"$idx/does_not_exist") === 0)
  }

  test("segment-log state refuses a pre-r13 bucketed layout loudly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_stroldbk")
    val outDir = s"$root/counts"
    Seq((1.0, 2L)).toDF("__v", "__n").write
      .parquet(s"$outDir/bucket=0/version=0")
    val ex = intercept[IllegalStateException] {
      graft.streaming.MicroBatch.readValueCounts(spark, outDir).collect()
    }
    assert(ex.getMessage.contains("bucketed value-count state"))
  }

  test("maxStateRows guard: exact value-count state over a domain " +
      "larger than the bound fails fast with a clear misuse error") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_strguard")
    val (srcDir, outDir, ckpt) =
      (s"$root/src", s"$root/counts", s"$root/ckpt")
    Seq(("a", 1.0), ("a", 2.0), ("b", 3.0))
      .toDF("g", "v").coalesce(1).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = graft.streaming.MicroBatch.streamGroupedValueCounts(stream,
        outDir, "g", "v", graft.streaming.MicroBatch.IngestConfig(
          checkpointDir = ckpt, triggerMillis = 0),
        maxStateRows = Some(2L))
      .start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("maxStateRows")))
    // nothing was published: the guard fired BEFORE the segment write
    // and the manifest commit
    val published = new java.io.File(outDir).listFiles
    assert(published == null || !published.exists(f =>
      f.getName.startsWith("seg=") || f.getName == "_manifests"))
  }

  test("streamHistogram: bin counts fold additively across batches; " +
      "quantile read picks the first bin reaching q*N; out-of-range " +
      "values clamp to edge bins") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_strhist")
    val (srcDir, outDir, ckpt) =
      (s"$root/src", s"$root/hist", s"$root/ckpt")
    // [0,10) in 10 bins; -5 clamps to bin 0, 99 clamps to bin 9
    val b1 = Seq(0.5, 1.5, 2.5, -5.0)
    val b2 = Seq(2.7, 8.5, 99.0)
    b1.toDF("v").coalesce(1).write.parquet(srcDir)
    b2.toDF("v").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = graft.streaming.MicroBatch.streamHistogram(stream, outDir,
        "v", lo = 0.0, hi = 10.0, bins = 10,
        graft.streaming.MicroBatch.IngestConfig(
          checkpointDir = ckpt, triggerMillis = 0))
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = graft.streaming.MicroBatch.readHistogramQuantiles(spark,
        outDir, lo = 0.0, hi = 10.0, bins = 10, qs = Seq(0.5, 1.0))
      .collect().map(r => (r.getDouble(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getLong(4), r.getLong(5)))
    // counts by bin: 0->2 (0.5, -5), 1->1, 2->2 (2.5, 2.7), 8->1,
    // 9->1 (99). N=7: q=0.5 needs cum >= 3.5 -> bin 1 is cum 3? no:
    // cum(0)=2, cum(1)=3 < 3.5, cum(2)=5 -> bin 2. q=1.0 -> bin 9.
    assert(got.toSeq === Seq(
      (0.5, 2L, 2.0, 3.0, 5L, 7L), (1.0, 9L, 9.0, 10.0, 7L, 7L)))
    // the clamped mass is VISIBLE, not silently folded away: -5.0
    // below lo, 99.0 at/above hi
    val clamps = graft.streaming.MicroBatch
      .readHistogramClamps(spark, outDir).head
    assert((clamps.getLong(0), clamps.getLong(1), clamps.getLong(2)) ===
      ((1L, 1L, 7L)))
  }

  test("fitHistogramRange: central-coverage percentile bounds padded " +
      "by the spread; a constant column still yields hi > lo; an " +
      "empty sample raises") {
    import spark.implicits._
    val (lo, hi) = graft.streaming.MicroBatch.fitHistogramRange(
      (1 to 1000).map(_.toDouble).toDF("v"), "v",
      coverage = 1.0, pad = 0.10)
    // full coverage: [1,1000] padded by 0.1·999 on each side
    assert(lo < 1.0 && lo > 1.0 - 2 * 99.9)
    assert(hi > 1000.0 && hi < 1000.0 + 2 * 99.9)
    // trimming coverage tightens the fitted range against outliers
    val (lo2, hi2) = graft.streaming.MicroBatch.fitHistogramRange(
      ((1 to 1000).map(_.toDouble) ++ Seq(1e9)).toDF("v"), "v",
      coverage = 0.98, pad = 0.10)
    assert(hi2 < 2000.0) // the 1e9 outlier is outside the 99th pct
    val (c1, c2) = graft.streaming.MicroBatch.fitHistogramRange(
      Seq(5.0, 5.0, 5.0).toDF("v"), "v")
    assert(c2 > c1 && c1 < 5.0 && c2 > 5.0)
    intercept[IllegalArgumentException] {
      graft.streaming.MicroBatch.fitHistogramRange(
        Seq(Double.NaN).toDF("v"), "v")
    }
  }

  test("readHistogramJsd: finite on one-sided bins where PSI is NULL; " +
      "per-bin parts sum to the hand JSD; symmetric under ref/cur swap") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_strjsd")
    val (srcDir, outDir, ckpt) =
      (s"$root/src", s"$root/hist", s"$root/ckpt")
    // live values land in bins 0,1,2 of [0,30); the reference only
    // knows bins 0,1 — bin 2 is one-sided
    Seq(5.0, 15.0, 25.0, 25.0).toDF("v").coalesce(1).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = MicroBatch.streamHistogram(stream, outDir, "v",
        lo = 0.0, hi = 30.0, bins = 3,
        MicroBatch.IngestConfig(checkpointDir = ckpt, triggerMillis = 0))
      .start()
    try q.processAllAvailable() finally q.stop()
    val ref = Seq((0L, 2L), (1L, 2L)).toDF("bin", "n")
    val rows = MicroBatch.readHistogramJsd(spark, outDir, ref)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(5)))
    // every part finite (incl. the one-sided bin 2, where PSI is NULL)
    assert(rows.length === 3 && rows.forall(!_._4.isNaN))
    val psiRows = MicroBatch.readHistogramPsi(spark, outDir, ref).collect()
    assert(psiRows.exists(r => r.getLong(0) == 2L && r.isNullAt(5)),
      "PSI's one-sided part is NULL — the gap JSD exists to close")
    // hand JSD: ref = (1/2, 1/2, 0), cur = (1/4, 1/4, 1/2)
    def part(p: Double, qq: Double) = {
      val m = (p + qq) / 2.0
      (if (p > 0) p * math.log(p / m) else 0.0) / 2.0 +
        (if (qq > 0) qq * math.log(qq / m) else 0.0) / 2.0
    }
    val hand = Seq(part(0.5, 0.25), part(0.5, 0.25), part(0.0, 0.5))
    rows.map(_._4).zip(hand).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-12, s"$got vs $want")
    }
    val total = rows.map(_._4).sum
    assert(total > 0.0 && total <= math.log(2.0) + 1e-12,
      "JSD is capped at ln 2")
  }

  test("readHistogramPsi: live state scored against a frozen reference " +
      "equals the batch PSI; one-sided bins carry NULL psi_part") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_strpsi")
    val (srcDir, outDir, ckpt) =
      (s"$root/src", s"$root/hist", s"$root/ckpt")
    val b1 = Seq(1.0, 1.5, 5.0)   // bins 0,0,2 of [0,10)x5
    val b2 = Seq(1.2, 9.0)        // bins 0,4
    b1.toDF("v").coalesce(1).write.parquet(srcDir)
    b2.toDF("v").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = graft.streaming.MicroBatch.streamHistogram(stream, outDir,
        "v", lo = 0.0, hi = 10.0, bins = 5,
        graft.streaming.MicroBatch.IngestConfig(
          checkpointDir = ckpt, triggerMillis = 0))
      .start()
    try q.processAllAvailable() finally q.stop()
    val ref = Seq((0L, 2L), (2L, 1L)).toDF("bin", "n") // batch-1 bins
    val got = graft.streaming.MicroBatch
      .readHistogramPsi(spark, outDir, ref)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    // live: bin0=3, bin2=1, bin4=1 (N=5); ref: bin0=2, bin2=1 (N=3)
    assert(got.map(t => (t._1, t._2, t._3)).toSeq ===
      Seq((0L, 2L, 3L), (2L, 1L, 1L), (4L, 0L, 1L)))
    val psi0 = (3.0 / 5 - 2.0 / 3) * math.log((3.0 / 5) / (2.0 / 3))
    assert(got(0)._4 === Some(psi0))
    assert(got(2)._4 === None) // bin absent from the reference
  }
}

object StreamingSpec {
  // Shared with executor-side UDFs (same JVM in local mode): counts
  // dimension reload attempts for the scan-time retry test.
  val scanAttempts = new java.util.concurrent.atomic.AtomicInteger(0)
}
