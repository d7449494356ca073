package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.graft.CheckpointOps

/** Structured-Streaming re-expression of the reference's ingest plugins.
  *
  * The reference streams are processing-time micro-batches with size/time
  * flush thresholds (Flume sink: batch 1000 records / 2 MiB / 5 s —
  * `flume-plugin/.../Configure.java:34-38`; Flink sink flushes on checkpoint
  * — `flink-connector-odps/.../OdpsSinkFunction.java:136-146`). Spark's
  * equivalents are `Trigger.ProcessingTime` + `maxFilesPerTrigger` and the
  * checkpointed file/foreachBatch sinks, so these helpers are thin,
  * declarative wiring — the durability story (offset log, idempotent sink
  * commit) is Spark built-in, not hand-rolled.
  */
object MicroBatch {
  /** Backtick-quote a column name for APIs that parse their string argument
    * (withWatermark, Dataset.col) — names with dots/hyphens/spaces resolve
    * as a single identifier instead of a parse error or nested-field path. */
  private def quoted(name: String): String =
    "`" + name.replace("`", "``") + "`"


  /** Flush thresholds à la Flume (`Configure.java:34-46`): trigger interval
    * is the time bound; maxFilesPerTrigger bounds batch size for file
    * sources. Retries are Spark's task retries.
    *
    * `triggerMillis <= 0` selects `Trigger.AvailableNow` — the REPLAY
    * trigger: drain everything already present (still split into
    * micro-batches by maxFilesPerTrigger) and stop, with no
    * processing-time tick between batches. A live ingest wants the time
    * bound; a backfill/replay idling up to `triggerMillis` between
    * batches is pure wasted wall clock. */
  final case class IngestConfig(
      triggerMillis: Long = 5000L,
      maxFilesPerTrigger: Int = 16,
      checkpointDir: String = "") {
    def trigger: Trigger =
      if (triggerMillis <= 0) Trigger.AvailableNow()
      else Trigger.ProcessingTime(triggerMillis)
    private[MicroBatch] def checkpoint: Option[String] =
      Some(checkpointDir).filter(_.nonEmpty)
  }

  /** The one foreachBatch wiring of every sink here: `writeStream`, the
    * output mode and trigger when given, `body` per micro-batch, and the
    * checkpoint location when given. */
  private def batchSink(stream: DataFrame, trigger: Option[Trigger],
      checkpointDir: Option[String], outputMode: Option[String] = None)(
      body: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val w0 = stream.writeStream
    val w1 = outputMode.fold(w0)(m => w0.outputMode(m))
    val w2 = trigger.fold(w1)(t => w1.trigger(t))
    val w3 = checkpointDir.fold(w2)(d => w2.option("checkpointLocation", d))
    w3.foreachBatch(body)
  }

  /** Run `f` over `xs` as concurrent Spark jobs from driver threads:
    * independent small jobs (per-part counts, segment writes) leave most
    * cores idle when submitted one after another, so a sink's per-batch
    * wall is bound by job count, not data. */
  private def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    if (xs.lengthCompare(1) <= 0) xs.map(f)
    else Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
  }

  /** File-source stream over a directory of parquet (schema pinned from the
    * existing files — the reference's catalog-owned fixed schema, §1.4). */
  def fileStream(spark: SparkSession, path: String,
      cfg: IngestConfig = IngestConfig()): DataFrame = {
    val schema: StructType = spark.read.parquet(path).schema
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(path)
  }

  /** Wall-clock time-bucketed partition column — the Flink
    * `DateTimePartitionAssigner` (`dt=yyyy-MM-dd--HH` from processing time,
    * `flink-connector-odps/.../DateTimePartitionAssigner.java:62-80`). */
  def processingTimePartition(pattern: String = "yyyy-MM-dd--HH"): Column =
    date_format(current_timestamp(), pattern)

  /** Event-time tumbling-window partition (the idiomatic superset the
    * reference lacks — its streams are processing-time only, SURVEY §2.9). */
  def eventTimePartition(ts: Column, pattern: String = "yyyy-MM-dd--HH"): Column =
    date_format(ts, pattern)

  /** Dead-letter-queue split: rows failing `isGood` go to `dlqSink`, the
    * rest continue to `goodSink`; the pipeline never aborts on dirty data
    * (the reference's `dirtyDataContinue`/BadOperateWriter semantics,
    * `ogg-plugin/.../BadOperateWriter.java`). foreachBatch is the documented
    * place for such fan-out writes. */
  def withDeadLetter(
      stream: DataFrame, isGood: Column,
      goodSink: DataFrame => Unit, dlqSink: DataFrame => Unit,
      cfg: IngestConfig = IngestConfig()): DataStreamWriter[Row] = {
    val flag = "__graft_dlq_good"
    require(!stream.columns.contains(flag),
      s"stream already carries a $flag column")
    batchSink(stream, Some(cfg.trigger), cfg.checkpoint) { (batch, _) =>
      // NULL-valued predicates are DIRTY, not lost: a bare filter(p) /
      // filter(!p) pair drops NULL rows from BOTH sinks (ternary logic)
      // — and a predicate over a corrupt row evaluating to NULL is the
      // dead-letter queue's core case. Both sinks read the one
      // checkpoint, so the micro-batch is computed once.
      val marked = CheckpointOps(
        batch.withColumn(flag, coalesce(isGood, lit(false))), eager = false)
      try {
        goodSink(marked.filter(col(flag)).drop(flag))
        dlqSink(marked.filter(!col(flag)).drop(flag))
      } finally CheckpointOps.release(marked)
    }
  }

  /** Stream-to-table lookup join with per-micro-batch dimension refresh —
    * the Flink lookup join's TTL cache re-expressed as a re-resolved
    * broadcast inside foreachBatch
    * (`flink-connector-odps/.../OdpsLookupFunction.java:94-150`). The
    * dimension reload is read-only, so a transient source failure retries
    * with bounded backoff ([[graft.sources.Retry.withBackoff]]) instead of
    * failing the stream — the reference's lookup function retries its scan
    * session the same way (`OdpsLookupFunction.java:105-150`). */
  def lookupJoin(
      stream: DataFrame, loadDim: () => DataFrame, joinKeys: Seq[String],
      sink: DataFrame => Unit,
      cfg: IngestConfig = IngestConfig()): DataStreamWriter[Row] =
    batchSink(stream, Some(cfg.trigger), cfg.checkpoint) { (batch, _) =>
      // Materialize INSIDE the retry: loadDim() alone returns a lazy
      // plan (only schema resolution touches the source) — without the
      // eager checkpoint, the actual dimension scan would run inside the
      // join action, OUTSIDE the retry, and a transient source failure
      // there would kill the stream despite the backoff. Each attempt
      // checkpoints a fresh plan: a Dataset keeps a failed optimization
      // (a UDF folded over a local relation), so checkpointing the same
      // frame again would rethrow it without reading the source.
      val dim = graft.sources.Retry.withBackoff("lookup dimension reload") {
        CheckpointOps(loadDim().select("*"), eager = true)
      }
      try sink(batch.join(broadcast(dim), joinKeys, "left"))
      finally CheckpointOps.release(dim)
    }

  /** Ordered per-key delivery before a stateful op: hash-repartition on the
    * key columns so all ops for one key land in one partition — the
    * reference's shard-hash routing (`TableMapping.java:56`, ShardWriter).
    * groupByKey implies this for its own operator; use this when a
    * downstream foreachBatch/mapPartitions consumer needs key locality. */
  def keyOrdered(df: DataFrame, keys: Seq[String], partitions: Int): DataFrame =
    df.repartition(partitions, keys.map(col): _*)

  /** Event-time windowed aggregation with watermarking (late data handled —
    * the superset of the reference's processing-time-only streams). */
  def windowedCounts(stream: DataFrame, ts: String, watermark: String,
      window_ : String, keys: Seq[Column]): DataFrame =
    stream
      .withWatermark(quoted(ts), watermark)
      .groupBy(window(col(quoted(ts)), window_) +: keys: _*)
      .agg(count(lit(1)).as("n"))

  /** Event-time SESSION windows (gap-merged) over a stream: the streaming
    * form of [[graft.operators.Sessionize.sessions]] — state merges
    * overlapping per-key sessions across micro-batches; the watermark
    * bounds how long an open session is retained. Emit in APPEND mode —
    * the only output mode Spark supports for streaming session windows:
    * a session row appears once, when the watermark passes its end, so a
    * quiet stream holds its last sessions open until later events advance
    * the watermark. */
  def sessionCounts(stream: DataFrame, ts: String, watermark: String,
      gap: String, keys: Seq[Column]): DataFrame =
    stream
      .withWatermark(quoted(ts), watermark)
      .groupBy(session_window(col(quoted(ts)), gap) +: keys: _*)
      .agg(count(lit(1)).as("n"))

  /** Streaming exact dedup with BOUNDED state: one state entry per key,
    * evicted once the watermark passes its event time plus the horizon —
    * duplicates separated by more than the watermark can re-emit, which
    * is the price of finite state on an infinite stream (the batch
    * operators in [[graft.operators.Dedup]] are the exact-once pass; this
    * is the ingest-time guard that keeps re-delivered rows out of the
    * landing zone). Emits each key's first-arriving row. */
  def streamDedup(stream: DataFrame, ts: String, watermark: String,
      keys: Seq[String]): DataFrame =
    stream.withWatermark(quoted(ts), watermark)
      .dropDuplicatesWithinWatermark(keys) // names taken literally, no quoting

  /** Keyed UPSERT into a partitioned parquet snapshot — the MERGE-style
    * streaming sink an update-mode aggregation needs (the built-in file
    * sink is append-only, so re-emitted keys would duplicate): each
    * micro-batch touches ONLY the partitions it carries rows for
    * (dynamic partition overwrite), merging prior rows for those
    * partitions with the batch by `keyCols` — batch rows win, untouched
    * keys survive, untouched partitions are never read or written. The
    * merge is idempotent, so a replayed micro-batch (restart between
    * sink write and offset commit) converges to the same snapshot.
    *
    * Scale: per-batch cost ∝ size of TOUCHED partitions only — pick
    * `partitionCol` to match update locality (an event-time window key:
    * late data concentrates in few recent windows). The list of touched
    * partition values round-trips through the driver — O(distinct
    * partitions per batch), bounded by the watermark for windowed aggs.
    * Readers see partition-level atomicity (Spark's commit protocol
    * stages files before rename), which is what a dashboard polling a
    * snapshot needs.
    *
    * `partitionCol` must be a grouping column of the aggregation (it
    * identifies the partition a key lives in — string-typed keys
    * round-trip partition-value encoding cleanly; format timestamps with
    * `date_format` first). */
  def upsertSnapshot(batch0: DataFrame, dir: String, partitionCol: String,
      keyCols: Seq[String]): Unit =
    keyedMerge(batch0, partitionCol, keyCols, "upsertSnapshot") { batch =>
      val snapPath = new org.apache.hadoop.fs.Path(dir)
      val exists = snapPath.getFileSystem(
        batch.sparkSession.sessionState.newHadoopConf()).exists(snapPath)
      if (!exists) None // first batch: no snapshot yet
      else Some(batch.sparkSession.read.schema(batch.schema).parquet(dir))
    } { merged =>
      // cluster by the partition value before the partitioned write:
      // without this every one of the N write tasks opens a file in
      // every touched dir (N×dirs small files per upsert — the
      // death-by-files pattern); with it each dir gets one file per
      // upsert. The shuffle only moves the touched slice, which
      // update-mode keeps bounded.
      merged.repartition(col(partitionCol))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCol)
        .parquet(dir)
    }

  /** The keyed merge both upsert sinks share. The batch is checkpointed
    * eagerly: it is consumed four times (emptiness probe, touched
    * collect, anti-join key side, union side), and in foreachBatch each
    * consumption would re-run the micro-batch's stateful aggregation
    * read (a persisted frame is looked up in the cache by plan, and that
    * lookup failed on an unaliased aggregate: `key not found: hr#…`).
    * `prior` reads the standing snapshot typed as the batch (None before
    * the first commit); its rows in the touched partitions survive
    * unless the batch carries their key. `commit` writes batch ∪
    * survivors. */
  private def keyedMerge(batch0: DataFrame, partitionCol: String,
      keyCols: Seq[String], what: String)(
      prior: DataFrame => Option[DataFrame])(
      commit: DataFrame => Unit): Unit = {
    require(keyCols.nonEmpty, s"$what needs at least one key column")
    require(!keyCols.contains(partitionCol),
      "partitionCol is implicitly part of the key; keyCols must not repeat it")
    val batch = CheckpointOps(batch0, eager = true)
    try if (!batch.isEmpty) {
      val touched = batch.select(col(partitionCol)).distinct()
        .collect().map(_.get(0)) // O(partitions per batch) scalars
      val keys = partitionCol +: keyCols
      val survivors = prior(batch).map(
        _.filter(col(partitionCol).isin(touched: _*)) // partition-pruned
          // batch rows REPLACE prior rows with the same key
          .join(batch.select(keys.map(col): _*), keys, "left_anti"))
      commit(survivors.fold(batch)(batch.unionByName(_)))
    } finally CheckpointOps.release(batch)
  }

  /** Streaming wiring for [[upsertSnapshot]]: an update-mode
    * aggregation → per-batch keyed merge into the partitioned snapshot.
    * Update mode is the point — only CHANGED (partition, key) rows flow,
    * and the merge folds them into the standing snapshot; with a
    * watermark on the aggregation, state AND the touched-partition set
    * stay bounded while old partitions remain readable forever. */
  def streamUpsert(agg: DataFrame, dir: String, partitionCol: String,
      keyCols: Seq[String],
      cfg: IngestConfig = IngestConfig()): DataStreamWriter[Row] =
    batchSink(agg, Some(cfg.trigger), cfg.checkpoint, Some("update")) {
      (batch, _) => upsertSnapshot(batch, dir, partitionCol, keyCols)
    }

  /** [[upsertSnapshot]] with the manifest-pointer commit
    * ([[graft.sources.ManifestCommit]]) — the object-store-atomic form
    * the SCALE.md commit matrix prescribes for the keyed upsert sink:
    * the merged touched partitions land in a fresh IMMUTABLE
    * generation and ONE pointer PUT publishes them simultaneously
    * (dynamic-overwrite pointer semantics: untouched partitions keep
    * their old generation entries and are never read or written).
    * Replay-idempotent because the keyed merge itself is: a replayed
    * batch re-merges against a state that already absorbed it — batch
    * rows win again and the snapshot converges; the orphaned previous
    * attempt's generation is unreferenced and vacuumed. Read the
    * snapshot with [[graft.sources.ManifestCommit.read]]. */
  def upsertSnapshotManifest(batch0: DataFrame, dir: String,
      partitionCol: String, keyCols: Seq[String]): Unit =
    keyedMerge(batch0, partitionCol, keyCols, "upsertSnapshotManifest") {
      batch =>
        graft.sources.ManifestCommit.latestPointer(dir).map { _ =>
          // pin the batch's own types (partition discovery re-infers the
          // partition column from dir names)
          graft.sources.ManifestCommit.read(batch.sparkSession, dir)
            .select(batch.schema.fields.toSeq
              .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
        }
    } { merged =>
      graft.sources.ManifestCommit.writePartitioned(merged, dir,
        Seq(partitionCol))
      ()
    }

  /** Streaming wiring for [[upsertSnapshotManifest]] — [[streamUpsert]]
    * with the one-PUT pointer commit; every `compactEvery` batches the
    * accumulated generations fold into one
    * ([[graft.sources.ManifestCommit.compact]] — a pointer flip, zero
    * data movement at retire) and unreferenced generations vacuum, so
    * pointer width and storage stay bounded without operator memory. */
  def streamUpsertManifest(agg: DataFrame, dir: String,
      partitionCol: String, keyCols: Seq[String],
      cfg: IngestConfig = IngestConfig(), compactEvery: Int = 16)
      : DataStreamWriter[Row] =
    batchSink(agg, Some(cfg.trigger), cfg.checkpoint, Some("update")) {
      (batch, batchId) =>
        upsertSnapshotManifest(batch, dir, partitionCol, keyCols)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
          graft.sources.ManifestCommit.compact(batch.sparkSession, dir,
            Seq(partitionCol))
          graft.sources.ManifestCommit.vacuum(dir)
        }
    }

  /** Streaming incremental-rollup maintenance — the ingest-time form of
    * [[graft.operators.Cdc.incrementalAgg]]: a stream of IMAGED CDC ops
    * ([[graft.operators.Cdc.snapshotDiffImaged]]'s schema — the OGG
    * dest/destOld shape) folds into a standing per-group (n, sum)
    * rollup through the manifest-committed LSM segment log
    * ([[foldSegments]]): each micro-batch appends ONE
    * changed-groups-sized delta segment
    * ([[graft.operators.Cdc.aggDelta]] — exact decimal value sums, so
    * segment merges commute) and commits with ONE manifest PUT; every
    * `compactEvery` appended segments the log collapses to a single
    * groups-sized segment. Per-batch hot-path I/O is O(changed groups):
    * the standing state is never read, rewritten, or renamed (the
    * pre-r14 versioned-snapshot substrate rewrote ALL groups every
    * batch — at 100 TB a billion-group rollup paid a billion-row
    * rewrite for a changed-groups-sized delta — and resolved snapshots
    * by directory listing, which object stores render
    * partial-snapshot-visible mid-publish). Replay-idempotent: a
    * replayed batch resolves the manifest with id < batchId and
    * overwrites its own segment and manifest. Intermediate state may
    * hold groups at n ≤ 0 (a delete arriving before its insert, in any
    * segment or their merge) — [[readRollup]] prunes them at read
    * time. */
  def streamRollup(opsStream: DataFrame, dir: String, groupCol: String,
      valueCol: String, cfg: IngestConfig = IngestConfig(),
      compactEvery: Int = 8): DataStreamWriter[Row] =
    segmentSink(opsStream, dir, cfg, compactEvery) { batch =>
      Seq(SegPart("", Seq(groupCol), RollupSums) ->
        graft.operators.Cdc.aggDelta(batch, groupCol, valueCol))
    }

  /** Streaming connected-components maintenance: each micro-batch of
    * (src, dst) edges folds into the persisted label table via
    * [[graft.operators.Graph.connectedComponentsIncrement]] — the
    * accumulated graph participates only through its NODES-SIZED star
    * edges, so per-batch work is (nodes + batch edges), never the edge
    * history; merges across batches and brand-new nodes are exact.
    *
    * Commit protocol: min-label contraction is NOT additive, so the
    * label table is legitimately full-state per batch (no LSM delta
    * exists for it) — but the PUBLISH rides the same one-PUT manifest
    * as [[foldSegments]]: the new labels land at the immutable
    * `seg=<batchId>` path, the manifest PUT after the data is the
    * commit point, and readers resolve ONLY through the manifest —
    * never by directory listing, which object stores render
    * partial-snapshot-visible mid-publish. A replayed batch resolves
    * the manifest with id < batchId and overwrites its own segment and
    * manifest idempotently; GC keeps the replay-horizon manifest plus
    * the current one (~2× live state). */
  def streamComponents(edgeStream: DataFrame, dir: String,
      srcCol: String, dstCol: String,
      cfg: IngestConfig = IngestConfig()): DataStreamWriter[Row] =
    batchSink(edgeStream, Some(cfg.trigger), cfg.checkpoint) {
      (batch, batchId) =>
        val prior = latestSegManifest(dir, beforeExclusive = Some(batchId))
        val next = prior
          .map { case (_, segs) =>
            batch.sparkSession.read.parquet(s"$dir/seg=${segs.head}") }
          .filter(!_.isEmpty) match {
          case Some(labels) => graft.operators.Graph
            .connectedComponentsIncrement(labels, batch, srcCol, dstCol)
          case None => graft.operators.Graph
            .connectedComponents(batch, srcCol, dstCol)
        }
        next.write.mode("overwrite").parquet(s"$dir/seg=$batchId")
        writeSegManifest(dir, batchId, Seq(batchId)) // the commit point
        gcSegments(dir,
          keepManifests = prior.map(_._1).toSet + batchId,
          keepSegs = prior.map(_._2).getOrElse(Seq.empty).toSet + batchId)
    }

  /** Streaming market-basket co-occurrence maintenance: each
    * micro-batch of (basket, item) postings folds into persisted pair
    * counts, item frequencies, and the basket total — all ADDITIVE
    * under the contract that a basket arrives whole inside one batch
    * (route by basket key upstream; a split basket would under-count
    * its cross-batch pairs). The quadratic pair expansion runs per
    * batch behind the same `maxBasketSize` whole-basket cap as
    * [[graft.operators.Affinity.coOccurrence]], so the history is
    * never re-expanded: per-batch hot-path cost is the batch's OWN
    * pairs only — the three sub-states (pair counts, item
    * frequencies, basket total) append as delta segments of ONE
    * manifest-committed LSM segment log ([[foldSegments]]; the three
    * parts live under `seg=<id>/pairs|freq|total` and move atomically
    * under the single manifest PUT), compacted to one segment every
    * `compactEvery` batches. The pre-r14 substrate merged and rewrote
    * the FULL pairs state every batch — O(pair-domain) I/O per
    * micro-batch — and resolved snapshots by listing; both holes are
    * closed. Replay-idempotent; read the current state with
    * [[readCoOccurrence]], which must equal the batch operator on the
    * union of all batches exactly. */
  def streamCoOccurrence(postings: DataFrame, dir: String,
      basketCol: String, itemCol: String, maxBasketSize: Int = 256,
      cfg: IngestConfig = IngestConfig(), compactEvery: Int = 8)
      : DataStreamWriter[Row] =
    segmentSink(postings, dir, cfg, compactEvery) { batch =>
      // the same one-aggregate basket kernel as the batch operator
      // (graft.operators.Affinity): per-basket sorted distinct item
      // sets, pairs generated map-side — no distinct / size-count /
      // semi-join / self-join of the batch against itself
      val kept = graft.operators.Affinity.basketItemSets(
        batch, basketCol, itemCol, maxBasketSize)
      val pairsDelta = graft.operators.Affinity.basketPairs(kept)
        .groupBy(col("__x").as("item_a"), col("__y").as("item_b"))
        .agg(count(lit(1)).as("n_baskets"))
      val freqDelta = kept.select(explode(col("__items")).as("item"))
        .groupBy(col("item"))
        .agg(count(lit(1)).as("ni"))
      // an empty batch's global count row is n=0 — filtered so an
      // all-empty delta skips the fold (state already current);
      // kept is one row per basket, so the count needs no distinct
      val totDelta = kept
        .agg(count(lit(1)).as("n")).filter(col("n") > 0)
      Seq(
        SegPart("pairs", Seq("item_a", "item_b"),
          Seq("n_baskets" -> "bigint")) -> pairsDelta,
        SegPart("freq", Seq("item"), Seq("ni" -> "bigint")) -> freqDelta,
        SegPart("total", Seq.empty, Seq("n" -> "bigint")) -> totDelta)
    }

  /** Streaming functional-dependency monitor state: micro-batches fold
    * ADDITIVELY into persisted counts keyed by the (determinant,
    * dependent) VALUE pair through the manifest-committed LSM segment
    * log ([[foldSegments]] — one delta segment + one manifest PUT
    * per batch, replay-idempotent, compacted every `compactEvery`
    * batches), so "did this load break the 1:1 mapping?" is answerable
    * at any moment without rescanning history — and without the
    * pre-r14 full pair-domain rewrite per micro-batch. Read the
    * current audit with [[readFdProfile]] — it must equal
    * [[graft.operators.Expectations.fdProfile]] on the union of all
    * batches exactly (every statistic is an exact integer of the
    * additive state). Per-batch cost: one pair-keyed count aggregate +
    * one delta-segment write, O(batch's own pairs). `maxStateRows`
    * fail-fasts an unbounded-domain misuse (see
    * [[foldSegments]]). */
  def streamPairCounts(stream: DataFrame, dir: String, detCol: String,
      depCol: String, cfg: IngestConfig = IngestConfig(),
      compactEvery: Int = 8, maxStateRows: Option[Long] = None)
      : DataStreamWriter[Row] =
    segmentSink(stream, dir, cfg, compactEvery, maxStateRows) { batch =>
      Seq(countPart(batch
        .select(col(detCol).as("__det"), col(depCol).as("__dep")),
        Seq("__det", "__dep")))
    }

  /** The current functional-dependency audit of a [[streamPairCounts]]
    * directory, shaped exactly like
    * [[graft.operators.Expectations.fdProfile]]'s row for the pair:
    * the state rows ARE the distinct (det, dep) combos, so the
    * distinct-dependent count per determinant is a row count over
    * non-null dependents and the row total is the count sum — one
    * determinant-keyed aggregate over domain-sized state. */
  def readFdProfile(spark: SparkSession, dir: String,
      determinant: String, dependent: String): DataFrame = {
    currentCountState(spark, dir, "pair-count")
      .groupBy(col("__det"))
      .agg(sum(col("__n")).as("__rows"),
        sum(when(col("__dep").isNotNull, 1L).otherwise(0L)).as("__nd"))
      .agg(
        count(lit(1)).as("n_det"),
        sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("violating_det"),
        sum(when(col("__nd") > 1, col("__rows")).otherwise(0L))
          .as("violation_rows"),
        max(col("__nd")).as("max_fanout"))
      .select(lit(determinant).as("determinant"),
        lit(dependent).as("dependent"), col("n_det"),
        col("violating_det"), col("violation_rows"), col("max_fanout"),
        (col("violating_det") === 0L).as("fd_holds"))
  }

  /** Streaming correlation maintenance: each micro-batch's exact-decimal
    * moment sums (n, Σx, Σy, Σx², Σy², Σxy) fold ADDITIVELY into the
    * manifest-committed LSM segment log ([[foldSegments]] with NO key
    * columns — each segment is one global moment row, merged by decimal
    * sums at read/compaction; one manifest PUT per batch,
    * replay-idempotent) — live "is the metric still tracking the
    * driver?" without rescanning history. Read the current Pearson r
    * with [[readCorr]]; it must equal
    * [[graft.operators.Expectations.corrMatrix]] on the union of all
    * batches EXACTLY, because decimal sums are associative in ANY
    * segment-merge order where double sums are not — the whole reason
    * the state is decimal. Per-batch cost: one single-row aggregate +
    * a one-row segment write. Rows with a NULL/NaN on either side are
    * excluded (listwise, the batch convention). */
  def streamMoments(stream: DataFrame, dir: String, xCol: String,
      yCol: String, cfg: IngestConfig = IngestConfig(),
      compactEvery: Int = 8)
      : DataStreamWriter[Row] = {
    val dIn = "decimal(18,6)"
    segmentSink(stream, dir, cfg, compactEvery) { batch =>
      val delta = batch
        .select(col(xCol).cast("double").as("__x"),
          col(yCol).cast("double").as("__y"))
        .filter(col("__x").isNotNull && !isnan(col("__x")) &&
          col("__y").isNotNull && !isnan(col("__y")))
        .agg(count(lit(1)).as("__n"),
          sum(col("__x").cast(dIn)).cast("decimal(38,6)").as("__sx"),
          sum(col("__y").cast(dIn)).cast("decimal(38,6)").as("__sy"),
          sum((col("__x").cast(dIn) * col("__x").cast(dIn))
            .cast("decimal(38,12)")).cast("decimal(38,12)").as("__sxx"),
          sum((col("__y").cast(dIn) * col("__y").cast(dIn))
            .cast("decimal(38,12)")).cast("decimal(38,12)").as("__syy"),
          sum((col("__x").cast(dIn) * col("__y").cast(dIn))
            .cast("decimal(38,12)")).cast("decimal(38,12)").as("__sxy"))
        // an empty batch's global aggregate is an n=0 row — filtered
        // so the fold's empty-delta short-circuit applies
        .filter(col("__n") > 0)
      Seq(SegPart("", Seq.empty, MomentSums) -> delta)
    }
  }

  /** The current Shannon entropy of a [[streamValueCounts]] directory —
    * live "is the metric's distribution collapsing?" (entropy → 0 =
    * one value dominating; a spike in card-testing fraud or a stuck
    * sensor shows here before any mean moves). Same decimal-routed
    * c·ln c accumulation and 9-rounded outputs as
    * [[graft.operators.Expectations.entropyProfile]], so the streamed
    * value equals the batch profile on the union of all batches
    * exactly. One row: (n, n_distinct, entropy, normalized). */
  def readEntropy(spark: SparkSession, dir: String): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) =
      c.cast("string").cast("double")
    val agg = readValueCounts(spark, dir)
      .agg(count(lit(1)).as("n_distinct"),
        sum(col("n")).as("__n"),
        sum((col("n").cast("decimal(12,0)") *
          round(log(col("n").cast("double")), 9)
            .cast("decimal(14,12)")).cast("decimal(38,12)"))
          .cast("decimal(38,12)").as("__clnc"))
    val nD = col("__n").cast("double")
    agg.select(col("__n").as("n"), col("n_distinct"),
        round(log(nD) - dbl(col("__clnc")) / nD, 9).as("entropy"))
      .select(col("n"), col("n_distinct"), col("entropy"),
        when(col("n_distinct") <= 1, lit(null).cast("double"))
          .otherwise(round(col("entropy") /
            log(col("n_distinct").cast("double")), 9)).as("normalized"))
  }

  /** Streaming per-key revenue maintenance: micro-batches fold
    * ADDITIVELY into persisted (key, total, n) state through the
    * manifest-committed LSM segment log ([[foldSegments]] — one
    * touched-keys-sized delta segment + one manifest PUT per batch,
    * replay-idempotent, compacted every `compactEvery` batches) — the
    * live leaderboard/aggregation state behind "top contributors right
    * now" without rescanning history, and without the pre-r14 full
    * key-domain rewrite per micro-batch (at 100 TB a billion-key
    * leaderboard paid a billion-row rewrite for a touched-keys delta).
    * Totals ride DECIMAL so the fold is exact under any batch split
    * AND any segment-merge order; read with
    * [[readTopContributors]]. */
  def streamKeySums(stream: DataFrame, dir: String, keyCol: String,
      valueCents: String, cfg: IngestConfig = IngestConfig(),
      compactEvery: Int = 8)
      : DataStreamWriter[Row] =
    segmentSink(stream, dir, cfg, compactEvery) { batch =>
      Seq(SegPart("", Seq("__k"), KeySumSums) -> batch
        .filter(col(keyCol).isNotNull && col(valueCents).isNotNull)
        .groupBy(col(keyCol).as("__k"))
        .agg(sum(col(valueCents).cast("decimal(19,0)"))
          .cast("decimal(28,0)").as("__s"),
          count(lit(1)).as("__n")))
    }

  /** Streaming approximate-distinct maintenance — the SKETCH state the
    * `maxStateRows` guard routes unbounded domains to
    * ([[foldSegments]]'s misuse error names it): per micro-batch, ONE
    * (group, HLL sketch, row count) delta row per touched group folds
    * through the manifest-committed LSM segment log; sketches merge by
    * register-max union (`hll_union_agg` — commutative/associative,
    * order-free like every merge here, and partitioning-independent),
    * so the read equals the batch sketch of the union of all batches
    * exactly. State is groups × 2^lgK bytes REGARDLESS of value
    * cardinality — the whole point vs exact value counts: a
    * billion-distinct-URL stream holds 4 KB/group at lgK=12 (±~1.6%
    * standard error). NULL values are excluded (distinct-count
    * convention); `groupCol = None` maintains one global sketch. Read
    * with [[readDistinctSketch]]. */
  def streamDistinctSketch(stream: DataFrame, dir: String,
      valueCol: String, groupCol: Option[String] = None, lgK: Int = 12,
      cfg: IngestConfig = IngestConfig(), compactEvery: Int = 8)
      : DataStreamWriter[Row] = {
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21], got $lgK")
    segmentSink(stream, dir, cfg, compactEvery) { batch =>
      val keyed = groupCol match {
        case Some(g) => batch
          .select(col(g).cast("string").as("__g"),
            col(valueCol).as("__v"))
          .filter(col("__g").isNotNull)
        case None => batch
          .select(lit("").as("__g"), col(valueCol).as("__v"))
      }
      val delta = keyed.filter(col("__v").isNotNull)
        .groupBy(col("__g"))
        .agg(hll_sketch_agg(col("__v"), lit(lgK)).as("__sk"),
          count(lit(1)).as("__n"))
      Seq(SegPart("", Seq("__g"),
        Seq("__sk" -> "hll", "__n" -> "bigint")) -> delta)
    }
  }

  /** The current per-group approximate distinct count of a
    * [[streamDistinctSketch]] directory: (group, n, n_distinct_est) —
    * the union-merged sketch estimated once at read time. Must equal
    * the batch `hll_sketch_estimate(hll_sketch_agg(...))` of the union
    * of all batches exactly (register-max union is exact over the
    * sketch space; only the ESTIMATE is approximate over the data). */
  def readDistinctSketch(spark: SparkSession, dir: String): DataFrame =
    currentSegState(spark, dir, "",
        Seq("__sk" -> "hll", "__n" -> "bigint"), "distinct-sketch")
      .select(col("__g").as("group"), col("__n").as("n"),
        hll_sketch_estimate(col("__sk")).as("n_distinct_est"))
      .orderBy(col("group"))

  /** Streaming data-freshness maintenance — the IVM lens over
    * [[graft.operators.Expectations.freshness]]: per micro-batch, one
    * (group, max event-time micros, row count) delta row per touched
    * group folds through the segment log with a MAX merge (extremum
    * monoid — order-free), so "is this feed still arriving?" is
    * answerable at any moment without rescanning history; per-batch
    * I/O is touched-groups-sized. Groups whose rows so far are all
    * NULL-timestamped carry a NULL max (and report stale — the worst
    * kind of stale, matching the batch operator). Read with
    * [[readFreshness]]; it must equal the batch report on the union
    * of all batches exactly. */
  def streamFreshness(stream: DataFrame, dir: String, groupCol: String,
      tsCol: String, cfg: IngestConfig = IngestConfig(),
      compactEvery: Int = 8)
      : DataStreamWriter[Row] =
    segmentSink(stream, dir, cfg, compactEvery) { batch =>
      Seq(SegPart("", Seq("__g"),
          Seq("__mx" -> "max bigint", "__n" -> "bigint")) -> batch
        .filter(col(groupCol).isNotNull)
        .groupBy(col(groupCol).as("__g"))
        .agg(max(unix_micros(col(tsCol))).as("__mx"),
          count(lit(1)).as("__n")))
    }

  /** The current freshness report of a [[streamFreshness]] directory,
    * shaped exactly like [[graft.operators.Expectations.freshness]]:
    * (group, n, last_ts, lag_seconds, stale) against an EXPLICIT
    * `asOf` instant (validated eagerly, like the batch operator) —
    * exact integer-microsecond lag, one division to seconds. */
  def readFreshness(spark: SparkSession, dir: String, asOf: String,
      maxLagSeconds: Long): DataFrame = {
    require(maxLagSeconds >= 0,
      s"maxLagSeconds must be non-negative, got $maxLagSeconds")
    val asOfTs = to_timestamp(lit(asOf))
    // eager validation, exactly to_timestamp's semantics (ANSI throws,
    // non-ANSI NULLs — both collapse to one clear parameter error here)
    val asOfOk =
      try !spark.range(1).select(asOfTs).head.isNullAt(0)
      catch { case _: Exception => false }
    require(asOfOk,
      s"readFreshness: unparseable asOf instant '$asOf' — use an ISO " +
        "timestamp like '2024-01-01 00:00:00'")
    currentSegState(spark, dir, "",
        Seq("__mx" -> "max bigint", "__n" -> "bigint"), "freshness")
      .select(col("__g").as("group"), col("__n").as("n"),
        timestamp_micros(col("__mx")).as("last_ts"),
        floor((unix_micros(asOfTs) - col("__mx"))
          .cast("double") / 1000000.0).cast("long").as("lag_seconds"))
      .withColumn("stale",
        col("lag_seconds").isNull ||
          col("lag_seconds") > maxLagSeconds)
      .orderBy(col("group"))
  }

  /** Streaming sequential-probability-ratio-test (SPRT) maintenance —
    * the always-valid sequential monitor over a Bernoulli stream
    * (conversion, error rate, guardrail breach): per micro-batch, one
    * (group, successes, trials) delta row per touched group folds
    * ADDITIVELY through the manifest-committed LSM segment log, so the
    * test statistic is current after every batch WITHOUT rescanning
    * history and the decision can fire mid-experiment (Wald's SPRT
    * keeps α/β at the stated levels under optional stopping — the
    * peeking problem fixed-horizon tests have). `successCol` is any
    * boolean column; NULL groups/flags are excluded. Read with
    * [[readSprt]]. */
  def streamSprt(stream: DataFrame, dir: String, groupCol: String,
      successCol: String, cfg: IngestConfig = IngestConfig(),
      compactEvery: Int = 8)
      : DataStreamWriter[Row] =
    segmentSink(stream, dir, cfg, compactEvery) { batch =>
      Seq(SegPart("", Seq("__g"),
          Seq("__s" -> "bigint", "__t" -> "bigint")) -> batch
        .filter(col(groupCol).isNotNull &&
          col(successCol).isNotNull)
        .groupBy(col(groupCol).cast("string").as("__g"))
        .agg(sum(when(col(successCol).cast("boolean"), 1L)
          .otherwise(0L)).as("__s"),
          count(lit(1)).as("__t")))
    }

  /** The current Wald SPRT decision of a [[streamSprt]] directory —
    * H₀: rate = `p0` vs H₁: rate = `p1`, error levels `alpha` (false
    * accept of H₁) and `beta` (false accept of H₀): per group,
    * `llr = s·ln(p1/p0) + (t−s)·ln((1−p1)/(1−p0))` over the EXACT
    * (successes, trials) state, decided against Wald's boundaries
    * `ln((1−β)/α)` / `ln(β/(1−α))`. Returns (group, trials,
    * successes, rate, llr, decision) with decision ∈
    * {"accept_h1", "accept_h0", "continue"}. All four ln constants
    * are driver-computed literals, so the per-group statistic is one
    * fixed double expression over exact integers — deterministic at
    * any partitioning; equals the batch SPRT on the union of all
    * batches exactly. */
  def readSprt(spark: SparkSession, dir: String, p0: Double, p1: Double,
      alpha: Double = 0.05, beta: Double = 0.2): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"need 0 < p0, p1 < 1 and p0 != p1, got p0=$p0 p1=$p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"need 0 < alpha, beta < 1, got alpha=$alpha beta=$beta")
    val cWin = math.log(p1 / p0)           // per-success increment
    val cLoss = math.log((1.0 - p1) / (1.0 - p0)) // per-failure increment
    val upper = math.log((1.0 - beta) / alpha)
    val lower = math.log(beta / (1.0 - alpha))
    val llr = col("__s").cast("double") * lit(cWin) +
      (col("__t") - col("__s")).cast("double") * lit(cLoss)
    currentSegState(spark, dir, "",
        Seq("__s" -> "bigint", "__t" -> "bigint"), "sprt")
      .select(col("__g").as("group"), col("__t").as("trials"),
        col("__s").as("successes"),
        (col("__s").cast("double") / col("__t").cast("double"))
          .as("rate"),
        llr.as("llr"),
        when(llr >= upper, "accept_h1")
          .when(llr <= lower, "accept_h0")
          .otherwise("continue").as("decision"))
      .orderBy(col("group"))
  }

  /** Streaming pairwise-preference maintenance — the judgment-stream
    * state behind a live model leaderboard: per micro-batch, one
    * (winner, loser, count) delta row per touched pair folds
    * ADDITIVELY through the manifest-committed LSM segment log, so
    * the preference matrix is current after every batch of judge
    * calls with O(touched pairs) I/O. Self-games and NULLs are
    * excluded ([[graft.operators.Experiment.bradleyTerry]]'s
    * contract). Read with [[readBradleyTerry]]. */
  def streamPreferences(stream: DataFrame, dir: String,
      winnerCol: String, loserCol: String,
      cfg: IngestConfig = IngestConfig(), compactEvery: Int = 8)
      : DataStreamWriter[Row] =
    segmentSink(stream, dir, cfg, compactEvery) { batch =>
      Seq(countPart(batch
        .select(col(winnerCol).cast("string").as("__w"),
          col(loserCol).cast("string").as("__l"))
        .filter(col("__w").isNotNull && col("__l").isNotNull &&
          col("__w") =!= col("__l")), Seq("__w", "__l")))
    }

  /** The current Bradley–Terry ranking of a [[streamPreferences]]
    * directory: the maintained (winner, loser, count) matrix loads
    * (model-sized — `maxVariants`-capped like the batch fit) and runs
    * EXACTLY [[graft.operators.Experiment.bradleyTerry]]'s MM
    * iteration, so the live leaderboard equals the batch fit on the
    * union of all judgments by construction (the fit is shared
    * code). Returns (variant, wins, games, bt_score, rank). */
  def readBradleyTerry(spark: SparkSession, dir: String,
      iterations: Int = 100, maxVariants: Int = 500): DataFrame = {
    // in-plan cardinality guard before the driver load — a state dir
    // accidentally keyed by per-item ids fails the fit's contract
    // BEFORE up to V² pair rows reach the driver (shared guard with
    // the batch fit, so batch and stream refuse identically)
    val pairs = graft.operators.Experiment.guardedPairCollect(
      currentSegState(spark, dir, "", Seq("__n" -> "bigint"),
        "preference").select(col("__w"), col("__l"), col("__n")),
      maxVariants)
    graft.operators.Experiment.btFitToDf(spark, pairs,
      iterations, maxVariants)
  }

  /** The additive Gram-sum columns of a d-feature OLS state: exactly
    * [[graft.operators.Regression.gramSums]]'s aggregate, made a
    * segment-log schema — micro-quantized moments are integers, so
    * the cross-batch fold is EXACT and the streamed state equals the
    * batch aggregate on the union of all batches bit-for-bit. */
  private def gramSumsSpec(d: Int): Seq[(String, String)] =
    (Seq("__n" -> "bigint") ++
      (0 until d).map(j => s"__sx$j" -> "decimal(38,0)") ++
      (for (j <- 0 until d; k <- j until d)
        yield s"__sxx_${j}_$k" -> "decimal(38,0)") ++
      Seq("__sy" -> "decimal(38,0)") ++
      (0 until d).map(j => s"__sxy$j" -> "decimal(38,0)") ++
      Seq("__syy" -> "decimal(38,0)"))

  /** Streaming per-group OLS maintenance — a LIVE regression without
    * re-reading history: each micro-batch folds its O(d²) exact Gram
    * sums per group (micro-quantized integers — the
    * [[graft.operators.Regression.linearFit]] moments) additively
    * through the manifest-committed segment log; the model itself is
    * only ever solved at READ time ([[readLinearFit]]), so per-batch
    * cost is one map-side-combined aggregate and an O(touched groups)
    * delta write. The use case is the continuously-calibrated scorer:
    * `quality ~ signals` per language/source, current after every
    * batch, with the fit guaranteed to equal the batch fit on the
    * union of all batches (same moments, same solver). */
  def streamGramFit(stream: DataFrame, dir: String, groupCol: String,
      target: Column, features: Seq[Column],
      cfg: IngestConfig = IngestConfig(), compactEvery: Int = 8)
      : DataStreamWriter[Row] = {
    require(features.nonEmpty && features.size <= 32,
      s"streamGramFit needs 1..32 features, got ${features.size}")
    val d = features.size
    segmentSink(stream, dir, cfg, compactEvery) { batch =>
      val finite = (c: Column) =>
        c.isNotNull && !isnan(c) && abs(c) < lit(Double.PositiveInfinity)
      val named = batch.select(
        (col(groupCol).cast("string").as("__g") +:
          target.cast("double").as("__ym") +:
          features.zipWithIndex.map { case (c, j) =>
            c.cast("double").as(s"__xm$j") }): _*)
      val quant = named
        .filter((0 until d).map(j => finite(col(s"__xm$j")))
          .foldLeft(col("__g").isNotNull && finite(col("__ym")))(_ && _))
        .select((col("__g") +:
          floor(col("__ym") * 1000000.0 + 0.5).cast("long").as("__y") +:
          (0 until d).map(j => floor(col(s"__xm$j") * 1000000.0 + 0.5)
            .cast("long").as(s"__x$j"))): _*)
      def d19(c: Column): Column = c.cast("decimal(19,0)")
      def crossSum(a: Column, b: Column): Column =
        sum((d19(a) * d19(b)).cast("decimal(38,0)")).cast("decimal(38,0)")
      val sums: Seq[Column] =
        Seq(count(lit(1)).as("__n")) ++
        (0 until d).map(j => sum(d19(col(s"__x$j")))
          .cast("decimal(38,0)").as(s"__sx$j")) ++
        (for (j <- 0 until d; k <- j until d) yield
          crossSum(col(s"__x$j"), col(s"__x$k")).as(s"__sxx_${j}_$k")) ++
        Seq(sum(d19(col("__y"))).cast("decimal(38,0)").as("__sy")) ++
        (0 until d).map(j =>
          crossSum(col(s"__x$j"), col("__y")).as(s"__sxy$j")) ++
        Seq(crossSum(col("__y"), col("__y")).as("__syy"))
      Seq(SegPart("", Seq("__g"), gramSumsSpec(d)) ->
        quant.groupBy(col("__g")).agg(sums.head, sums.tail: _*))
    }
  }

  /** The current per-group OLS fit of a [[streamGramFit]] directory:
    * the maintained Gram state loads (group-cardinality-sized, bounded
    * by `maxGroups` — the collect is `limit(maxGroups+1)`-capped
    * in-plan, so an accidentally per-item-keyed state can never flood
    * the driver) and each group solves through EXACTLY the batch
    * machinery ([[graft.operators.Regression.solveWithInverse]] on the
    * descaled moments), so live and batch coefficients cannot diverge.
    * Returns one row per (group, term): (group, term, coef, std_err,
    * t_stat, r2, n, df_resid) — singular groups carry NULLs, the batch
    * contract. */
  def readLinearFit(spark: SparkSession, dir: String,
      featureNames: Seq[String], maxGroups: Int = 500): DataFrame = {
    import graft.operators.Regression
    val d = featureNames.size
    val rows = currentSegState(spark, dir, "", gramSumsSpec(d), "gram-fit")
      .orderBy(col("__g"))
      .limit(maxGroups + 1)
      .collect()
    require(rows.length <= maxGroups,
      s"more than maxGroups=$maxGroups groups in the Gram state under " +
        s"$dir — a per-item group key is a misuse of a model fit")
    val p = d + 1
    val M = 1e6
    val out = rows.toSeq.flatMap { r =>
      val g = r.getString(r.fieldIndex("__g"))
      val n = r.getLong(r.fieldIndex("__n"))
      def dec(name: String): Double = {
        val v = r.get(r.fieldIndex(name))
        if (v == null) 0.0
        else v.asInstanceOf[java.math.BigDecimal].doubleValue()
      }
      val a = Array.ofDim[Double](p, p)
      val b = new Array[Double](p)
      a(0)(0) = n.toDouble
      for (j <- 0 until d) {
        a(0)(j + 1) = dec(s"__sx$j") / M
        a(j + 1)(0) = a(0)(j + 1)
      }
      for (j <- 0 until d; k <- j until d) {
        a(j + 1)(k + 1) = dec(s"__sxx_${j}_$k") / (M * M)
        a(k + 1)(j + 1) = a(j + 1)(k + 1)
      }
      b(0) = dec("__sy") / M
      for (j <- 0 until d) b(j + 1) = dec(s"__sxy$j") / (M * M)
      val syy = dec("__syy") / (M * M)
      val terms = "intercept" +: featureNames
      Regression.solveWithInverse(a, b) match {
        case None => terms.map(t => org.apache.spark.sql.Row(
          g, t, null, null, null, null, n, null))
        case Some((coef, inv)) =>
          val gs = Regression.GramSums(n, a, b, syy)
          val ssr = Regression.ssrOf(gs, coef)
          val sst = math.max(0.0, syy - b(0) * b(0) / n.toDouble)
          val r2: Any = if (sst == 0.0) null else 1.0 - ssr / sst
          val dfResid = n - p
          val sigma2 =
            if (dfResid > 0) ssr / dfResid.toDouble else Double.NaN
          terms.zipWithIndex.map { case (t, j) =>
            val se: Any =
              if (dfResid <= 0 || inv(j)(j) < 0.0) null
              else math.sqrt(sigma2 * inv(j)(j))
            val tStat: Any = se match {
              case s: Double if s > 0.0 => coef(j) / s
              case _ => null
            }
            org.apache.spark.sql.Row(g, t, coef(j), se, tStat, r2, n,
              if (dfResid > 0) dfResid else null)
          }
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("group", StringType, nullable = false),
      StructField("term", StringType, nullable = false),
      StructField("coef", DoubleType, nullable = true),
      StructField("std_err", DoubleType, nullable = true),
      StructField("t_stat", DoubleType, nullable = true),
      StructField("r2", DoubleType, nullable = true),
      StructField("n", LongType, nullable = false),
      StructField("df_resid", LongType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1), schema)
  }

  /** Top contributors from a [[streamKeySums]] directory: the k largest
    * totals (exact decimals, ties to the smaller key), each with its
    * share of the grand total — TakeOrderedAndProject over the
    * key-domain-sized state, so the leaderboard read costs nothing like
    * history. Must equal the batch top-k on the union of all batches
    * exactly. */
  def readTopContributors(spark: SparkSession, dir: String, k: Int)
      : DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) =
      c.cast("string").cast("double")
    val state = currentSegState(spark, dir, "", KeySumSums, "key-sum")
      .transform(CheckpointOps(_, eager = false)) // top-k + the grand total
    val total = state.agg(sum(col("__s")).cast("decimal(28,0)")
      .as("__tot"))
    state
      .orderBy(col("__s").desc, col("__k"))
      .limit(k)
      .crossJoin(broadcast(total))
      .select(col("__k").as("key"),
        col("__s").cast("decimal(19,0)").as("total"),
        col("__n").as("n"),
        (dbl(col("__s").cast("decimal(19,0)")) / dbl(col("__tot")))
          .as("share"))
      .orderBy(col("total").desc, col("key"))
  }

  /** The current sequence-completeness audit of a [[streamValueCounts]]
    * directory over an integer key — the live CDC completeness lens on
    * the same additive state: missing = span − distinct and
    * duplicates = n − distinct surface a dropped batch / undeduped
    * replay the moment it lands, without rescanning history; equals
    * [[graft.operators.Expectations.sequenceAudit]]'s single-group row
    * on the union of all batches exactly (keys ride the state as
    * doubles — exact for keys < 2⁵³). One row:
    * (n, n_distinct, min_key, max_key, span, missing, duplicates,
    * complete). */
  def readSequenceAudit(spark: SparkSession, dir: String): DataFrame = {
    readValueCounts(spark, dir)
      .agg(sum(col("n")).as("n"),
        count(lit(1)).as("n_distinct"),
        min(col("value")).cast("long").as("min_key"),
        max(col("value")).cast("long").as("max_key"))
      .select(col("n"), col("n_distinct"), col("min_key"), col("max_key"),
        (col("max_key") - col("min_key") + 1L).as("span"),
        (col("max_key") - col("min_key") + 1L - col("n_distinct"))
          .as("missing"),
        (col("n") - col("n_distinct")).as("duplicates"))
      .withColumn("complete",
        col("missing") === 0L && col("duplicates") === 0L)
  }

  /** The current concentration profile of a [[streamValueCounts]]
    * directory — [[readEntropy]]'s sibling lens on the same additive
    * state: HHI = Σc²/N² over exact integer counts (one fixed double
    * expression) plus the single heaviest value's share. A traffic
    * stream collapsing onto one value (stuck sensor, replay attack,
    * fraud burst) spikes here first. One row:
    * (n, n_distinct, hhi, top_share) — equals the batch formula on the
    * union of all batches exactly. */
  def readConcentration(spark: SparkSession, dir: String): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) =
      c.cast("string").cast("double")
    readValueCounts(spark, dir)
      .agg(count(lit(1)).as("n_distinct"),
        sum(col("n")).cast("decimal(19,0)").as("__tot"),
        sum((col("n").cast("decimal(19,0)") * col("n").cast("decimal(19,0)"))
          .cast("decimal(38,0)")).cast("decimal(38,0)").as("__sq"),
        max(col("n")).as("__top"))
      .select(col("__tot").cast("bigint").as("n"), col("n_distinct"),
        (dbl(col("__sq")) / (dbl(col("__tot")) * dbl(col("__tot"))))
          .as("hhi"),
        (col("__top").cast("double") / dbl(col("__tot"))).as("top_share"))
  }

  /** The current Pearson r of a [[streamMoments]] directory, computed
    * with [[graft.operators.Expectations.corrMatrix]]'s exact fixed
    * expression: (col_a, col_b, n, corr). */
  def readCorr(spark: SparkSession, dir: String, xName: String,
      yName: String): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) =
      c.cast("string").cast("double")
    val s = currentSegState(spark, dir, "", MomentSums, "moment")
    val n = col("__n").cast("double")
    val (sx, sy) = (dbl(col("__sx")), dbl(col("__sy")))
    val (sxx, syy, sxy) = (dbl(col("__sxx")), dbl(col("__syy")),
      dbl(col("__sxy")))
    val vx = n * sxx - sx * sx
    val vy = n * syy - sy * sy
    s.select(lit(xName).as("col_a"), lit(yName).as("col_b"),
      col("__n").as("n"),
      when(vx === 0.0 || vy === 0.0, lit(null).cast("double"))
        .otherwise((n * sxy - sx * sy) / sqrt(vx * vy)).as("corr"))
  }

  /** One sub-table of a segment-log state ([[foldSegments]]): `sub`
    * names the sub-directory under each segment ("" = the single-part
    * layout, rows directly at `seg=<id>`); `keys` are the grouping
    * columns (empty = one global row per segment); `sums` are the
    * additive (column, SQL type) pairs — merged with `sum()` and cast
    * back to the declared type so segment schemas stay identical
    * across compaction generations. A part's delta DataFrame carries
    * exactly `keys ++ sums.map(_._1)`. */
  private final case class SegPart(sub: String, keys: Seq[String],
      sums: Seq[(String, String)])

  /** Additive-merge column set per state family (the `sums` of each
    * [[SegPart]]): counts, CDC rollup deltas, decimal moment sums,
    * per-key decimal totals. */
  private val RollupSums = Seq("__dn" -> "bigint",
    "__dv" -> "decimal(28,6)")
  private val MomentSums = Seq("__n" -> "bigint",
    "__sx" -> "decimal(38,6)", "__sy" -> "decimal(38,6)",
    "__sxx" -> "decimal(38,12)", "__syy" -> "decimal(38,12)",
    "__sxy" -> "decimal(38,12)")
  private val KeySumSums = Seq("__s" -> "decimal(28,0)",
    "__n" -> "bigint")

  /** Merge expressions for a [[SegPart]]'s value columns. The spec is
    * `(column, merge)` where merge is `"hll"` (HLL sketch register-max
    * union — commutative/associative like every merge here),
    * `"min <type>"` / `"max <type>"` (extremum monoids — per-key
    * first/last/extremum states), or a bare SQL type (additive sum,
    * cast back so segment schemas stay identical across
    * generations). */
  private def sumExprs(sums: Seq[(String, String)]): Seq[Column] =
    sums.map {
      case (c, "hll") => hll_union_agg(col(c)).as(c)
      case (c, m) if m.startsWith("min ") =>
        min(col(c)).cast(m.stripPrefix("min ")).as(c)
      case (c, m) if m.startsWith("max ") =>
        max(col(c)).cast(m.stripPrefix("max ")).as(c)
      case (c, t) => sum(col(c)).cast(t).as(c)
    }

  private def segPath(dir: String, id: Long, sub: String): String =
    if (sub.isEmpty) s"$dir/seg=$id" else s"$dir/seg=$id/$sub"

  /** Shared incremental fold for EVERY additive streaming state — an
    * LSM-shaped segment log. Each micro-batch appends ONE delta
    * segment (`dir/seg=<batchId>`: the batch's pre-aggregated
    * additive rows — per [[SegPart]] sub-directories for multi-part
    * states like co-occurrence, which move atomically because the
    * parts share the single manifest) and commits by writing ONE
    * small manifest object (`dir/_manifests/m<batchId>.json`: the
    * list of live segment ids, written AFTER the segment data is
    * complete). Readers resolve state ONLY through the latest
    * manifest and merge the listed segments with the part's sum
    * columns ([[currentSegState]]) — they never list data paths.
    * Per-batch state I/O on the hot path is therefore O(delta):
    * nothing pre-existing is read, rewritten, or renamed. (The r12
    * design hash-bucketed the state and rewrote the touched buckets
    * per batch; for a hash-distributed value domain EVERY batch
    * touches every bucket, so it degraded to a full-state rewrite per
    * batch — the 2–3× lens regression the r12 verdict flagged. The
    * pre-r14 versioned-snapshot states made the same mistake
    * structurally: full-state merge + rewrite every batch, resolved
    * by listing. The segment log writes the delta regardless of how
    * the domain hashes.)
    *
    * Every `compactEvery` appended segments the fold COMPACTS: the
    * merged (prior segments ∪ delta) state writes as ONE new segment
    * and the manifest shrinks to that single id — amortized
    * O(state/compactEvery) per batch, and reads stay at most
    * `compactEvery` segments wide. Object-store semantics: segment
    * data lands at immutable final paths (never renamed into place)
    * and the commit point is a single manifest PUT — atomic on
    * S3-class stores, where directory rename is a non-atomic O(bytes)
    * copy (SCALE.md "commit-protocol semantics by filesystem").
    *
    * Replay-idempotence: a replayed batch resolves the latest
    * manifest with id `< batchId`, overwrites its OWN segment and
    * manifest, and a prior crash's orphaned segment (written, never
    * referenced — the crash preceded the manifest PUT) is simply
    * overwritten. After a successful commit, manifests older than the
    * replay horizon (the immediately prior manifest) and segments
    * referenced by neither surviving manifest are deleted, bounding
    * storage at ~2× live state. Readers racing that GC can retry —
    * this is a monitoring-lens store, not a serving store.
    *
    * `maxStateRows` is the bounded-domain guard: exact value-granular
    * state over an unbounded continuous domain is a misuse at scale
    * (route those to [[streamHistogram]] or the KLL/HLL sketch state,
    * t128/t80). The common-path check is footer-only (Σ segment
    * parquet row counts + delta rows — an UPPER bound on distinct
    * state rows, parquet metadata, no data read); only when that
    * bound is crossed does the fold pay an exact merged count
    * (compacting in the same pass, since the merge is in hand), and
    * it fails BEFORE any write, so a rejected batch publishes
    * nothing. */
  private def foldSegments(parts: Seq[(SegPart, DataFrame)],
      batchId: Long, dir: String, compactEvery: Int,
      maxStateRows: Option[Long]): Unit = {
    require(compactEvery > 0,
      s"compactEvery must be positive, got $compactEvery")
    require(parts.nonEmpty, "foldSegments needs at least one part")
    val spark = parts.head._2.sparkSession
    // each delta is read by its row count and again by its segment
    // write or compaction merge; the per-part counts and writes are
    // independent micro-jobs over small state, so they run concurrently
    val deltas = parts.map { case (p, df) =>
      p -> CheckpointOps(df, eager = false) }
    var merged: Option[Seq[DataFrame]] = None
    try {
      val deltaRows = inParallel(deltas)(_._2.count())
      if (deltaRows.sum == 0L) return // empty delta: state already current
      val prior = latestSegManifest(dir, beforeExclusive = Some(batchId))
      val priorSegs = prior.map(_._2).getOrElse(Seq.empty)
      // footer-only row totals of the prior segments, per part
      // (parquet metadata, no data read)
      lazy val priorFooterRows: Seq[Long] =
        if (priorSegs.isEmpty) deltas.map(_ => 0L)
        else inParallel(deltas) { case (p, _) =>
          spark.read
            .parquet(priorSegs.map(id => segPath(dir, id, p.sub)): _*)
            .count()
        }
      var compact = priorSegs.size + 1 >= compactEvery
      maxStateRows.foreach { bound =>
        if (!compact && priorFooterRows.sum + deltaRows.sum > bound)
          compact = true // upper bound crossed: get the exact count
      }
      if (compact && priorSegs.nonEmpty)
        merged = Some(deltas.map { case (p, d) =>
          CheckpointOps(spark.read
            .parquet(priorSegs.map(id => segPath(dir, id, p.sub)): _*)
            .unionByName(d)
            .groupBy(p.keys.map(col): _*)
            .agg(sumExprs(p.sums).head, sumExprs(p.sums).tail: _*),
            eager = false)
        })
      val outRows: Seq[Long] = maxStateRows match {
        case Some(bound) =>
          val exact = merged.map(inParallel(_)(_.count())).getOrElse(deltaRows)
          if (exact.sum > bound) throw new IllegalStateException(
            s"value-count state under $dir would reach ${exact.sum} " +
            s"distinct rows (> maxStateRows=$bound): the value domain " +
            "is not bounded — use streamHistogram (bounded bins) or " +
            "sketch state (KLL quantiles / HLL distinct) for " +
            "continuous domains instead of exact value counts")
          exact
        case None =>
          if (merged.isDefined) // upper bound
            priorFooterRows.zip(deltaRows).map { case (a, b) => a + b }
          else deltaRows
      }
      inParallel(deltas.zip(outRows).zipWithIndex) {
        case (((p, d), rows), i) =>
          // segment file sizing from the (upper-bound) row count: state
          // rows are ~tens of bytes, target ~4M rows/file, cap fan-out
          val files = math.max(1L, math.min(256L,
            (rows + 3999999L) / 4000000L)).toInt
          merged.map(_(i)).getOrElse(d)
            .repartition(files).write.mode("overwrite")
            .parquet(segPath(dir, batchId, p.sub))
      }
      val newSegs = if (merged.isDefined) Seq(batchId)
        else priorSegs :+ batchId
      writeSegManifest(dir, batchId, newSegs) // the commit point
      gcSegments(dir,
        keepManifests = prior.map(_._1).toSet + batchId,
        keepSegs = priorSegs.toSet ++ newSegs)
    } finally
      CheckpointOps.release(deltas.map(_._2) ++ merged.getOrElse(Nil): _*)
  }

  /** A [[foldSegments]] sink: `parts` maps each micro-batch to its
    * (part → delta) pairs, which fold into the segment log under
    * `dir`. */
  private def segmentSink(stream: DataFrame, dir: String,
      cfg: IngestConfig, compactEvery: Int,
      maxStateRows: Option[Long] = None)(
      parts: DataFrame => Seq[(SegPart, DataFrame)]): DataStreamWriter[Row] =
    batchSink(stream, Some(cfg.trigger), cfg.checkpoint) { (batch, batchId) =>
      foldSegments(parts(batch), batchId, dir, compactEvery, maxStateRows)
    }

  /** The value-count part of a [[foldSegments]] fold: the projected
    * batch aggregated to (keys → count) as a single-part segment — the
    * r13 layout, unchanged on disk. */
  private def countPart(batch: DataFrame,
      keys: Seq[String]): (SegPart, DataFrame) =
    SegPart("", keys, Seq("__n" -> "bigint")) ->
      batch.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))

  /** GC past the replay horizon: keep the prior manifest (a replay of
    * the current batch resolves it) and the one just committed; drop
    * older manifests and any segment neither survivor references —
    * bounding storage at ~2× live state. Readers racing this can
    * retry (monitoring-lens store, not a serving store). */
  private def gcSegments(dir: String, keepManifests: Set[Long],
      keepSegs: Set[Long]): Unit = {
    val mDir = new org.apache.hadoop.fs.Path(s"$dir/_manifests")
    val fs = graft.sources.Fs.of(mDir)
    fs.listStatus(mDir).foreach { st =>
      st.getPath.getName match {
        case CountManifestRe(id) if !keepManifests.contains(id.toLong) =>
          graft.sources.Fs.delete(st.getPath)
        case _ =>
      }
    }
    val root = new org.apache.hadoop.fs.Path(dir)
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("seg=") &&
          !keepSegs.contains(n.stripPrefix("seg=").toLong))
        graft.sources.Fs.delete(st.getPath)
    }
  }

  private val CountManifestRe = "m(\\d+)\\.json".r

  /** Latest committed (manifestId, segmentIds) under `dir`, optionally
    * ignoring manifests at/after `beforeExclusive` (replay reads the
    * pre-batch state). Fails loudly on a pre-segment-log layout (r12
    * bucketed state, pre-r14 versioned snapshots) instead of silently
    * reading nothing. */
  private def latestSegManifest(dir: String,
      beforeExclusive: Option[Long]): Option[(Long, Seq[Long])] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = graft.sources.Fs.of(root)
    val children =
      try fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => return None }
    if (children.exists(_.startsWith("bucket=")))
      throw new IllegalStateException(
        s"$dir holds pre-r13 bucketed value-count state (bucket=*/" +
        "version=*); the segment-log layout cannot resume it — " +
        "recompute the state into a fresh directory")
    if (children.exists(_.startsWith("version=")))
      throw new IllegalStateException(
        s"$dir holds pre-r14 versioned-snapshot streaming state " +
        "(version=*); the segment-log layout cannot resume it — " +
        "recompute the state into a fresh directory")
    if (!children.contains("_manifests")) return None
    val mDir = new org.apache.hadoop.fs.Path(root, "_manifests")
    val ids = fs.listStatus(mDir).toSeq.map(_.getPath.getName).collect {
      case CountManifestRe(id) => id.toLong
    }.filter(id => beforeExclusive.forall(id < _))
    if (ids.isEmpty) None
    else {
      val id = ids.max
      val txt = graft.sources.Fs.readString(
        new org.apache.hadoop.fs.Path(mDir, s"m$id.json"))
      val segs = "\"segments\"\\s*:\\s*\\[([0-9,\\s]*)\\]".r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse(
          throw new IllegalStateException(
            s"malformed count-state manifest $dir/_manifests/m$id.json"))
        .split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
      Some(id -> segs)
    }
  }

  private def writeSegManifest(dir: String, batchId: Long,
      segments: Seq[Long]): Unit = {
    graft.sources.Fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_manifests"))
    graft.sources.Fs.writeString(
      new org.apache.hadoop.fs.Path(s"$dir/_manifests/m$batchId.json"),
      s"""{"batchId":$batchId,"segments":[${segments.mkString(",")}]}""")
  }

  /** The current full state of one part of a segment-log fold
    * directory: the latest manifest's segments merged with the part's
    * sum columns (a single committed segment — post-compaction or the
    * first batch — is already key-unique and skips the merge). Keys
    * are inferred as every column not in `sums`, so readers need not
    * know caller-chosen key names (e.g. the rollup's group column). */
  private def currentSegState(spark: SparkSession, dir: String,
      sub: String, sums: Seq[(String, String)], what: String): DataFrame = {
    val (_, segs) = latestSegManifest(dir, beforeExclusive = None)
      .getOrElse(throw new IllegalStateException(
        s"no committed $what state under $dir"))
    val df = spark.read.parquet(segs.map(id => segPath(dir, id, sub)): _*)
    if (segs.size == 1) df
    else {
      val sumCols = sums.map(_._1).toSet
      val keys = df.columns.filterNot(sumCols).toSeq
      df.groupBy(keys.map(col): _*)
        .agg(sumExprs(sums).head, sumExprs(sums).tail: _*)
    }
  }

  /** [[currentSegState]] for the single-part value-count family. */
  private def currentCountState(spark: SparkSession, dir: String,
      what: String): DataFrame =
    currentSegState(spark, dir, "", Seq("__n" -> "bigint"), what)

  /** Streaming distribution-drift maintenance: micro-batches of a
    * numeric column fold ADDITIVELY into persisted per-value counts
    * (a manifest-committed segment log — see [[foldSegments]] —
    * replay-idempotent, per-batch I/O O(delta), compacted every
    * `compactEvery` batches), so "has the live distribution drifted
    * from the reference?" is answerable at any moment WITHOUT
    * rescanning history. Read the current empirical distribution with
    * [[readValueCounts]] and score it with
    * [[graft.operators.Expectations.ksDrift]] against the frozen
    * reference — the result must equal batch KS on the union of all
    * batches exactly. Per-batch cost: one value-keyed count aggregate
    * + one delta-segment write + one manifest PUT; NULL/NaN excluded
    * (PSI/KS's convention). `maxStateRows` fail-fasts a
    * continuous-domain misuse (see [[foldSegments]]). */
  def streamValueCounts(stream: DataFrame, dir: String,
      valueCol: String, cfg: IngestConfig = IngestConfig(),
      compactEvery: Int = 8, maxStateRows: Option[Long] = None)
      : DataStreamWriter[Row] =
    segmentSink(stream, dir, cfg, compactEvery, maxStateRows) { batch =>
      Seq(countPart(batch
        .select(col(valueCol).cast("double").as("__v"))
        .filter(col("__v").isNotNull && !isnan(col("__v"))), Seq("__v")))
    }

  /** Streaming fixed-bin histogram maintenance — the BOUNDED-domain
    * quantile state for continuous values (the route the
    * `maxStateRows` guard points continuous domains at): values map to
    * `least(greatest(floor((v−lo)/w), 0), bins−1)` with
    * `w = (hi−lo)/bins`, and the bin counts fold additively through
    * the same segment-log state as [[streamValueCounts]] — state is
    * AT MOST `bins` rows by construction, per-batch I/O is
    * delta-proportional, replay is idempotent. Read quantile
    * estimates (bin-resolution, exact cumulative counts) with
    * [[readHistogramQuantiles]]. NULL/NaN excluded; out-of-range
    * values clamp into the edge bins AND are tallied separately (a
    * clamp-tag key column `__c` ∈ {-1, 0, 1} rides the state, ≤
    * bins+2 rows total), so a mis-guessed [lo, hi) is VISIBLE through
    * [[readHistogramClamps]] instead of silently piling mass into the
    * edge bins. Fit the range from a seed sample with
    * [[fitHistogramRange]]. */
  def streamHistogram(stream: DataFrame, dir: String, valueCol: String,
      lo: Double, hi: Double, bins: Int,
      cfg: IngestConfig = IngestConfig())
      : DataStreamWriter[Row] = {
    require(bins >= 1 && bins <= 100000,
      s"bins must be in [1, 100000], got $bins")
    require(hi > lo, s"need hi > lo, got [$lo, $hi]")
    segmentSink(stream, dir, cfg, compactEvery = 8,
        maxStateRows = Some(bins.toLong + 2L)) { batch =>
      val width = (hi - lo) / bins
      val rawBin = floor((col("__raw") - lo) / width)
      Seq(countPart(batch
        .select(col(valueCol).cast("double").as("__raw"))
        .filter(col("__raw").isNotNull && !isnan(col("__raw")))
        .select(
          least(greatest(rawBin, lit(0L)), lit(bins - 1L))
            .cast("double").as("__v"),
          when(rawBin < 0L, lit(-1)).when(rawBin > bins - 1L, lit(1))
            .otherwise(lit(0)).as("__c")), Seq("__v", "__c")))
    }
  }

  /** Fit a [[streamHistogram]] [lo, hi) range from a SEED SAMPLE (one
    * batch-mode aggregate): the central `coverage` mass's
    * percentile-approx bounds, padded by `pad`·spread on each side —
    * the cold-start helper that replaces a guessed range. A degenerate
    * sample (constant column) pads by max(1, |v|·pad) so hi > lo
    * always holds. Out-of-range live values still clamp (and are
    * counted — [[readHistogramClamps]]); this only makes the initial
    * guess principled. */
  def fitHistogramRange(sample: DataFrame, valueCol: String,
      coverage: Double = 0.99, pad: Double = 0.10): (Double, Double) = {
    require(coverage > 0.0 && coverage <= 1.0,
      s"coverage must be in (0, 1], got $coverage")
    require(pad >= 0.0, s"pad must be non-negative, got $pad")
    val tail = (1.0 - coverage) / 2.0
    val v = col(valueCol).cast("double")
    val row = sample.filter(v.isNotNull && !isnan(v))
      .agg(percentile_approx(v,
          array(lit(tail), lit(1.0 - tail)), lit(10000)).as("p"))
      .head
    if (row.isNullAt(0)) throw new IllegalArgumentException(
      s"fitHistogramRange: the seed sample has no non-NULL/NaN " +
      s"'$valueCol' values")
    val ps = row.getSeq[Double](0)
    val (pl, ph) = (ps.head, ps.last)
    val spread = ph - pl
    val padAbs =
      if (spread > 0.0) spread * pad
      else math.max(1.0, math.abs(pl) * math.max(pad, 0.01))
    (pl - padAbs, ph + padAbs)
  }

  /** Clamped-mass counters of a [[streamHistogram]] directory: how
    * many folded values fell below lo / at-or-above hi (they were
    * clamped into the edge bins for the quantile view). Non-zero
    * counts are the misconfigured-range alarm. Returns ONE row
    * (n_below, n_above, n_total). */
  def readHistogramClamps(spark: SparkSession, dir: String): DataFrame =
    currentCountState(spark, dir, "histogram")
      .agg(
        sum(when(col("__c") === -1, col("__n")).otherwise(0L))
          .as("n_below"),
        sum(when(col("__c") === 1, col("__n")).otherwise(0L))
          .as("n_above"),
        sum(col("__n")).as("n_total"))

  /** Quantile estimates over a [[streamHistogram]] directory: for each
    * requested quantile q, the FIRST bin whose cumulative count
    * reaches q·N (the lower-quantile rule at bin resolution), with its
    * [bin_lo, bin_hi) edges and the exact cumulative/total counts.
    * The membership test cross-multiplies exact integers
    * (`cum·10⁶ ≥ round(q·10⁶)·N`) — no per-row division — and the
    * cumulative window runs over the ≤ bins-row state (report-sized
    * by construction). Must equal the batch histogram on the union of
    * all batches exactly. Returns (quantile, bin, bin_lo, bin_hi,
    * cum, n) ordered by quantile. */
  def readHistogramQuantiles(spark: SparkSession, dir: String,
      lo: Double, hi: Double, bins: Int, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0,1], got $qs")
    val d19 = "decimal(19,0)"
    val width = (hi - lo) / bins
    // merge the clamp tags: clamped mass counts in its edge bin here
    // (readHistogramClamps surfaces it separately)
    val counts = currentCountState(spark, dir, "histogram")
      .groupBy(col("__v").cast("long").as("bin"))
      .agg(sum(col("__n")).as("__n"))
    val wCum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cum", sum(col("__n")).over(wCum))
      .crossJoin(broadcast(counts.agg(sum(col("__n")).as("n"))))
    val grid = {
      import spark.implicits._
      qs.map(q => (q, math.floor(q * 1e6 + 0.5).toLong))
        .toDF("quantile", "__qm")
    }
    cum.join(broadcast(grid),
        col("cum").cast(d19) * lit(1000000L).cast(d19) >=
          col("__qm").cast(d19) * col("n").cast(d19))
      .groupBy(col("quantile"))
      .agg(min(col("bin")).as("bin"), max(col("n")).as("n"))
      .join(cum.select(col("bin"), col("cum")), Seq("bin"))
      .select(col("quantile"), col("bin"),
        (lit(lo) + col("bin").cast("double") * width).as("bin_lo"),
        (lit(lo) + (col("bin").cast("double") + 1.0) * width)
          .as("bin_hi"),
        col("cum"), col("n"))
      .orderBy(col("quantile"))
  }

  /** PSI drift lens over a [[streamHistogram]] directory: the live bin
    * distribution scored against a FROZEN reference histogram (any
    * (bin, n) DataFrame — typically the batch histogram of a blessed
    * baseline window) with
    * [[graft.operators.Expectations.populationStability]]'s exact
    * per-bin convention — shares are single divisions of exact
    * counts, `psi_part = (cur−ref)·ln(cur/ref)` is a fixed double
    * expression per bin (emitted per bin, never double-summed —
    * cross-bin double sums are order-dependent), NULL where either
    * side is empty. Bins absent on one side count 0. The join and the
    * share windows run over ≤ bins rows — report-sized. Must equal
    * the batch PSI of the union of all batches exactly. Returns
    * (bin, ref_n, cur_n, ref_share, cur_share, psi_part). */
  def readHistogramPsi(spark: SparkSession, dir: String,
      refCounts: DataFrame): DataFrame = {
    val cur = currentCountState(spark, dir, "histogram")
      .groupBy(col("__v").cast("long").as("bin")) // merge clamp tags
      .agg(sum(col("__n")).as("cur_n"))
    val Array(bc, nc) = refCounts.columns.take(2)
    val ref = refCounts.select(col(bc).cast("long").as("bin"),
      col(nc).cast("long").as("ref_n"))
    val wAll = Window.partitionBy()
    ref.join(cur, Seq("bin"), "full_outer")
      .na.fill(0L, Seq("ref_n", "cur_n"))
      .withColumn("ref_share", col("ref_n").cast("double") /
        sum(col("ref_n")).over(wAll).cast("double"))
      .withColumn("cur_share", col("cur_n").cast("double") /
        sum(col("cur_n")).over(wAll).cast("double"))
      .withColumn("psi_part",
        when(col("ref_n") > 0 && col("cur_n") > 0,
          (col("cur_share") - col("ref_share")) *
            log(col("cur_share") / col("ref_share"))))
      .orderBy(col("bin"))
  }

  /** Jensen–Shannon drift lens over a [[streamHistogram]] directory —
    * the bounded symmetric companion of [[readHistogramPsi]]: PSI's
    * per-bin part is undefined (NULL) wherever a bin is one-sided,
    * and its magnitude is unbounded; JSD is finite everywhere and the
    * total is capped at ln 2, which makes it the alarm-threshold-
    * friendly lens when new bins appear or old ones empty out. House
    * per-bin convention: shares are single divisions of exact counts,
    * each bin emits `jsd_part = (p·ln(p/m) + q·ln(q/m))/2` with
    * `m = (p+q)/2` as one fixed double expression (a one-sided bin's
    * missing side contributes exactly 0), parts are emitted per bin
    * and never double-summed (cross-bin double sums are
    * order-dependent). Bins absent on one side count 0. Returns
    * (bin, ref_n, cur_n, ref_share, cur_share, jsd_part) ordered by
    * bin. */
  def readHistogramJsd(spark: SparkSession, dir: String,
      refCounts: DataFrame): DataFrame = {
    val cur = currentCountState(spark, dir, "histogram")
      .groupBy(col("__v").cast("long").as("bin")) // merge clamp tags
      .agg(sum(col("__n")).as("cur_n"))
    val Array(bc, nc) = refCounts.columns.take(2)
    val ref = refCounts.select(col(bc).cast("long").as("bin"),
      col(nc).cast("long").as("ref_n"))
    val wAll = Window.partitionBy()
    val shares = ref.join(cur, Seq("bin"), "full_outer")
      .na.fill(0L, Seq("ref_n", "cur_n"))
      .withColumn("ref_share", col("ref_n").cast("double") /
        sum(col("ref_n")).over(wAll).cast("double"))
      .withColumn("cur_share", col("cur_n").cast("double") /
        sum(col("cur_n")).over(wAll).cast("double"))
    val m = (col("ref_share") + col("cur_share")) / lit(2.0)
    def side(p: Column): Column =
      when(p > 0.0, p * log(p / m)).otherwise(lit(0.0))
    shares
      .withColumn("jsd_part",
        (side(col("ref_share")) + side(col("cur_share"))) / lit(2.0))
      .orderBy(col("bin"))
  }

  /** Streaming GROUPED value-count maintenance — [[streamValueCounts]]
    * with a group key: micro-batches fold additively into persisted
    * (group, value, n) counts (a manifest-committed segment log — see
    * [[foldSegments]] — replay-idempotent, per-batch I/O
    * O(delta), compacted every `compactEvery` batches), which is
    * sufficient state for ANY exact order-statistic read — median,
    * quantiles, trimmed means — per group at any moment without
    * rescanning history. Read with [[readGroupedMedian]]; the result
    * must equal the batch statistic on the union of all batches
    * exactly. Per-batch cost: one (group, value)-keyed count aggregate
    * + one delta-segment write + one manifest PUT; NULL/NaN values
    * excluded (the order-statistic convention). `maxStateRows`
    * fail-fasts a continuous-domain misuse (see
    * [[foldSegments]]). */
  def streamGroupedValueCounts(stream: DataFrame, dir: String,
      keyCol: String, valueCol: String, cfg: IngestConfig = IngestConfig(),
      compactEvery: Int = 8, maxStateRows: Option[Long] = None)
      : DataStreamWriter[Row] =
    segmentSink(stream, dir, cfg, compactEvery, maxStateRows) { batch =>
      Seq(countPart(batch
        .select(col(keyCol).cast("string").as("__g"),
          col(valueCol).cast("double").as("__v"))
        .filter(col("__g").isNotNull &&
          col("__v").isNotNull && !isnan(col("__v"))), Seq("__g", "__v")))
    }

  /** Exact per-group median read over a [[streamGroupedValueCounts]]
    * directory: the LOWER weighted median (first value whose doubled
    * cumulative count reaches the group total — q250's selection rule
    * with the maintained counts as weights). All selection arithmetic
    * is exact 64-bit integers over the counts table; the reported
    * median is a VALUE from the data, bit-exact. Never re-expands
    * counts to rows, so a hot value with a billion occurrences costs
    * one row. Returns (group, n, median). */
  def readGroupedMedian(spark: SparkSession, dir: String): DataFrame = {
    val counts = currentCountState(spark, dir, "grouped value-count")
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("__g"))
    val wPick = Window.partitionBy(col("__g")).orderBy(col("__v"))
    counts
      .withColumn("__cum", sum(col("__n")).over(wCum))
      .withColumn("__tot", sum(col("__n")).over(wAll))
      .filter(col("__cum") + col("__cum") >= col("__tot"))
      .withColumn("__rk", row_number().over(wPick))
      .filter(col("__rk") === 1)
      .select(col("__g").as("group"), col("__tot").as("n"),
        col("__v").as("median"))
  }

  /** Exact per-group QUANTILE read over a [[streamGroupedValueCounts]]
    * directory — [[readGroupedMedian]] generalized to any quantile
    * set: for each requested q, the FIRST value whose cumulative count
    * reaches q·N (the lower-quantile rule, integer cross-multiplied —
    * `cum·10⁶ ≥ round(q·10⁶)·N` — so no division meets a row; q = 0.5
    * reproduces the median exactly). The reported quantile is a VALUE
    * from the data, bit-exact, and a hot value with a billion
    * occurrences still costs one state row. The window runs over the
    * (group, value) count table; the quantile grid (≤ a handful of
    * rows) broadcasts. Returns (group, quantile, n, value) ordered by
    * (group, quantile). */
  def readGroupedQuantiles(spark: SparkSession, dir: String,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0,1], got $qs")
    val d19 = "decimal(19,0)"
    val counts = currentCountState(spark, dir, "grouped value-count")
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("__g"))
    val grid = {
      import spark.implicits._
      qs.map(q => (q, math.floor(q * 1e6 + 0.5).toLong))
        .toDF("quantile", "__qm")
    }
    val cum = counts
      .withColumn("__cum", sum(col("__n")).over(wCum))
      .withColumn("__tot", sum(col("__n")).over(wAll))
    cum.join(broadcast(grid),
        col("__cum").cast(d19) * lit(1000000L).cast(d19) >=
          col("__qm").cast(d19) * col("__tot").cast(d19))
      .groupBy(col("__g"), col("quantile"))
      .agg(min(col("__v")).as("value"), max(col("__tot")).as("n"))
      .select(col("__g").as("group"), col("quantile"), col("n"),
        col("value"))
      .orderBy(col("group"), col("quantile"))
  }

  /** Tukey boxplot fences per group over a
    * [[streamGroupedValueCounts]] directory — the streaming form of
    * [[graft.operators.Expectations.tukeyFences]]: exact quartiles
    * SELECTED from the maintained count table (the q228 rank rule —
    * smallest value whose cumulative count reaches ⌈q·n⌉), fences at
    * `k·IQR`, and the outlier counts as conditional SUMS over the same
    * state (a hot value with 10⁹ occurrences is one state row). The
    * live outlier monitor without rescanning history; equals the batch
    * fences on the union of all batches exactly. Returns one row per
    * group: (group, n, p25, p50, p75, lo_fence, hi_fence, n_low,
    * n_high). */
  def readTukeyFences(spark: SparkSession, dir: String,
      k: Double = 1.5): DataFrame = {
    require(k > 0, s"fence multiplier k must be > 0, got $k")
    val q = readGroupedQuantiles(spark, dir, Seq(0.25, 0.5, 0.75))
      .groupBy(col("group"))
      .agg(max(col("n")).as("n"),
        max(when(col("quantile") === 0.25, col("value"))).as("p25"),
        max(when(col("quantile") === 0.5, col("value"))).as("p50"),
        max(when(col("quantile") === 0.75, col("value"))).as("p75"))
      .withColumn("lo_fence",
        col("p25") - lit(k) * (col("p75") - col("p25")))
      .withColumn("hi_fence",
        col("p75") + lit(k) * (col("p75") - col("p25")))
    val counts = currentCountState(spark, dir, "grouped value-count")
    counts.join(broadcast(q), counts("__g") === q("group"))
      .groupBy(col("group"))
      .agg(max(col("n")).as("n"),
        max(col("p25")).as("p25"), max(col("p50")).as("p50"),
        max(col("p75")).as("p75"),
        max(col("lo_fence")).as("lo_fence"),
        max(col("hi_fence")).as("hi_fence"),
        sum(when(col("__v") < col("lo_fence"), col("__n"))
          .otherwise(0L)).as("n_low"),
        sum(when(col("__v") > col("hi_fence"), col("__n"))
          .otherwise(0L)).as("n_high"))
      .orderBy(col("group"))
  }

  /** Split-conformal threshold per group over a
    * [[streamGroupedValueCounts]] directory of NONCONFORMITY scores —
    * the streaming maintenance of
    * [[graft.operators.Classifier.conformalThreshold]]'s calibration
    * side: the threshold is the exact ⌈(n+1)(1−α)⌉-th smallest
    * maintained score, selected from the count table (smallest value
    * whose cumulative count reaches the rank), current after every
    * micro-batch so the SERVING side always applies a guarantee
    * computed on everything calibrated so far. NULL threshold when the
    * finite calibration stream cannot certify 1−α (rank > n) — no
    * silent clamp, matching the batch operator. Returns one row per
    * group: (group, n, rank, threshold). */
  def readConformalThreshold(spark: SparkSession, dir: String,
      alpha: Double = 0.1): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0,
      s"alpha must be in (0,1), got $alpha")
    val counts = currentCountState(spark, dir, "grouped value-count")
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("__g"))
    val cum = counts
      .withColumn("__cum", sum(col("__n")).over(wCum))
      .withColumn("__tot", sum(col("__n")).over(wAll))
    def rankOf(n: Column): Column =
      ceil((n.cast("double") + 1.0) * lit(1.0 - alpha)).cast("long")
    val sel = cum
      .filter(col("__cum") >= rankOf(col("__tot")) &&
        rankOf(col("__tot")) <= col("__tot"))
      .groupBy(col("__g"))
      .agg(min(col("__v")).as("threshold"))
    cum.groupBy(col("__g")).agg(max(col("__tot")).as("n"))
      .join(sel, Seq("__g"), "left")
      .select(col("__g").as("group"), col("n"), rankOf(col("n")).as("rank"),
        col("threshold"))
      .orderBy(col("group"))
  }

  /** Benford first-digit profile per group over a
    * [[streamGroupedValueCounts]] directory whose maintained VALUE is a
    * leading digit (1–9): the streaming form of
    * [[graft.operators.Expectations.benford]] — counts fold additively
    * per batch, and this read scores the CURRENT digit distribution
    * against Benford's law (share, expected, χ² part per digit, the
    * full 9-digit grid even for unseen digits) without rescanning
    * history. The fraud/fabrication drift monitor as an IVM lens.
    * Must equal the batch profile on the union of all batches. */
  def readGroupedBenford(spark: SparkSession, dir: String): DataFrame = {
    val state = currentCountState(spark, dir, "grouped value-count")
      .select(col("__g"), col("__v").cast("long").as("digit"),
        col("__n"))
    val digits = spark.range(1, 10).select(col("id").as("digit"))
    val grid = state.select(col("__g")).distinct().crossJoin(digits)
    val full = grid.join(state, Seq("__g", "digit"), "left")
      .select(col("__g"), col("digit"),
        coalesce(col("__n"), lit(0L)).as("n"))
    val tot = state.groupBy(col("__g")).agg(sum(col("__n")).as("__tot"))
    // the exact expression family of Expectations.benford, per group
    val e = log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
      log(lit(10.0))
    val nD = col("n").cast("double")
    val tD = col("__tot").cast("double")
    full.join(broadcast(tot), Seq("__g"))
      .select(col("__g").as("group"), col("digit"), col("n"),
        (nD / tD).as("share"), e.as("expected"),
        ((nD - tD * e) * (nD - tD * e) / (tD * e)).as("chi2_part"))
  }

  /** Exact per-group distinct-value count over a
    * [[streamGroupedValueCounts]] directory — the streaming
    * COUNT(DISTINCT) lens: state rows ARE the distinct (group, value)
    * pairs, so the read is one group-keyed count plus the total row
    * count, and must equal batch `count(distinct)` on the union of all
    * batches exactly (no sketch, no approximation — the state is
    * already value-granular). Returns (group, n, n_distinct). */
  def readGroupedDistinct(spark: SparkSession, dir: String): DataFrame = {
    currentCountState(spark, dir, "grouped value-count")
      .groupBy(col("__g").as("group"))
      .agg(sum(col("__n")).as("n"), count(lit(1)).as("n_distinct"))
  }

  /** The current per-value counts of a [[streamValueCounts]] directory
    * as (value, n) — feed them to
    * [[graft.operators.Expectations.ksDriftFromCounts]]; never
    * re-expanded to rows (a hot value's multiplicity could be
    * billions). */
  def readValueCounts(spark: SparkSession, dir: String): DataFrame = {
    currentCountState(spark, dir, "value-count")
      .select(col("__v").as("value"), col("__n").as("n"))
  }

  /** The current co-occurrence state of a [[streamCoOccurrence]]
    * directory, scored exactly like the batch operator: pairs at
    * `minSupport`+ baskets with `lift = (n_ab · N)/(n_a · n_b)`. */
  def readCoOccurrence(spark: SparkSession, dir: String,
      minSupport: Long = 2L): DataFrame = {
    val pairs = currentSegState(spark, dir, "pairs",
        Seq("n_baskets" -> "bigint"), "co-occurrence")
      .filter(col("n_baskets") >= minSupport)
    val freq = currentSegState(spark, dir, "freq",
      Seq("ni" -> "bigint"), "co-occurrence")
    val total = currentSegState(spark, dir, "total",
      Seq("n" -> "bigint"), "co-occurrence")
    pairs
      .join(freq.select(col("item").as("item_a"), col("ni").as("__na")),
        Seq("item_a"))
      .join(freq.select(col("item").as("item_b"), col("ni").as("__nb")),
        Seq("item_b"))
      .crossJoin(broadcast(total))
      .select(col("item_a"), col("item_b"), col("n_baskets"),
        round(col("n_baskets").cast("double") * col("n").cast("double") /
          (col("__na").cast("double") * col("__nb").cast("double")), 6)
          .as("lift"))
  }

  /** The current label table of a [[streamComponents]] directory —
    * resolved through the committed manifest (one small-object read),
    * never by listing. */
  def readComponents(spark: SparkSession, dir: String): DataFrame = {
    val (_, segs) = latestSegManifest(dir, beforeExclusive = None)
      .getOrElse(throw new IllegalStateException(
        s"no committed component state under $dir"))
    spark.read.parquet(s"$dir/seg=${segs.head}")
  }

  /** The current state of a [[streamRollup]] segment-log directory:
    * the live segments' additive (Δn, Δsum) deltas merged per group,
    * dead (n ≤ 0) groups pruned, and the exact decimal sum surfaced as
    * the double `sum_v` the batch rollup carries. */
  def readRollup(spark: SparkSession, dir: String): DataFrame = {
    val st = currentSegState(spark, dir, "", RollupSums, "rollup")
    val g = st.columns.filterNot(Set("__dn", "__dv")).head
    st.select(col(g), col("__dn").as("n"),
        col("__dv").cast("double").as("sum_v"))
      .filter(col("n") > 0)
  }

  /** Watermarked stream-stream INNER interval join: left rows pair with
    * right rows sharing `key` whose event time falls in
    * `[leftTs, leftTs + range]`. The time bound plus BOTH watermarks is
    * what makes the state finite — Spark evicts a buffered left row once
    * the right watermark passes `leftTs + range` (no future match can
    * arrive), and symmetrically for right rows; an unconstrained
    * stream-stream join would buffer both streams forever. Inner join in
    * append mode: a pair emits as soon as both rows have arrived, the
    * watermark only governs eviction. Column names that collide across
    * the sides resolve as `l.*` / `r.*`. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, watermark: String,
      range: String): DataFrame = {
    // withWatermark parses its column argument as a multipart identifier,
    // and the join condition must not go through the SQL parser either —
    // backtick-quote for the former, Column API for the latter, so names
    // with dots, hyphens, or spaces resolve; only the interval literal is
    // parsed as SQL text.
    val l = left.withWatermark(quoted(leftTs), watermark).alias("l")
    val r = right.withWatermark(quoted(rightTs), watermark).alias("r")
    val lKey = l.col(quoted(key)); val rKey = r.col(quoted(key))
    val lT = l.col(quoted(leftTs)); val rT = r.col(quoted(rightTs))
    l.join(r, lKey === rKey && rT >= lT && rT <= lT + expr(s"interval $range"))
  }

  /** Streaming ingest NEAR-dup dedup: every micro-batch survives
    * [[graft.operators.Dedup.nearDupIncrement]] against the MinHash index
    * persisted under `indexDir`, then appends BOTH its surviving rows (to
    * `outDir`) and their index rows (to `indexDir`) — so batch N+1 dedups
    * against the base corpus AND all earlier batches' survivors, while the
    * base corpus text is never re-read (it participates only through its
    * index). foreachBatch because the index must feed and accumulate within
    * one query — a stateful streaming join cannot append its own build side.
    *
    * Both writes land in `batch=<id>` subdirectories with overwrite, so a
    * replayed micro-batch (failure between the two writes, restart before
    * the checkpoint commit) REPLACES its own partial output instead of
    * double-appending — the same stage-then-swap idempotency rule the batch
    * writers follow. The index read EXCLUDES the replaying batch's own
    * `batch=<id>` partition: a replay after a crash past the index write
    * must not dedup the batch against its own previous attempt's index
    * rows, which would erase the batch's output. Seed `indexDir` before
    * starting with
    * [[graft.operators.Dedup.minhashIndex]] of the deduplicated base,
    * written to a `batch=seed` subdirectory (the directory must be uniform
    * `batch=` partitions for discovery). At 100 TB the index is
    * `bands·8 + |shingles|·8` bytes/doc — the micro-batch side is small by
    * definition, so AQE broadcasts it and the accumulated index never
    * shuffles. */
  def streamNearDupIngest(stream: DataFrame, indexDir: String,
      outDir: String, checkpointDir: String, idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8, maxBucketSize: Int = 64,
      compactEvery: Int = 16): StreamingQuery = {
    // Survivors land under batch=<id> partitions; a data column named
    // `batch` would collide with the discovered partition column AFTER
    // batches have already been written — fail at wiring time instead.
    require(!stream.columns.contains("batch"),
      "streamNearDupIngest: the stream must not carry a column named " +
        "'batch' — it is reserved for the output/index partition layout")
    batchSink(stream, None, Some(checkpointDir)) { (batch, batchId) =>
      ingestDedupBatch(batch, batchId, indexDir, outDir, idCol, textCol,
        shingleK, numHashes, bands, threshold, maxBucketSize)
      maybeCompactIndex(batch.sparkSession, indexDir, batchId,
        compactEvery)
    }.start()
  }

  /** Auto-compaction cadence for the streaming near-dup index: fold
    * closed partitions every `compactEvery` batches (0/negative =
    * disabled). keepLast = 2 always — the replaying batch's own
    * partition plus its replay horizon must survive the fold
    * ([[compactNearDupIndex]]'s contract); the compaction runs AFTER
    * the batch's own index write, so a crash before the checkpoint
    * commit replays against an index whose rows are identical, merely
    * re-partitioned. */
  private def maybeCompactIndex(spark: SparkSession, indexDir: String,
      batchId: Long, compactEvery: Int): Unit =
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
      compactNearDupIndex(spark, indexDir, keepLast = 2)
      ()
    }

  /** One [[streamNearDupIngest]] micro-batch, exposed for direct replay
    * testing: dedup `batch` against every index partition EXCEPT its own
    * (`batch=<batchId>` may exist from a crashed previous attempt and must
    * not count as "the base"), then overwrite this batch's output and
    * index partitions. Idempotent: running it twice for the same
    * (batch, batchId) yields identical survivors. */
  private[graft] def ingestDedupBatch(batch: DataFrame, batchId: Long,
      indexDir: String, outDir: String, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int, bands: Int,
      threshold: Double, maxBucketSize: Int): Unit = {
    val spark = batch.sparkSession
    // The index read relies on uniform batch=<id> partition discovery; a
    // stray data file or partition-less write under indexDir would corrupt
    // every later micro-batch's schema inference. Fail at batch start with
    // a layout error instead.
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = graft.sources.Fs.of(root)
    val listing = if (fs.exists(root)) fs.listStatus(root).toSeq else Nil
    val stray = listing.filterNot { st =>
      val n = st.getPath.getName
      (st.isDirectory && n.startsWith("batch=")) ||
        n.startsWith("_") || n.startsWith(".")
    }
    require(stray.isEmpty,
      s"streamNearDupIngest: index dir $indexDir must contain only " +
        s"batch=<id> partition directories; found " +
        stray.take(5).map(_.getPath.getName).mkString(", "))
    // cast: partition discovery types `batch` from the dir names (string
    // when a `batch=seed` partition is present, numeric otherwise).
    // basePath pins the partition root so relocated/symlinked reads do not
    // change the discovered columns. An absent/empty dir (unseeded first
    // batch — the cold-start case) is an EMPTY index with the right
    // schema, derived from a zero-row plan, not a read error.
    val index =
      if (listing.exists(_.getPath.getName.startsWith("batch=")))
        spark.read.option("basePath", indexDir).parquet(indexDir)
          .filter(col("batch").cast("string") =!= lit(batchId.toString))
          .select("id", "bands", "sh")
      else
        graft.operators.Dedup.minhashIndex(batch.limit(0), idCol, textCol,
          shingleK, numHashes, bands).select("id", "bands", "sh")
    // The indexed variant carries the survivors' own bands/sh out of
    // the dedup, so the index append reuses the sketches the dedup
    // already computed instead of re-running the shingle+minhash kernels
    // over survivor text (the dominant per-doc compute). The batch needs
    // no checkpoint of its own: the dedup reads it once, into its sketch
    // checkpoint. The eager checkpoint here materializes the
    // (increment-sized) survivors once for the two writes — referencing
    // the live plan twice would re-run the whole dedup pipeline — and is
    // the one query that runs the dedup's index probe and its intra-batch
    // components, whose stages AQE runs concurrently.
    val survivors = graft.operators.Dedup.nearDupIncrementIndexed(
        batch, index, idCol, textCol, shingleK, numHashes, bands,
        threshold, maxBucketSize)
      .transform(CheckpointOps(_, eager = true))
    try inParallel(Seq(
        survivors.drop("bands", "sh") -> s"$outDir/batch=$batchId",
        survivors.select(col(idCol).as("id"), col("bands"), col("sh")) ->
          s"$indexDir/batch=$batchId")) {
      case (df, path) => df.write.mode("overwrite").parquet(path)
    } finally CheckpointOps.release(survivors)
    ()
  }

  /** Compact a [[streamNearDupIngest]] index directory: fold closed
    * `batch=<id>` partitions (and any previous compaction output) into
    * ONE `batch=base-<gen>` partition, keeping the most recent
    * `keepLast` numeric batches untouched — a replaying batch must
    * still be able to exclude its own partition, and the batch before
    * it is the replay horizon. This is the index-partition fan-out
    * maintenance SCALE.md's str103 adjudication names: after B
    * micro-batches the index holds B partition dirs × files each, and
    * every later batch pays the listing + footer overhead; compaction
    * returns that to O(keepLast + 1) partitions with the same rows.
    *
    * Crash-safety without renames: the merged partition is written
    * FIRST at a fresh generation name, the source partitions are
    * deleted after. A crash in between leaves duplicate index rows —
    * which the probe path tolerates by construction (candidate pairs
    * and verified matches are `.distinct()`ed) — and the next
    * compaction's id-keyed dedup on the fold read merges the
    * leftovers away, so the crash window never inflates the base
    * permanently. Returns the number of partitions folded in
    * (0 = nothing to do).
    *
    * [[streamNearDupIngest]] / [[streamCurate]] call this
    * automatically every `compactEvery` batches — production fan-out
    * stays bounded without an operator remembering the maintenance
    * call. */
  def compactNearDupIndex(spark: SparkSession, indexDir: String,
      keepLast: Int = 2): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = graft.sources.Fs.of(root)
    if (!fs.exists(root)) return 0
    val parts = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch="))
    val numeric = parts.filter(_.forall(_.isDigit)).map(_.toLong).sorted
    val keep = numeric.takeRight(keepLast).map(_.toString).toSet
    val fold = parts.filterNot(keep.contains)
    if (fold.size <= 1) return 0
    val gen = parts.filter(_.startsWith("base-"))
      .map(_.stripPrefix("base-").toLong).maxOption.getOrElse(0L) + 1L
    spark.read.option("basePath", indexDir)
      .parquet(fold.map(p => s"$indexDir/batch=$p"): _*)
      .select("id", "bands", "sh")
      // id-keyed dedup: a crash between a previous fold's write and
      // its source deletes leaves the folded rows in BOTH the old
      // generation and its sources — without this they would persist
      // through every later fold and inflate the index forever
      .dropDuplicates("id")
      .write.mode("overwrite").parquet(s"$indexDir/batch=base-$gen")
    fold.foreach(p => graft.sources.Fs.delete(
      new org.apache.hadoop.fs.Path(s"$indexDir/batch=$p")))
    fold.size
  }

  /** Run a streaming DataFrame to completion against the available input
    * (memory sink, complete mode) and return the materialized result —
    * batch-equivalent semantics for tests/verification.
    *
    * `statePartitions` sizes the stateful-operator parallelism (one state
    * store instance per shuffle partition, fixed for the life of the
    * checkpoint): production streams size this to key cardinality / state
    * volume rather than inheriting the batch shuffle width, since every
    * micro-batch pays per-store snapshot+commit IO.
    *
    * NOT concurrency-safe: the shuffle-partition conf is session-global
    * and save/restored around the run, so overlapping calls on one
    * session would race — this is a sequential verification harness, not
    * a serving path (production streams set the conf once at wiring). */
  def runToMemory(spark: SparkSession, agg: DataFrame, name: String,
      statePartitions: Int = 4, outputMode: String = "complete"): DataFrame = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    try {
      val q: StreamingQuery = agg.writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable() finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    spark.table(name)
  }

  /** Knobs for [[streamCurate]] — the per-batch analogue of
    * `TrainingDataPipeline.Config`, restricted to the stages that make
    * sense per micro-batch (rule screens are per-row; the dedup stage is
    * the incremental index check, not a corpus-wide pass). */
  final case class CurateConfig(
      minQuality: Double = 0.7,
      minTokens: Int = 10,
      htmlExtract: Boolean = false,
      redactPii: Boolean = true,
      compressionBand: Option[(Double, Double)] = None,
      classifier: Option[(graft.operators.Classifier.LinearModel, Double)] = None,
      shingleK: Int = 5, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8, maxBucketSize: Int = 64,
      /** Auto-compact the near-dup index every this many batches
        * ([[compactNearDupIndex]]); 0/negative = manual only. */
      compactEvery: Int = 16)

  /** Streaming curation — the ingest-time composition of the batch
    * curation pipeline: each micro-batch runs (optional HTML extraction
    * →) optional PII redaction → per-row quality screens (+ optional
    * compression band and learned-classifier gate) → near-dup dedup
    * against the ACCUMULATED MinHash index → surviving documents append
    * under `outDir/batch=<id>` and the index grows by exactly their
    * signatures ([[streamNearDupIngest]]'s replay-idempotent contract).
    * Rule-rejected rows land under `rejectDir/batch=<id>` with a
    * `reason` column (first failing screen) — the curation DLQ, so
    * nothing silently vanishes. Near-dup losers are intentionally NOT
    * DLQ'd: duplication is a relation to the corpus, not a defect of the
    * row, and the index says it all.
    *
    * All screens are codegen'd per-row expressions, computed once per
    * batch into one eager checkpoint; the rejects write and the dedup
    * both read it and run concurrently. The only shuffles per batch are
    * the capped-bucket dedup exchanges. Replay-idempotent: output, index,
    * and reject partitions are all overwritten per (batch, id). */
  def streamCurate(stream: DataFrame, indexDir: String, outDir: String,
      rejectDir: String, checkpointDir: String,
      idCol: String, textCol: String,
      cfg: CurateConfig = CurateConfig()): StreamingQuery = {
    require(!stream.columns.contains("batch"),
      "streamCurate: the stream must not carry a column named 'batch'")
    import graft.operators.{Classifier, TextAnalysis}
    batchSink(stream, None, Some(checkpointDir)) { (batch, batchId) =>
      val spark = batch.sparkSession
      val extracted =
        if (cfg.htmlExtract)
          batch.withColumn(textCol, TextAnalysis.htmlToText(col(textCol)))
        else batch
      val redacted =
        if (cfg.redactPii)
          extracted.withColumn(textCol,
            TextAnalysis.redactPiiExtended(col(textCol)))
        else extracted
      val scored = redacted
        .withColumn("__q", TextAnalysis.qualityScore(col(textCol)))
        .withColumn("__nt", org.apache.spark.sql.graft.NativeFunctions
          .tokenCount(col(textCol)).cast("long"))
      val withReason = {
        val comp = cfg.compressionBand.map { case (lo, hi) =>
          when(!TextAnalysis.compressionKeep(col(textCol), lo, hi),
            lit("compression"))
        }
        val cls = cfg.classifier.map { case (model, thr) =>
          when(Classifier.scoreExpr(col(textCol), model) < thr,
            lit("classifier"))
        }
        val reasons = Seq(
          Some(when(col("__nt") < cfg.minTokens, lit("tokens"))),
          Some(when(col("__q") < cfg.minQuality, lit("quality"))),
          comp, cls).flatten
        scored.withColumn("__reason", coalesce(
          (reasons :+ lit(null).cast("string")): _*))
      }
      // The screens run once: both sides below read this checkpoint, so
      // the source is scanned once and the two run concurrently.
      val screened = CheckpointOps(withReason, eager = true)
      val rejects = screened.filter(col("__reason").isNotNull)
        .withColumnRenamed("__reason", "reason")
        .drop("__q", "__nt")
      val kept = screened.filter(col("__reason").isNull)
        .drop("__reason", "__q", "__nt")
      try inParallel(Seq[() => Unit](
          () => rejects.write.mode("overwrite")
            .parquet(s"$rejectDir/batch=$batchId"),
          () => ingestDedupBatch(kept, batchId, indexDir, outDir, idCol,
            textCol, cfg.shingleK, cfg.numHashes, cfg.bands, cfg.threshold,
            cfg.maxBucketSize)))(_())
      finally CheckpointOps.release(screened)
      maybeCompactIndex(spark, indexDir, batchId, cfg.compactEvery)
    }.start()
  }
}
