package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD

/** The one materialization policy: every lineage truncation in graft
  * goes through this module, and one session conf decides how durable
  * the result is.
  *
  * With [[ConfKey]] unset, every checkpoint is a `localCheckpoint` —
  * executor-local blocks, no extra I/O, but NON-REPLICATED executor
  * state: on a cluster, losing one executor kills the job with no
  * lineage left to recompute from. Setting
  *
  *   spark.conf.set(CheckpointOps.ConfKey, "hdfs://.../graft-ckpt")
  *
  * switches EVERY checkpoint — iterative loops and single-pass
  * truncations alike — to a reliable `checkpoint` on that directory,
  * so a long job survives executor loss. A reliable checkpoint is
  * always eager, whatever the site asks for: a lazy one would run its
  * input once for its first consumer and again for the write, and an
  * input such as range-partition bucket ids can differ between the two
  * runs, so consumers would disagree. The cost, paid at every site: one
  * job at the call that writes the rows to durable storage, and every
  * consumer reading them back from there; at a site that is lazy under
  * `localCheckpoint`, the input is computed in that write job instead of
  * inside its first consumer. */
object CheckpointOps {
  /** Session conf naming the reliable-checkpoint directory. */
  val ConfKey = "spark.graft.checkpointDir"

  /** Checkpoint `df`: reliable and eager on the [[ConfKey]] directory
    * when it is set, `localCheckpoint(eager)` otherwise. */
  def apply(df: DataFrame, eager: Boolean): DataFrame =
    df.sparkSession.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir mints a fresh UUID subdir per call; only
        // (re)set when the current dir is not already under ours
        if (!sc.getCheckpointDir.exists(_.contains(
            dir.stripPrefix("file:")))) {
          sc.setCheckpointDir(dir)
        }
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager)
    }

  /** Eager checkpoint whose blocks are guaranteed at least the
    * session's default parallelism when the materialized layout came
    * out narrower: under AQE an upstream join/aggregate often
    * materializes COALESCED (1–4 partitions at bench scale), and every
    * subsequent scan of the checkpoint — a Newton pass per iteration,
    * an epoch, a Gram aggregate — then runs nearly single-threaded on
    * one core. Real-cluster inputs already carry ≥ parallelism
    * partitions, so there this is a zero-cost identity; when the
    * layout IS degenerate, one narrow round-robin shuffle of the
    * already-materialized blocks buys full parallelism for every later
    * scan. Only safe-by-construction consumers use it (exact
    * decimal/long aggregates — partitioning cannot change their
    * results). */
  def spread(df: DataFrame): DataFrame = {
    val ck0 = apply(df, eager = true)
    val target = df.sparkSession.sparkContext.defaultParallelism
    val lr0 = logicalRdd(ck0)
    val parts = lr0.map(_.rdd.getNumPartitions).getOrElse(target)
    if (parts >= target) ck0
    else {
      val out = apply(ck0.repartition(target), eager = true)
      release(ck0)
      out
    }
  }

  /** ~16 MB partitions for narrow iterative state (edge pairs / score
    * tables run tens of bytes per row) — the same order as AQE's
    * advisory partition size, expressed in rows. */
  val DefaultRowsPerPartition = 1L << 20

  /** Eager checkpoint that, in the wide regime, pins and DECLARES a
    * hash layout on `keys`. A plain checkpoint under AQE comes back as a
    * `LogicalRDD` with `UnknownPartitioning`, so EVERY later keyed join
    * or aggregate re-shuffles it — for an iterative graph loop, the edge
    * table crosses the wire once per round though its rows never move.
    *
    *  1. Size the frame: `rowsUpperBound` when the caller holds one
    *     (e.g. last round's count of a shrinking state, which skips a
    *     sizing pass), else one plain eager checkpoint, counted.
    *  2. Width `n = clamp(ceil(rows / DefaultRowsPerPartition), 1,
    *     shuffle.partitions)` — adaptive to DATA size.
    *  3. Below [[wideRegimeFloor]] (always at bench scale), stop with
    *     the plain checkpoint: a declared layout PINS the width of every
    *     downstream keyed join (AQE cannot expand it), and a narrow one
    *     measured 1.13–1.70× slower on the pagerank family than the
    *     plain checkpoint plus an AQE-coalesced exchange per round.
    *  4. Otherwise `repartition(n, keys)` (a user repartition AQE will
    *     not coalesce, so the layout IS `hash(keys) pmod n`), checkpoint,
    *     and rebuild the `LogicalRDD` declaring that `HashPartitioning`,
    *     so `EnsureRequirements` plans keyed joins on `keys` with NO
    *     exchange on this side. Should the checkpoint ever stop
    *     resolving to a bare `LogicalRDD`, the plain one is returned
    *     rather than a mis-declared layout. */
  def keyed(df: DataFrame, keys: Seq[String],
      rowsUpperBound: Option[Long]): DataFrame = {
    require(keys.nonEmpty, "keyed checkpoints need >= 1 key")
    rowsUpperBound match {
      case Some(bound) =>
        val n = layoutWidth(df, bound)
        if (n < wideRegimeFloor(df)) apply(df, eager = true)
        else declared(df, keys, n)
      case None =>
        val ck0 = apply(df, eager = true)
        val n = layoutWidth(ck0, ck0.count())
        if (n < wideRegimeFloor(ck0)) ck0
        else {
          val out = declared(ck0, keys, n)
          release(ck0) // dead weight once the declared copy exists
          out
        }
    }
  }

  /** Free the blocks of checkpoints made here, once their last
    * consumer has run. Only for frames this module returned: a frame
    * that is not a bare checkpoint is left alone. */
  def release(dfs: DataFrame*): Unit =
    dfs.foreach(logicalRdd(_).foreach(_.rdd.unpersist(false)))

  private def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** The width the declared layout would get: the data-derived
    * partition count, capped at the session's shuffle parallelism. */
  def layoutWidth(df: DataFrame, rowsUpperBound: Long): Int =
    math.max(1L, math.min(shufflePartitions(df).toLong,
      (rowsUpperBound + DefaultRowsPerPartition - 1L) /
        DefaultRowsPerPartition)).toInt

  /** The width at which the declared layout starts to pay: the session's
    * parallelism, capped at `spark.sql.shuffle.partitions`. `layoutWidth`
    * caps there too, so an uncapped floor would make the wide regime
    * unreachable on a cluster with more cores than shuffle partitions —
    * exactly the regime the declared layout targets. */
  private def wideRegimeFloor(df: DataFrame): Int =
    math.min(df.sparkSession.sparkContext.defaultParallelism,
      shufflePartitions(df))

  private def logicalRdd(df: DataFrame): Option[LogicalRDD] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => Some(lr)
      case _ => None
    }

  /** `df` hash-partitioned into `n` partitions on `keys`, checkpointed,
    * and rebuilt as a `LogicalRDD` that declares that layout. */
  private def declared(df: DataFrame, keys: Seq[String],
      n: Int): DataFrame = {
    val ck = apply(df.repartition(n, keys.map(df.col): _*), eager = true)
    val spark = Catalogs.classic(df.sparkSession)
    val resolver = spark.sessionState.analyzer.resolver
    logicalRdd(ck) match {
      case Some(lr) =>
        val keyAttrs = keys.flatMap(k =>
          lr.output.find(a => resolver(a.name, k)))
        if (keyAttrs.length != keys.length) ck
        else Catalogs.ofRows(spark,
          new LogicalRDD(lr.output, lr.rdd,
            HashPartitioning(keyAttrs, n), lr.outputOrdering,
            lr.isStreaming, lr.stream)(spark, None, None))
      case None => ck
    }
  }
}
