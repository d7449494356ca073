package graft.sources

import org.apache.hadoop.fs.Path

/** Durable last-value checkpoints for incremental loads — the state behind
  * Sqoop's `--incremental append/lastmodified` saved last-value
  * (`odps-sqoop/src/java/org/apache/sqoop/SqoopOptions.java:322-329`) and
  * the Flume/OGG offset persistence (`Configure.java:51-52`,
  * `HandlerInfoManager.java`). One tiny file per (job, key); commits use a
  * backup-chain of plain atomic renames (see [[save]]) so a crashed driver
  * never leaves a torn or lost checkpoint on ANY Hadoop filesystem — the
  * worst case after a crash is re-running from the previous mark
  * (at-least-once). All IO goes through the Hadoop `FileSystem` API, so an
  * incremental job can checkpoint to the cluster's durable store (HDFS,
  * S3A, file://) — not just the driver's local disk.
  */
final class OffsetMarks(dir: String) {
  private val root = new Path(dir)
  Fs.mkdirs(root)

  private def file(job: String): Path = new Path(root, s"$job.ckpt")
  private def bak(job: String): Path = new Path(root, s".$job.ckpt.bak")

  def load(job: String): Option[String] = {
    val f = file(job)
    if (Fs.exists(f)) Some(Fs.readString(f))
    // a crash between the backup and commit renames of save() leaves the
    // previous committed value at .bak — fall back to it (the incremental
    // job re-runs from the OLD mark: at-least-once, never data loss)
    else if (Fs.exists(bak(job))) Some(Fs.readString(bak(job)))
    else None
  }

  /** Commit protocol using only plain (non-overwriting) renames, which are
    * atomic on HDFS AND the local filesystem — overwrite-renames degrade
    * to delete-then-rename on local/object stores, which would lose the
    * previous checkpoint if the driver died in between. Sequence:
    * write tmp → rename ckpt→bak → rename tmp→ckpt → delete bak. Every
    * crash window leaves either the old value (at ckpt or bak) or the new
    * value (at ckpt) readable via [[load]]. */
  def save(job: String, value: String): Unit = {
    // retried forms throughout — this IS a commit path, and one transient
    // store IOException must not abort the whole incremental cycle
    val tmp = new Path(root, s".$job.ckpt.tmp")
    val dst = file(job)
    Fs.writeString(tmp, value)
    if (Fs.exists(dst)) {
      Fs.deleteRetried(bak(job))
      if (!Fs.renameRetried(dst, bak(job)))
        sys.error(s"checkpoint backup rename failed: $dst")
    }
    if (!Fs.renameRetried(tmp, dst))
      sys.error(s"checkpoint commit rename failed: $tmp -> $dst " +
        s"(previous value preserved at ${bak(job)})")
    Fs.deleteRetried(bak(job))
  }

  /** Run one incremental cycle: read the checkpoint, hand it to `body`
    * (which returns the new high-water mark), persist it. Returns the new
    * mark. The body only commits downstream effects before returning, so a
    * failure re-runs from the old mark (at-least-once, like Sqoop). */
  def advance(job: String, initial: String)(body: String => String): String = {
    val last = load(job).getOrElse(initial)
    val next = body(last)
    save(job, next)
    next
  }

  // ---- compare-and-swap variant (concurrent incremental jobs) ----
  //
  // [[save]] is last-writer-wins: two drivers running the SAME incremental
  // job would silently overwrite each other's mark (a lost update — rows
  // between the two marks re-imported or skipped). The CAS variant gives
  // each committed mark a GENERATION: commit = one no-overwrite rename
  // onto the next generation's file name, so of two racing committers
  // exactly one wins and the loser observably fails.
  //
  // Exclusivity has two layers (the Delta-LogStore split): cross-PROCESS,
  // the store's rename must refuse an existing destination — HDFS does
  // atomically; POSIX rename(2) OVERWRITES, so on the local FS the
  // FileContext existence check is best-effort across processes.
  // Cross-THREAD (many jobs in one driver JVM — the common Spark case),
  // a JVM-wide lock serializes check+rename, closing that window
  // entirely.

  private def genFile(job: String, gen: Long): Path =
    new Path(root, f"$job.ckpt.g$gen%012d")

  private def listGens(job: String): Seq[(Long, Path)] = {
    val prefix = s"$job.ckpt.g"
    if (!Fs.isDir(root)) return Seq.empty
    Fs.of(root).listStatus(root).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(prefix))
      .flatMap { s =>
        val suffix = s.getPath.getName.stripPrefix(prefix)
        scala.util.Try(suffix.toLong).toOption.map(_ -> s.getPath)
      }
  }

  /** Latest committed (value, generation); (None, 0) before any commit.
    * Retries the read if pruning removed the listed generation underneath
    * a concurrent committer. */
  def loadCas(job: String): (Option[String], Long) = {
    var attempt = 0
    while (true) {
      val gens = listGens(job)
      if (gens.isEmpty) return (None, 0L)
      val (g, p) = gens.maxBy(_._1)
      try return (Some(Fs.readString(p)), g)
      catch {
        case _: java.io.FileNotFoundException if attempt < 3 => attempt += 1
      }
    }
    sys.error("unreachable")
  }

  /** Commit `value` as generation `expectedGen + 1` iff `expectedGen` is
    * still the latest. Returns false (committing nothing) when another
    * committer advanced first — the caller re-loads and re-runs from the
    * winner's mark. Old generations beyond the previous one are pruned on
    * the winner's side. */
  def saveCas(job: String, expectedGen: Long, value: String): Boolean = {
    val tmp = new Path(root,
      s".$job.cas.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    Fs.writeString(tmp, value)
    val next = genFile(job, expectedGen + 1)
    val won = OffsetMarks.casLock.synchronized {
      listGens(job).map(_._1).maxOption.getOrElse(0L) == expectedGen && {
        // FileContext + Rename.NONE refuses an existing destination
        // (atomically on HDFS; checked on the local FS, race-free here
        // because same-process committers hold casLock)
        try {
          org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, Fs.conf())
            .rename(tmp, next, org.apache.hadoop.fs.Options.Rename.NONE)
          true
        } catch { case _: java.io.IOException => false }
      }
    }
    if (!won) Fs.delete(tmp)
    else listGens(job).filter(_._1 < expectedGen).foreach(g => Fs.delete(g._2))
    won
  }

  /** [[advance]] under CAS: on a lost race the cycle RE-RUNS from the
    * winner's mark (the body must be idempotent per mark, same
    * at-least-once contract as [[advance]]), up to `maxAttempts` times. */
  def advanceCas(job: String, initial: String, maxAttempts: Int = 5)(
      body: String => String): String = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val (cur, gen) = loadCas(job)
      val next = body(cur.getOrElse(initial))
      if (saveCas(job, gen, next)) return next
      attempt += 1
    }
    sys.error(s"checkpoint CAS for '$job' lost $maxAttempts races — " +
      "contention too high or a committer is livelocked")
  }
}

object OffsetMarks {
  /** Serializes same-JVM CAS commits (see the cross-thread layer above);
    * global because two `OffsetMarks` instances may point at one dir. */
  private[sources] val casLock = new Object
}
