package graft.sources

import org.apache.hadoop.fs.Path

/** Durable last-value checkpoints for incremental loads — the state behind
  * Sqoop's `--incremental append/lastmodified` saved last-value
  * (`odps-sqoop/src/java/org/apache/sqoop/SqoopOptions.java:322-329`) and
  * the Flume/OGG offset persistence (`Configure.java:51-52`,
  * `HandlerInfoManager.java`). Each job's marks are a [[GenerationLog]]
  * of tiny files `<job>.ckpt.g<n>` (n zero-padded to 12 digits): the
  * latest generation is the mark, and a commit claims the next one. A
  * crashed driver leaves at most a hidden claim tmp, never a torn or lost
  * mark — the worst case is re-running from the previous mark
  * (at-least-once). Two drivers running the SAME job cannot lose an
  * update: of two commits against one generation exactly one wins, and
  * the loser re-runs from the winner's mark. All IO goes through the
  * Hadoop `FileSystem` API, so an incremental job can checkpoint to the
  * cluster's durable store (HDFS, S3A, file://) — not just the driver's
  * local disk.
  */
final class OffsetMarks(dir: String) {
  private val root = new Path(dir)
  Fs.mkdirs(root)

  private def log(job: String) =
    new GenerationLog(root, s"$job.ckpt.g", width = 12, first = 1L)

  def load(job: String): Option[String] = loadCas(job)._1

  /** Latest committed (value, generation); (None, 0) before any commit. */
  def loadCas(job: String): (Option[String], Long) =
    log(job).read().fold((Option.empty[String], 0L)) { case (g, v) => (Some(v), g) }

  /** Commit `value` as generation `expectedGen + 1` iff `expectedGen` is
    * still the latest. Returns false (committing nothing) when another
    * committer advanced first — the caller re-loads and re-runs from the
    * winner's mark. Generations below `expectedGen` are pruned on the
    * winner's side (the previous one stays readable for in-flight
    * readers). */
  def saveCas(job: String, expectedGen: Long, value: String): Boolean = {
    val l = log(job)
    val won = l.commit(expectedGen, value)
    if (won) l.prune(expectedGen)
    won
  }

  /** Run one incremental cycle: read the mark, hand it to `body` (which
    * returns the new high-water mark), commit it. Returns the new mark.
    * The body only commits downstream effects before returning, so a
    * failure re-runs from the old mark (at-least-once, like Sqoop). On a
    * lost commit race the cycle RE-RUNS from the winner's mark (the body
    * must be idempotent per mark), up to `maxAttempts` times. */
  def advance(job: String, initial: String, maxAttempts: Int = 5)(
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
