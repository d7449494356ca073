package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Thin wrapper over the Hadoop `FileSystem` API for every metastore and
  * staging file operation, so catalog state and partition swaps work on any
  * Hadoop-supported store (local file://, HDFS, S3A object stores) — not
  * just `java.nio` local paths. The reference's catalog is service-backed;
  * the Spark-native equivalent of "works on the cluster's storage" is this
  * API (it is what Spark's own `InMemoryCatalog`/`FileStreamSink` use).
  */
object Fs {

  def conf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def of(p: Path): FileSystem = p.getFileSystem(conf())

  def exists(p: Path): Boolean = of(p).exists(p)

  def isDir(p: Path): Boolean = {
    val fs = of(p)
    fs.exists(p) && fs.getFileStatus(p).isDirectory
  }

  def mkdirs(p: Path): Unit = of(p).mkdirs(p)

  /** Recursive delete; false if the path did not exist. */
  def delete(p: Path): Boolean = of(p).delete(p, true)

  /** Directory rename (the Hadoop atomic-commit primitive on HDFS and
    * local FS; object stores degrade to copy — callers staging for
    * atomicity inherit whatever the store's committer guarantees). */
  def rename(src: Path, dst: Path): Boolean = of(src).rename(src, dst)

  def listDirs(p: Path): Seq[Path] =
    of(p).listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)

  def isEmptyDir(p: Path): Boolean = of(p).listStatus(p).isEmpty

  def readString(p: Path): String = {
    val in = of(p).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  def writeString(p: Path, s: String): Unit = {
    val out = of(p).create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Bounded exponential-backoff retry for transient store errors — the
    * reference retries writer ops and scan sessions the same way
    * (`OdpsUtils.scala:288-309`: 3 retries, 3 s·2ⁿ; `OdpsOptions.scala:90-94`).
    * Only `IOException`s are considered transient (an object store's 5xx
    * surfaces as one through the Hadoop FS API); `FileNotFoundException`
    * and everything else is deterministic and rethrown immediately. */
  private[graft] val DefaultRetries = 3
  /** Base backoff; attempt n sleeps base·2ⁿ. Overridable for tests. */
  @volatile private[graft] var retryBaseBackoffMs: Long = 500L

  private[graft] def withRetries[T](what: String)(f: => T): T = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case e: java.io.IOException
            if attempt < DefaultRetries && !e.isInstanceOf[java.io.FileNotFoundException] =>
          Thread.sleep(retryBaseBackoffMs * (1L << attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException(s"unreachable: $what")
  }

  /** [[rename]] with transient-error retries, for commit paths. Rename is
    * not idempotent, so a retry after a lost-ack success would see src
    * missing: that state (src gone, dst present) is reported as success —
    * EXCEPT for `FileNotFoundException` on the FIRST attempt, where the
    * server is telling us it never found src: nothing was renamed, and a
    * pre-existing dst is stale data from an earlier run, not our commit.
    * As in [[withRetries]], FNF is deterministic — after the lost-ack
    * check it is rethrown immediately, not backed off. The exists() probes
    * run on a store that just failed, so their own failures are swallowed
    * (treated as "unknown") rather than escaping the retry loop. */
  def renameRetried(src: Path, dst: Path): Boolean = {
    var attempt = 0
    while (true) {
      try return of(src).rename(src, dst)
      catch {
        case e: java.io.IOException =>
          val fnf = e.isInstanceOf[java.io.FileNotFoundException]
          val srcGone = scala.util.Try(!exists(src)).getOrElse(false)
          val dstThere = scala.util.Try(exists(dst)).getOrElse(false)
          if (!(fnf && attempt == 0) && srcGone && dstThere) return true
          if (attempt >= DefaultRetries || fnf) throw e
          Thread.sleep(retryBaseBackoffMs * (1L << attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[delete]] with transient-error retries, for commit paths. Delete is
    * idempotent: a retry finding the path already gone is success. */
  def deleteRetried(p: Path): Boolean = withRetries(s"delete $p")(of(p).delete(p, true))
}
