package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.util.regex.Pattern

import org.apache.hadoop.fs.{FileStatus, Path}

/** A numbered log of records in one directory: record `n` lives at
  * `dir/<prefix><n><suffix>`, the highest id is the committed state, and
  * a commit claims the next id. It is the one optimistic commit graft
  * uses wherever a numbered file is claimed: table statistics
  * generations, offset marks, manifest pointers and manifest generation
  * claims.
  *
  * [[commit]] writes its body to a hidden, uniquely named tmp file in
  * `dir`. Then, under one JVM-wide lock, it checks that the latest id is
  * still the one the caller read and renames the tmp onto the next id
  * with `FileSystem.rename`, which refuses an existing destination on
  * HDFS (the `Rename.NONE` contract, atomically). So:
  *  - a reader sees no record or a whole one, never a half-written one
  *    (a rename is atomic on HDFS and on POSIX);
  *  - of the writers in one JVM that read the same latest id, exactly
  *    one wins, and none can claim below the latest id, not even after
  *    pruning or vacuum removed the id it read;
  *  - across processes the no-overwrite rename is the arbiter on HDFS.
  *    The local FS's rename overwrites, so two processes racing one id
  *    there are not excluded. `FileContext`'s `Rename.NONE` would not
  *    exclude them either: on the local FS it only checks the
  *    destination before the same rename, and each of its status probes
  *    forks a `readlink` process (on a 4-core VM, a 53 KB tmp write plus
  *    that rename took 61 ms, against 32 ms with `FileSystem.rename`).
  * On an object store with no rename, this commit is the one place where
  * a conditional PUT (`If-None-Match: *` on the target) would replace the
  * tmp write and the rename.
  *
  * @param suffix may descend into the id's own directory (`g=` +
  *   `/_claim`); the ids are then listed by that directory's name
  * @param width ids are zero-padded to this many digits
  * @param first the id an empty log's first commit claims; an empty
  *   log's latest id is `first - 1`
  */
final class GenerationLog(dir: Path, prefix: String, suffix: String = "",
    width: Int = 0, first: Long = 0L) {

  private val Name = (Pattern.quote(prefix) + "(\\d{1,18})" +
    Pattern.quote(suffix.takeWhile(_ != '/'))).r

  /** Where record `id` lives. */
  def path(id: Long): Path = {
    val n = id.toString
    new Path(dir, prefix + "0" * (width - n.length) + n + suffix)
  }

  /** The records on disk with their listing status, ascending by id. */
  def entries: Seq[(Long, FileStatus)] = {
    val listed = try Fs.of(dir).listStatus(dir).toSeq
      catch { case _: FileNotFoundException => Seq.empty }
    listed.flatMap { s =>
      s.getPath.getName match {
        case Name(n) => Some(n.toLong -> s)
        case _ => None
      }
    }.sortBy(_._1)
  }

  def ids: Seq[Long] = entries.map(_._1)

  def latest: Long = ids.lastOption.getOrElse(first - 1)

  /** The latest record as (id, body); None for an empty log. Re-lists,
    * a bounded number of times, when pruning removed the listed record
    * during the read. */
  def read(): Option[(Long, String)] = {
    var attempt = 0
    while (true) {
      ids.lastOption match {
        case None => return None
        case Some(id) =>
          try return Some(id -> Fs.readString(path(id)))
          catch {
            case _: FileNotFoundException if attempt < 3 => attempt += 1
          }
      }
    }
    None // unreachable
  }

  /** Commit `body` as record `expected + 1` iff `expected` is still the
    * latest id. Returns false, with nothing committed, when another
    * writer claimed first; the caller re-reads and decides again. */
  def commit(expected: Long, body: String): Boolean = {
    val tmp = new Path(dir, s".$prefix${java.util.UUID.randomUUID()}.tmp")
    Fs.writeString(tmp, body)
    val target = path(expected + 1)
    val won = GenerationLog.claimLock.synchronized {
      latest == expected && {
        if (suffix.contains('/')) Fs.mkdirs(target.getParent)
        try Fs.rename(tmp, target)
        catch { case _: IOException => false }
      }
    }
    if (!won) Fs.delete(tmp)
    won
  }

  /** Delete every record below id `below`. */
  def prune(below: Long): Unit =
    entries.takeWhile(_._1 < below).foreach(e => Fs.deleteRetried(e._2.getPath))
}

object GenerationLog {
  /** Serializes every claim in the JVM; global because two logs may name
    * one directory. */
  private val claimLock = new Object
}
