package graft.sources

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Object-store-atomic commit mode for the batch write path — the
  * manifest-pointer shape the SCALE.md commit matrix prescribes where
  * directory rename degrades to copy (S3-class stores): data files land
  * ONCE at an immutable generation path and are never renamed; the
  * COMMIT is one small-object PUT of a pointer file holding the full
  * partition→generation map; readers resolve ONLY through the latest
  * pointer, never by listing data paths. The same protocol family as
  * the streaming LSM segment log (`MicroBatch.foldSegments`) and the
  * `OffsetMarks` generation marks, applied to table writes — and the
  * plain-parquet expression of what table formats' commit logs do.
  *
  * Layout under the table root:
  *  - `_gen/g=<n>/<col=value dirs>/part-*.parquet` — immutable data
  *    generations (Spark writes into a FRESH `g=<n>` dir, so its own
  *    task-commit renames never touch published data);
  *  - `_pointer/p<n>.txt` — the commit points, highest `n` wins. The
  *    header line `graft-pointer v2`, then per live partition (sorted):
  *    one partition line `partitionRelPath TAB gen TAB gen...`, followed
  *    by one file line `TAB gen TAB name TAB length TAB mtime` per data
  *    file of each of its (partition, generation) pairs — the files
  *    Spark's own listing of `_gen/g=<gen>/<partitionRelPath>` returned
  *    when that generation was committed (name relative to the leaf
  *    dir, bytes, modification millis). A partition line never starts
  *    with a tab, a file line always does; tabs cannot appear in
  *    partition dirs (Spark's path escaping percent-encodes control
  *    characters) nor in Spark's part-file names.
  *
  * The file lines make the pointer the file manifest: a catalog scan
  * ([[graft.catalog.GraftManifestTable]]) plans from them with no
  * listing. Every commit carries the file lines of unchanged pairs
  * forward verbatim. A `graft-pointer v1` body has partition lines only;
  * its pairs, and a v1 pair carried forward into a v2 pointer, have no
  * file lines, and readers list those leaves themselves — an old table
  * reads as before, and each commit records files for the pairs it
  * writes.
  *
  * Semantics vs [[PartitionedWrite.writePartitioned]]: identical
  * dynamic-partition behavior (overwrite replaces a partition's
  * generation list, append adds to it; `truncateSpec` drops all /
  * a subtree of existing partitions first) — but the swap-window
  * non-atomicity across partitions is GONE: one PUT publishes every
  * touched partition simultaneously, and a crash before the PUT leaves
  * only an unreferenced generation ([[vacuum]] reclaims it). Reference
  * semantics anchor: the staged-session atomic commit of
  * `OdpsBatchWrite.scala:42-95`, strengthened from per-partition to
  * whole-write atomicity.
  *
  * Concurrency contract: optimistic, CAS-style. Both `_gen` and
  * `_pointer` are [[GenerationLog]]s, so every claim is a hidden tmp
  * write plus one no-overwrite rename onto the id above the latest. A
  * writer (1) CLAIMS an exclusive generation `_gen/g=<n>/_claim` — two
  * racers can never write into the same generation dir; (2) lands its
  * data there; (3) commits by claiming the pointer id above the one it
  * resolved. A lost pointer claim (a newer pointer exists, even one
  * whose predecessor [[vacuum]] already deleted) re-resolves the latest
  * pointer and, when the concurrent commit touched NONE of this
  * writer's partitions, REBASES its partition→generation updates onto
  * it and retries (bounded); overlapping writes fail loudly —
  * last-write-wins clobbering is never silent. Readers are lock-free
  * and always see a complete pointer. [[vacuum]] keeps the
  * single-maintenance-owner rule as `Maintenance` (an unreferenced
  * generation may be a live writer's in-flight claim —
  * `minUnreferencedAgeMs` is the grace knob).
  */
object ManifestCommit {

  private val Header = "graft-pointer v2"
  private val HeaderV1 = "graft-pointer v1"

  /** One data file of a (partition, generation) pair as its commit
    * listed it: `name` relative to the partition leaf dir. */
  final case class DataFile(name: String, length: Long,
      modificationTime: Long)

  /** One committed pointer: its partition → generation map, and the data
    * files recorded per (partition, generation) pair. A pair absent from
    * `files` is a v1 line (see the layout above); its leaf must be
    * listed. */
  final case class Pointer(id: Long, partitions: Map[String, Seq[Long]],
      files: Map[(String, Long), Seq[DataFile]])

  private def genDir(path: String, gen: Long) = s"$path/_gen/g=$gen"

  private def generations(path: String) =
    new GenerationLog(new HPath(s"$path/_gen"), "g=", "/_claim")

  private def pointers(path: String) =
    new GenerationLog(new HPath(s"$path/_pointer"), "p", ".txt")

  /** Test seam: invoked at commit-protocol step boundaries
    * ("generation-written" after data lands, before the pointer CAS)
    * so crash-injection and concurrent-writer tests can interleave.
    * Production no-op. */
  private[graft] var onCommitStep: String => Unit = _ => ()

  /** True when `path` carries at least one committed manifest pointer —
    * the routing predicate [[Maintenance]] uses to send rewrites
    * through the pointer commit instead of rename swaps. */
  def isManifestTable(path: String): Boolean = pointerIds(path).nonEmpty

  /** Claim an exclusive generation id: the one above the latest on
    * disk, through the generation log. The claimed dir is OURS — no
    * concurrent writer can land data in it, so the
    * append-into-stale-debris double-row hazard of id reuse cannot
    * occur. Crash after a claim leaves an unreferenced generation;
    * [[vacuum]] reclaims it. */
  private[graft] def claimGeneration(path: String): Long = {
    val log = generations(path)
    while (true) {
      val last = log.latest
      if (log.commit(last, "")) return last + 1
    }
    -1L // unreachable
  }

  /** The CAS pointer commit: resolve the latest pointer, verify no
    * concurrent commit since `base` touched a partition this write
    * `touches`, apply `update` to the latest map, and claim the next
    * pointer id. The new pointer records the `staged` leaves' files for
    * the fresh generation `gen` and carries every other pair's file
    * lines forward from the latest pointer. A lost claim (another writer committed first)
    * re-resolves and retries up to `maxRetries` times — non-overlapping
    * writers each get a clean re-based commit; overlapping ones fail
    * loudly instead of clobbering. Returns the committed pointer id. */
  private def casCommit(path: String, base: Map[String, Seq[Long]],
      gen: Long, staged: Seq[(String, Seq[DataFile])],
      touches: String => Boolean,
      update: Map[String, Seq[Long]] => Map[String, Seq[Long]],
      maxRetries: Int): Long = {
    val fresh = staged.map { case (rel, files) => (rel, gen) -> files }
    var attempt = 0
    while (true) {
      val latest = latestSnapshot(path)
      val latestMap = latest.map(_.partitions)
        .getOrElse(Map.empty[String, Seq[Long]])
      if (latestMap != base) {
        val changed = (latestMap.keySet ++ base.keySet)
          .filter(rel => latestMap.get(rel) != base.get(rel))
        val overlap = changed.filter(touches)
        if (overlap.nonEmpty) throw new IllegalStateException(
          s"concurrent overlapping write under $path: partition(s) " +
            s"${overlap.toSeq.sorted.take(5).mkString(", ")} changed " +
            "since this write planned against pointer state — refusing " +
            "to clobber; re-run against the current table state")
      }
      val id = latest.map(_.id + 1L).getOrElse(0L)
      val files = latest.map(_.files).getOrElse(Map.empty) ++ fresh
      if (writePointer(path, id, update(latestMap), files)) return id
      attempt += 1
      if (attempt > maxRetries) throw new IllegalStateException(
        s"pointer commit under $path lost $attempt CAS races " +
          s"(maxRetries=$maxRetries) — contention too high for " +
          "optimistic commit; coordinate writers externally")
    }
    -1L // unreachable
  }

  /** All committed pointer ids under `path`, ascending (vacuumed ones
    * are gone — retention bounds how far back time travel reaches). */
  def pointerIds(path: String): Seq[Long] = pointers(path).ids

  /** The one pointer parser: both header versions, the layout's line
    * grammar, and loud failure on anything else. */
  private def parsePointer(path: String, id: Long, body: String): Pointer = {
    val file = pointers(path).path(id)
    val lines = body.split('\n').toSeq.filter(_.nonEmpty)
    val v2 = lines.headOption.contains(Header)
    require(v2 || lines.headOption.contains(HeaderV1),
      s"malformed pointer $file")
    val partitions = Seq.newBuilder[(String, Seq[Long])]
    val files = scala.collection.mutable.Map.empty[(String, Long), Seq[DataFile]]
    var rel: Option[String] = None
    lines.tail.foreach { ln =>
      val f = ln.split('\t')
      if (f.head.nonEmpty) {
        rel = Some(f.head)
        partitions += f.head -> f.toSeq.tail.map(_.toLong)
      } else {
        require(v2 && rel.nonEmpty && f.length == 5,
          s"malformed pointer $file: file line '$ln'")
        val key = (rel.get, f(1).toLong)
        files(key) = files.getOrElse(key, Vector.empty) :+
          DataFile(f(2), f(3).toLong, f(4).toLong)
      }
    }
    Pointer(id, partitions.result().toMap, files.toMap)
  }

  /** Pointer `id` with its file entries; None if that pointer never
    * existed or was vacuumed. */
  def snapshot(path: String, id: Long): Option[Pointer] =
    try Some(readPointer(path, id))
    catch { case _: java.io.FileNotFoundException => None }

  private def readPointer(path: String, id: Long): Pointer =
    parsePointer(path, id, Fs.readString(pointers(path).path(id)))

  /** The latest committed pointer with its file entries; None before
    * the first commit. */
  def latestSnapshot(path: String): Option[Pointer] =
    pointers(path).read().map { case (id, body) => parsePointer(path, id, body) }

  /** The committed (partitionRel → generation list) map of pointer
    * `id`; None if that pointer never existed or was vacuumed. */
  def pointerAt(path: String, id: Long): Option[Map[String, Seq[Long]]] =
    snapshot(path, id).map(_.partitions)

  /** `TIMESTAMP AS OF`: the newest retained pointer whose pointer-file
    * modification time is at or before `millis` — pointer files are
    * written once and never touched, so mtime IS the commit time. None
    * when every retained pointer postdates `millis` (the earlier
    * pointers may also have been vacuumed; either way the snapshot the
    * caller asked for is not retained). */
  def pointerAsOfTime(path: String, millis: Long): Option[Long] =
    pointers(path).entries.collect {
      case (id, st) if st.getModificationTime <= millis => id
    }.maxOption

  /** Latest committed (gen, partitionRel → generation list) under
    * `path`; None before the first commit. */
  def latestPointer(path: String): Option[(Long, Map[String, Seq[Long]])] =
    latestSnapshot(path).map(p => p.id -> p.partitions)

  /** Claim pointer `id` for `map`, with the file lines `files` holds
    * for its pairs (a pair `files` lacks stays a v1 line). False when
    * `id - 1` is no longer the latest pointer: another writer committed
    * first, and nothing was written. */
  private def writePointer(path: String, id: Long,
      map: Map[String, Seq[Long]],
      files: Map[(String, Long), Seq[DataFile]]): Boolean = {
    val body = (Header +: map.toSeq.sortBy(_._1).flatMap { case (rel, gens) =>
      (rel +: gens.map(_.toString)).mkString("\t") +: gens.flatMap { g =>
        files.getOrElse((rel, g), Nil).map(f =>
          s"\t$g\t${f.name}\t${f.length}\t${f.modificationTime}")
      }
    }).mkString("\n")
    pointers(path).commit(id - 1, body)
  }

  /** The data files in one partition leaf dir, as Spark's own file
    * index would list them (hidden `_`/`.` files skipped); empty when
    * the dir does not exist. */
  private def listLeaf(dir: HPath): Seq[DataFile] = {
    val listed = try Fs.of(dir).listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    listed.filter(s => s.isFile &&
        org.apache.spark.sql.graft.Catalogs.listedByFileIndex(s.getPath.getName))
      .map { s =>
        val name = s.getPath.getName
        require(!name.exists(c => c == '\t' || c == '\n'),
          s"data file name '$name' cannot be recorded in a pointer")
        DataFile(name, s.getLen, s.getModificationTime)
      }.sortBy(_.name)
  }

  /** The partition leaves of an (unpublished) generation dir with their
    * data files — the commit's own listing of its output, one
    * `listStatus` per leaf, which is not a reader protocol. */
  private def stagedLeaves(dest: String, depth: Int)
      : Seq[(String, Seq[DataFile])] = {
    def leaves(p: HPath, d: Int): Seq[HPath] =
      if (d == depth) Seq(p)
      else Fs.listDirs(p).filter(_.getName.contains("="))
        .flatMap(leaves(_, d + 1))
    val destQ = Fs.of(new HPath(dest)).makeQualified(new HPath(dest))
    leaves(destQ, 0).map { leaf =>
      leaf.toString.stripPrefix(destQ.toString).stripPrefix("/") ->
        listLeaf(leaf)
    }
  }

  /** [[PartitionedWrite.writePartitioned]] with the manifest-pointer
    * commit: claim an exclusive immutable generation, land the
    * (clustered) data there, then flip the pointer with one small PUT
    * ([[casCommit]] — a non-overlapping concurrent commit is rebased
    * over, an overlapping one refuses). Returns the touched partition
    * rel-paths, like the rename-based writer. */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String] = Nil,
      overwrite: Boolean = true,
      limit: Int = PartitionedWrite.DefaultDynamicPartitionLimit,
      truncateSpec: Option[Seq[(String, String)]] = None,
      preClustered: Boolean = false,
      maxCommitRetries: Int = 5): Seq[String] = {
    require(partitionCols.nonEmpty,
      "manifest commit needs at least one partition column")
    val base = latestPointer(path).map(_._2).getOrElse(Map.empty[String, Seq[Long]])
    val gen = claimGeneration(path)
    val dest = genDir(path, gen)
    (if (preClustered) df
     else PartitionedWrite.clusterForWrite(df, partitionCols, sortCols))
      .write.mode("append")
      .partitionBy(partitionCols: _*)
      .parquet(dest)
    val leaves = stagedLeaves(dest, partitionCols.length)
    val staged = leaves.map(_._1)
    require(staged.size <= limit,
      s"dynamic partition count ${staged.size} exceeds limit $limit " +
        s"(cols=${partitionCols.mkString(",")})")
    onCommitStep("generation-written")
    val truncatePrefix: Option[String] = truncateSpec.map {
      case Nil => ""
      case spec => spec.map { case (c, v) =>
        PartitionedWrite.partSegment(c, v) }.mkString("/")
    }
    def inTruncateScope(rel: String): Boolean = truncatePrefix.exists(p =>
      p.isEmpty || rel == p || rel.startsWith(p + "/"))
    def applyTo(m0: Map[String, Seq[Long]]): Map[String, Seq[Long]] = {
      val m1 = if (truncatePrefix.isEmpty) m0
        else m0.filterNot { case (rel, _) => inTruncateScope(rel) }
      staged.foldLeft(m1) { (m, rel) =>
        if (overwrite) m.updated(rel, Seq(gen))
        else m.updated(rel, m.getOrElse(rel, Seq.empty) :+ gen)
      }
    }
    val stagedSet = staged.toSet
    casCommit(path, base, gen, leaves,
      rel => stagedSet.contains(rel) || inTruncateScope(rel),
      applyTo, maxCommitRetries)
    staged
  }

  /** The current table state: every live (partition, generation) pair
    * of the latest pointer, read with per-generation basePaths so the
    * partition columns materialize exactly as a directory reader would
    * see them. One read per referenced generation — generations stay
    * few because [[compact]] folds them. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val (_, map) = latestPointer(path).getOrElse(
      throw new IllegalStateException(
        s"no committed manifest-pointer state under $path"))
    readMap(spark, path, map)
  }

  private def readMap(spark: SparkSession, path: String,
      map: Map[String, Seq[Long]]): DataFrame = {
    val byGen = map.toSeq
      .flatMap { case (rel, gens) => gens.map(g => g -> rel) }
      .groupBy(_._1)
    require(byGen.nonEmpty, s"pointer under $path lists no partitions")
    byGen.toSeq.sortBy(_._1).map { case (g, rels) =>
      spark.read.option("basePath", genDir(path, g))
        .parquet(rels.map { case (_, rel) => s"${genDir(path, g)}/$rel" }
          .distinct: _*)
    }.reduce(_ unionByName _)
  }

  /** TIME TRAVEL: the table exactly as pointer `pointerId` committed
    * it — immutable generations make every retained pointer a free,
    * consistent snapshot (the plain-parquet form of table-format
    * `VERSION AS OF`). Fails loudly when the pointer was vacuumed or
    * any generation it cites is gone ([[vacuum]]'s `keepPointers` is
    * the time-travel retention knob). */
  def readAt(spark: SparkSession, path: String, pointerId: Long)
      : DataFrame = {
    val map = pointerAt(path, pointerId).getOrElse(
      throw new IllegalStateException(
        s"pointer p$pointerId.txt does not exist under $path/_pointer " +
        "— never committed, or vacuumed past the retention window"))
    val missing = map.values.flatten.toSeq.distinct.sorted
      .filterNot(g => Fs.exists(new HPath(genDir(path, g))))
    require(missing.isEmpty,
      s"pointer p$pointerId cites vacuumed generation(s) " +
      s"${missing.map("g=" + _).mkString(", ")} under $path — raise " +
      "vacuum keepPointers to retain deeper time travel")
    readMap(spark, path, map)
  }

  /** The commit history: one row per retained pointer —
    * (pointer_id, partitions, generations, is_latest), ascending.
    * Pointer-file metadata only; no data is read. */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val ids = pointerIds(path)
    val latest = if (ids.isEmpty) -1L else ids.max
    ids.map { id =>
      val map = readPointer(path, id).partitions
      (id, map.size.toLong,
        map.values.flatten.toSeq.distinct.size.toLong, id == latest)
    }.toDF("pointer_id", "partitions", "generations", "is_latest")
  }

  /** ROLLBACK: re-commit the partition map of retained pointer
    * `toPointerId` as the NEW latest pointer — one small PUT, zero
    * data movement (the cited generations are immutable and still on
    * disk; verified before the claim, so a rollback past the vacuum
    * horizon fails instead of publishing dangling references).
    * Returns the new pointer id. */
  def rollback(path: String, toPointerId: Long): Long = {
    val target = snapshot(path, toPointerId).getOrElse(
      throw new IllegalStateException(
        s"cannot roll back to pointer p$toPointerId under $path — " +
        "never committed, or vacuumed past the retention window"))
    val missing = target.partitions.values.flatten.toSeq.distinct.sorted
      .filterNot(g => Fs.exists(new HPath(genDir(path, g))))
    require(missing.isEmpty,
      s"rollback target p$toPointerId cites vacuumed generation(s) " +
      s"${missing.map("g=" + _).mkString(", ")} under $path")
    val next = latestPointer(path).get._1 + 1L
    // deliberately NOT CAS-retried: a rollback that raced another commit
    // would silently erase it — the operator must re-decide against the
    // new latest state
    if (!writePointer(path, next, target.partitions, target.files))
      throw new IllegalStateException(
        s"rollback lost a commit race under $path (pointer p$next " +
          "appeared) — re-examine the new latest state before rolling " +
          "back")
    next
  }

  /** Manifest fsck — the consistency audit a maintenance owner runs
    * before trusting vacuum/rollback on a table: one row per finding,
    * (check, subject, ok, detail), deterministic relative names only.
    * Checks: every retained pointer parses; every generation a
    * retained pointer cites exists on disk (`ok = false` = dangling —
    * a reader WILL fail); every on-disk generation is cited by some
    * retained pointer (unreferenced = healthy crash debris; vacuum
    * reclaims it). */
  def fsck(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val ids = pointerIds(path)
    val pointers = ids.map { id =>
      val parsed = scala.util.Try(readPointer(path, id).partitions)
      (id, parsed)
    }
    val pointerRows = pointers.map { case (id, parsed) =>
      ("pointer", s"p$id", parsed.isSuccess,
        parsed.fold(e => e.getMessage.take(80),
          m => s"${m.size} partitions"))
    }
    val cited = pointers.flatMap(_._2.toOption).flatMap(_.values.flatten)
      .distinct.sorted
    val citedRows = cited.map { g =>
      val ok = Fs.exists(new HPath(genDir(path, g)))
      ("generation", s"g=$g", ok,
        if (ok) "cited, present" else "DANGLING: cited but missing")
    }
    val orphanRows = generations(path).ids.filterNot(cited.contains).map { g =>
      ("orphan_generation", s"g=$g", true,
        "unreferenced by any retained pointer (vacuum reclaims)")
    }
    (pointerRows ++ citedRows ++ orphanRows)
      .toDF("check", "subject", "ok", "detail")
      .orderBy(col("check"), col("subject"))
  }

  /** `max_pt` for a manifest-pointer table: the latest partition VALUE
    * of the leading `partitionCol` among live pointer entries —
    * resolved from the pointer map alone (no Spark job, no directory
    * listing): the manifested sibling of
    * [[PartitionedWrite.maxPtListing]] / `CatalogFunctions.maxPt`. */
  def maxPt(path: String, partitionCol: String): Option[String] = {
    val prefix = s"$partitionCol="
    latestPointer(path).map { case (_, map) =>
      map.keys.toSeq.map(_.split('/').head)
        .filter(_.startsWith(prefix))
        .map(seg => org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(seg.stripPrefix(prefix)))
    }.filter(_.nonEmpty).map(_.max)
  }

  /** Fold every live generation into ONE new generation and flip the
    * pointer — compaction with zero data movement at retire time (the
    * old file set is retired by the pointer flip alone; [[vacuum]]
    * reclaims it later). A whole-table rewrite conflicts with ANY
    * concurrent commit, so the CAS refuses instead of rebasing.
    * Returns the new generation id. */
  def compact(spark: SparkSession, path: String,
      partitionCols: Seq[String]): Long = {
    val base = latestPointer(path).map(_._2).getOrElse(
      throw new IllegalStateException(
        s"no committed manifest-pointer state under $path"))
    val data = readMap(spark, path, base)
    val gen = claimGeneration(path)
    val dest = genDir(path, gen)
    data.repartition(partitionCols.map(col): _*)
      .write.mode("append").partitionBy(partitionCols: _*).parquet(dest)
    val leaves = stagedLeaves(dest, partitionCols.length)
    onCommitStep("generation-written")
    casCommit(path, base, gen, leaves, _ => true,
      _ => leaves.map(_._1 -> Seq(gen)).toMap, maxRetries = 0)
    gen
  }

  /** Data files of partition `rel` across every generation `p` cites
    * for it: the pointer's file lines, or for a v1 pair a listing of
    * its leaf. */
  private def partitionFiles(path: String, p: Pointer, rel: String)
      : Seq[DataFile] =
    p.partitions(rel).flatMap(g => p.files.getOrElse((rel, g),
      listLeaf(new HPath(s"${genDir(path, g)}/$rel"))))

  /** Fragmented live partitions of the latest pointer — the manifest
    * sibling of [[Maintenance.compactionCandidates]]: a partition whose
    * file count (across every generation it cites) exceeds what one
    * well-sized write would produce. From the pointer's file lines
    * alone (a v1 pair lists its leaf): no data read, no Spark job. */
  def compactionCandidates(path: String, targetFileBytes: Long)
      : Seq[Maintenance.CompactionPlan] = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    latestSnapshot(path).map(candidates(path, _, targetFileBytes))
      .getOrElse(Seq.empty)
  }

  private def candidates(path: String, p: Pointer, targetFileBytes: Long)
      : Seq[Maintenance.CompactionPlan] =
    p.partitions.keys.toSeq.sorted.flatMap { rel =>
      val fs = partitionFiles(path, p, rel)
      val bytes = fs.map(_.length).sum
      val target = targetFiles(bytes, targetFileBytes)
      if (fs.size > target)
        Some(Maintenance.CompactionPlan(rel, fs.size, bytes, target))
      else None
    }

  private def targetFiles(bytes: Long, targetFileBytes: Long): Int =
    math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt

  /** Rewrite ONLY the fragmented partitions of a manifest-pointer table
    * into one fresh generation and flip the pointer — the
    * `Maintenance.compactPartitions` contract (cost proportional to the
    * fragmentation, not the table; hash-bucketed deterministic file
    * counts) under the pointer commit instead of per-partition rename
    * swaps: readers never cross a visibility window, a crash before
    * the PUT leaves the old pointer serving, and a concurrent commit
    * that touched NONE of the fragmented partitions is rebased over
    * (one that did touch them refuses — the next maintenance run
    * recompacts). Returns the rewritten partition rel-paths. */
  def compactFragmented(spark: SparkSession, path: String,
      partitionCols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024,
      maxCommitRetries: Int = 5): Seq[String] = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(partitionCols.nonEmpty,
      "manifest tables always have partition columns")
    val latest = latestSnapshot(path).getOrElse(
      throw new IllegalStateException(
        s"no committed manifest-pointer state under $path"))
    val base = latest.partitions
    val plans = candidates(path, latest, targetFileBytes)
    if (plans.isEmpty) return Seq.empty
    val gen = claimGeneration(path)
    val dest = genDir(path, gen)
    // one read branch per DISTINCT target file count (few in practice),
    // each bucketing rows with a constant modulus — the rename-mode
    // branch layout, reading per cited generation with basePath so the
    // partition columns materialize
    val branches = plans.groupBy(_.targetFiles).toSeq.map { case (n, ps) =>
      val rels = ps.map(_.rel).toSet
      val perGen = base.toSeq
        .filter { case (rel, _) => rels.contains(rel) }
        .flatMap { case (rel, gens) => gens.map(g => g -> rel) }
        .groupBy(_._1).toSeq.sortBy(_._1)
      val df = perGen.map { case (g, grels) =>
        spark.read.option("basePath", genDir(path, g))
          .parquet(grels.map { case (_, rel) =>
            s"${genDir(path, g)}/$rel" }.distinct: _*)
      }.reduce(_ unionByName _)
      df.withColumn("__graft_bucket",
        pmod(xxhash64(df.columns.map(col): _*), lit(n.toLong)).cast("int"))
    }
    branches.reduce(_ unionByName _)
      .repartition((partitionCols :+ "__graft_bucket").map(col): _*)
      .drop("__graft_bucket")
      .write.mode("append").partitionBy(partitionCols: _*).parquet(dest)
    val leaves = stagedLeaves(dest, partitionCols.length)
    val staged = leaves.map(_._1)
    onCommitStep("generation-written")
    val stagedSet = staged.toSet
    casCommit(path, base, gen, leaves, stagedSet.contains,
      m => staged.foldLeft(m)((mm, rel) => mm.updated(rel, Seq(gen))),
      maxCommitRetries)
    staged
  }

  /** Z-order layout rewrite of a manifest-pointer table — the
    * `Maintenance.zorderRewrite` contract (curve-clustered files within
    * each partition, min/max skipping on every clustering dimension)
    * committed by generation write + ONE pointer flip: a layout change
    * rewrites every partition, so any concurrent commit conflicts and
    * the CAS refuses rather than rebasing. Returns the rewritten
    * partition rel-paths. */
  def zorderRewrite(spark: SparkSession, path: String,
      partitionCols: Seq[String], zorderCols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024,
      bits: Int = 8): Seq[String] = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(partitionCols.nonEmpty,
      "manifest tables always have partition columns")
    val latest = latestSnapshot(path).getOrElse(
      throw new IllegalStateException(
        s"no committed manifest-pointer state under $path"))
    val base = latest.partitions
    val totalTarget = base.keys.toSeq.map(rel => targetFiles(
      partitionFiles(path, latest, rel).map(_.length).sum,
      targetFileBytes)).sum
    val df = readMap(spark, path, base)
    val zk = graft.operators.ZOrder.key(
      graft.operators.ZOrder.fitBoundaries(df, zorderCols, bits),
      zorderCols, bits)
    val gen = claimGeneration(path)
    val dest = genDir(path, gen)
    // one range exchange on (partition cols, curve key) — the rename
    // writer's layout, landing in the fresh generation
    val orderCols = partitionCols.map(col) :+ col("__graft_zkey")
    df.withColumn("__graft_zkey", zk)
      .repartitionByRange(totalTarget, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .drop("__graft_zkey")
      .write.mode("append").partitionBy(partitionCols: _*).parquet(dest)
    val leaves = stagedLeaves(dest, partitionCols.length)
    onCommitStep("generation-written")
    casCommit(path, base, gen, leaves, _ => true,
      _ => leaves.map(_._1 -> Seq(gen)).toMap, maxRetries = 0)
    leaves.map(_._1)
  }

  /** Reclaim everything the retained pointers do not reference: the
    * newest `keepPointers` pointer files survive (reader-in-flight
    * grace — a reader that just resolved one of them still finds every
    * generation it cites), older pointers are deleted, and any
    * generation referenced by NO surviving pointer goes with them.
    * Single-maintenance-owner, like every vacuum in this library; when
    * writers may be IN FLIGHT during vacuum, set `minUnreferencedAgeMs`
    * so their claimed-but-uncommitted generations get a grace window
    * (an unreferenced dir younger than it is skipped — the
    * [[Maintenance.SwapRecoveryMinAgeMs]] stance; the default 0 keeps
    * the strict single-owner semantics where nothing is in flight).
    * Returns the deleted generation dirs. */
  def vacuum(path: String, keepPointers: Int = 1,
      minUnreferencedAgeMs: Long = 0L): Seq[String] = {
    require(keepPointers >= 1, s"keepPointers must be >= 1, got $keepPointers")
    val ids = pointerIds(path)
    if (ids.isEmpty) return Seq.empty
    val keep = ids.takeRight(keepPointers).toSet
    val live = keep.toSeq
      .flatMap(id => readPointer(path, id).partitions.values.flatten).toSet
    val cutoff = System.currentTimeMillis() - minUnreferencedAgeMs
    val deleted = generations(path).entries
      .filter { case (g, s) => s.isDirectory && !live.contains(g) &&
        s.getModificationTime <= cutoff }
      .map { case (_, s) => Fs.deleteRetried(s.getPath); s.getPath.toString }
    pointers(path).prune(keep.min)
    deleted
  }
}
