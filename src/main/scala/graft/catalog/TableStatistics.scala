package graft.catalog

import org.apache.hadoop.fs.{FileStatus, Path => HPath}

import graft.sources.{Fs, GenerationLog}

/** Per-partition row/byte statistics persisted next to the table data
  * (`_graft_stats.json`) and refreshed at every write commit — the
  * ANALYZE-at-commit path the reference gets from its meta service and
  * feeds into join planning (`PruneHiveTablePartitions.scala:62-108`
  * prunes partition sizes; `OdpsScan.scala:267-279` scales scan estimates).
  *
  * The refresh is INCREMENTAL: partitions whose (bytes, file count) match
  * the stored entry keep their recorded row count; only new or changed
  * partitions have their parquet footers re-read (footers carry exact row
  * counts — one small ranged read per file, no data scan). At 100 TB a
  * typical commit touches a handful of partitions, so the refresh cost is
  * proportional to the write, not the table.
  */
object TableStatistics {

  final case class PartStat(rows: Long, bytes: Long, files: Int)
  final case class TableStats(rows: Long, bytes: Long,
      parts: Map[String, PartStat])

  /** LOGICAL stats identity (cache/invalidation key, legacy file). The
    * committed content is the [[graft.sources.GenerationLog]] of
    * `_graft_stats.g{N}.json` files beside it, because a plain
    * read-merge-overwrite loses one commit's partition entries whenever
    * two jobs insert into DISJOINT partitions concurrently (both read the
    * same base, last rename wins, the loser's partitions revert to stale
    * counts until the next rewrite). */
  def statsFile(dir: HPath): HPath = new HPath(dir, "_graft_stats.json")

  private def log(home: HPath) =
    new GenerationLog(home, "_graft_stats.g", ".json", first = 1L)

  /** Cached read ([[MetaCache.stats]], TTL'd): scan planning consults the
    * stats per query, and the uncached form is a LIST+GET per table per
    * query on an object store. Stats writes through this process
    * invalidate; foreign writers become visible within the TTL —
    * acceptable for advisory planner stats. */
  def read(dir: HPath): Option[TableStats] =
    MetaCache.stats.get(statsFile(dir).toString)(readUncached(dir)._1)

  /** Latest committed (stats, generation); before any commit, the
    * legacy un-versioned file as generation 0, else (None, 0). A log
    * that stays unreadable reads as empty: the planner falls back to
    * size estimates, never to a failed query. */
  private def readUncached(dir: HPath): (Option[TableStats], Long) =
    scala.util.Try(log(dir).read()).getOrElse(None) match {
      case Some((gen, json)) => (parse(json), gen)
      case None =>
        (scala.util.Try(Fs.readString(statsFile(dir))).toOption.flatMap(parse), 0L)
    }

  private def parse(json: String): Option[TableStats] = {
    val entry =
      "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\\{\"rows\":(\\d+),\"bytes\":(\\d+),\"files\":(\\d+)\\}".r
    val parts = entry.findAllMatchIn(json).map { m =>
      m.group(1) -> PartStat(m.group(2).toLong, m.group(3).toLong, m.group(4).toInt)
    }.toMap
    val top = "\"rows\":(\\d+),\"bytes\":(\\d+),\"parts\"".r
    top.findFirstMatchIn(json).map(m =>
      TableStats(m.group(1).toLong, m.group(2).toLong, parts))
  }

  /** Scope of a commit's stats refresh: the partition rel-paths the write
    * landed in, plus (for overwrite truncations) the rel-path prefix whose
    * stored entries must be dropped ("" = whole table). */
  final case class Touched(rels: Seq[String], removedPrefix: Option[String] = None)

  private def render(ts: TableStats): String = {
    // partition keys are path-escaped (ExternalCatalogUtils), so they never
    // contain raw quotes or backslashes — safe to embed directly
    val parts = ts.parts.toSeq.sortBy(_._1).map { case (k, p) =>
      s""""$k":{"rows":${p.rows},"bytes":${p.bytes},"files":${p.files}}"""
    }.mkString("{", ",", "}")
    s"""{"rows":${ts.rows},"bytes":${ts.bytes},"parts":$parts}"""
  }

  /** Commit `ts` as generation `expectedGen + 1` iff `expectedGen` is
    * still the latest — a racing commit wins the id and this one returns
    * false so the caller re-reads and re-merges. Generations below
    * `expectedGen` are pruned on success (the previous one stays
    * readable for in-flight readers); the legacy un-versioned file is
    * retired on the first commit. */
  private def casCommit(home: HPath, expectedGen: Long,
      ts: TableStats): Boolean = {
    val l = log(home)
    val won = l.commit(expectedGen, render(ts))
    if (won) {
      l.prune(expectedGen)
      if (expectedGen == 0L) Fs.delete(statsFile(home))
      MetaCache.stats.invalidate(statsFile(home).toString)
    }
    won
  }

  private def fileRows(p: HPath): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, Fs.conf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Footer reads fan out over a small thread pool — a bulk initial load
    * (or analyzeTable over a large external dataset) is one ranged read
    * per file, and on object stores the serial form would put O(files)
    * round-trip latency inside the commit path. */
  private def fileRowsAll(paths: Seq[HPath]): Map[HPath, Long] = {
    if (paths.isEmpty) Map.empty
    else if (paths.size == 1) Map(paths.head -> fileRows(paths.head))
    else {
      import scala.jdk.CollectionConverters._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, paths.size))
      try {
        val tasks: Seq[java.util.concurrent.Callable[(HPath, Long)]] =
          paths.map(p => () => p -> fileRows(p))
        pool.invokeAll(tasks.asJava).asScala.map(_.get()).toMap
      } finally pool.shutdown()
    }
  }

  private def dataFiles(p: HPath): Seq[FileStatus] =
    Fs.of(p).listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))

  /** Recompute the table's stats from the committed layout under `dir`,
    * reusing stored row counts for unchanged partitions, and persist the
    * result. `statsDir` overrides where the stats FILE lives — external
    * tables keep their data directory pristine and home the stats next to
    * the catalog metadata instead.
    *
    * `touched` scopes the refresh to the partitions a commit actually
    * wrote (plus a truncated prefix whose stored entries are dropped):
    * only those directories are listed and footer-read, the rest of the
    * stored stats carry over — at 100k partitions a full walk per commit
    * would put O(table) FS round-trips inside every write. Without
    * `touched` (explicit ANALYZE, unpartitioned tables) the full walk
    * runs and also reconciles partitions changed by external writers. */
  def refresh(dir: HPath, partitionCols: Seq[String],
      statsDir: Option[HPath] = None,
      touched: Option[Touched] = None): TableStats = {
    val home = statsDir.getOrElse(dir)
    // read-merge-commit under CAS: a lost race re-reads the winner's stats
    // and re-merges, so concurrent commits to DISJOINT partitions both
    // land instead of the last rename silently reverting the other's
    // entries. Merging is cheap to repeat (footer reads only re-run for
    // partitions still marked changed against the fresh base).
    var attempt = 0
    while (attempt < 8) {
      val (oldStats, gen) = readUncached(home)
      val ts = computeMerged(dir, partitionCols, touched,
        oldStats.map(_.parts).getOrElse(Map.empty))
      if (casCommit(home, gen, ts)) return ts
      attempt += 1
    }
    sys.error(s"stats refresh for $home lost 8 CAS races — " +
      "contention too high or a committer is livelocked")
  }

  private def computeMerged(dir: HPath, partitionCols: Seq[String],
      touched: Option[Touched],
      old: Map[String, PartStat]): TableStats = {
    def walk(p: HPath, depth: Int, rel: String): Seq[(String, HPath)] =
      if (depth == partitionCols.length) Seq(rel -> p)
      else if (!Fs.isDir(p)) Seq.empty
      else Fs.listDirs(p)
        .filter(_.getName.startsWith(partitionCols(depth) + "="))
        .flatMap(d => walk(d, depth + 1,
          if (rel.isEmpty) d.getName else s"$rel/${d.getName}"))
    val (base, listed) = touched match {
      case Some(t) if partitionCols.nonEmpty =>
        val pruned = t.removedPrefix match {
          case Some("") => Map.empty[String, PartStat]
          // segment-aligned: truncating dt=1 must not drop dt=19's stats —
          // a raw startsWith here silently erased sibling partitions from
          // the totals until the next full ANALYZE
          case Some(prefix) =>
            old.filterNot { case (r, _) =>
              r == prefix || r.startsWith(prefix + "/") }
          case None => old
        }
        val rels = t.rels.distinct
        val dirs = rels.map(rel =>
          rel -> rel.split('/').foldLeft(dir)(new HPath(_, _)))
        (pruned -- rels,
          dirs.filter(d => Fs.isDir(d._2)).map { case (rel, p) => (rel, dataFiles(p)) })
      case _ =>
        (Map.empty[String, PartStat],
          walk(dir, 0, "").map { case (rel, p) => (rel, dataFiles(p)) })
    }
    val changed = listed.filter { case (rel, fs) =>
      !old.get(rel).exists(ps =>
        ps.bytes == fs.map(_.getLen).sum && ps.files == fs.size)
    }
    val rowsByFile = fileRowsAll(changed.flatMap(_._2.map(_.getPath)))
    val parts = base ++ listed.map { case (rel, fs) =>
      val bytes = fs.map(_.getLen).sum
      val stat = old.get(rel) match {
        case Some(ps) if ps.bytes == bytes && ps.files == fs.size => ps
        case _ => PartStat(fs.map(f => rowsByFile(f.getPath)).sum, bytes, fs.size)
      }
      rel -> stat
    }.toMap
    TableStats(parts.values.map(_.rows).sum,
      parts.values.map(_.bytes).sum, parts)
  }
}
