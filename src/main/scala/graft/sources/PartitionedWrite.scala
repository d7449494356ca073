package graft.sources

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Partition-aware bulk writes — the reference's write path re-expressed
  * over Spark's built-in `partitionBy` + dynamic partition overwrite
  * (`FileCommitProtocol` gives the atomic job commit that
  * `OdpsBatchWrite.commit` implements by hand,
  * `spark-connector/.../OdpsBatchWrite.scala:42-95`).
  */
object PartitionedWrite {

  /** Reference default: at most 512 dynamic partitions per write
    * (`OdpsOptions.scala:112`). */
  val DefaultDynamicPartitionLimit = 512

  /** Partition directory segment with Spark's path escaping, so values
    * containing '%', '=', ':' etc. target the same directories Spark's
    * partitioned writer creates. */
  private[graft] def partSegment(colName: String, value: String): String =
    s"$colName=" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(value)

  /** Resolve a Sqoop-style `%{column}` partition-value template
    * (`odps-sqoop/.../OdpsUploadProcessor.java:182-231`) into a Column. */
  def resolveTemplate(template: String): Column = {
    val pat = "%\\{([^}]+)\\}".r
    val parts = scala.collection.mutable.ArrayBuffer.empty[Column]
    var last = 0
    for (m <- pat.findAllMatchIn(template)) {
      if (m.start > last) parts += lit(template.substring(last, m.start))
      parts += col(m.group(1)).cast("string")
      last = m.end
    }
    if (last < template.length) parts += lit(template.substring(last))
    if (parts.isEmpty) lit("") else concat(parts.toSeq: _*)
  }

  /** Eager dynamic-partition explosion guard: counts distinct partition
    * tuples and fails before any write (`SQLQuerySuite.scala:233-249`
    * behavior). This runs the input pipeline once just for the count — use
    * it only when the input is a cheap scan; [[writePartitioned]] instead
    * validates the limit from its staged directory listing (a cheap FS
    * list after the single staging write — zero extra passes over a
    * 100 TB input). */
  def checkDynamicPartitionLimit(df: DataFrame, partitionCols: Seq[String],
      limit: Int = DefaultDynamicPartitionLimit): Long = {
    val n = df.select(partitionCols.map(col): _*).distinct().count()
    require(n <= limit,
      s"dynamic partition count $n exceeds limit $limit " +
        s"(cols=${partitionCols.mkString(",")})")
    n
  }

  /** Cluster rows for write: repartition on the partition columns, then
    * sort within partitions by (partitionCols ++ sortCols) — the
    * write-side repartition+local-sort the reference injects via its
    * optimizer rule (`OdpsExtensions.scala:89-149`). One file per
    * partition-and-task instead of one per task×partition. */
  def clusterForWrite(df: DataFrame, partitionCols: Seq[String],
      sortCols: Seq[String] = Nil): DataFrame =
    df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)

  /** Dynamic-partition overwrite write: only partitions present in `df` are
    * replaced (the reference's overwrite-session semantics).
    *
    * Stage-then-swap commit, mirroring `OdpsBatchWrite`'s staged session
    * commit: the pipeline runs ONCE into a hidden staging directory under
    * `path` (ignored by Spark's file listing), the dynamic-partition limit
    * is validated from the staged directory listing (a cheap FS list — no
    * second scan of the input), and only then are the staged partition
    * directories swapped into the target. A failure before the swap leaves
    * the target untouched and cleans staging; a failure DURING the swap
    * preserves the staging directory (it may hold the only copy of data
    * whose target partition was already cleared) and names it in the error
    * for recovery. `truncateSpec` widens the replacement beyond the staged
    * partitions once the staged write has validated: `Some(Nil)` drops ALL
    * existing partitions first (static INSERT OVERWRITE semantics),
    * `Some(prefixSpec)` drops the matching partition subtree (static
    * PARTITION(col=value) overwrite — truncates even when the new data is
    * empty), `None` touches only staged partitions.
    * Returns the written partition rel-paths (`col=v/col2=v2` form) so a
    * caller can scope its stats refresh to the touched partitions.
    * `preClustered` skips the default [[clusterForWrite]] repartition for
    * callers that already shaped the data (e.g. compaction's per-partition
    * file bucketing, which a partition-column repartition would undo).
    * `swapGuard`, if set, is consulted per staged partition rel-path just
    * before its swap: false = leave the target partition untouched and
    * discard that partition's staged data (compaction's concurrent-writer
    * guard). Skipped partitions are absent from the returned rel-paths,
    * so a touched-scope stats refresh never sees them.
    *
    * [[ManifestCommit.writePartitioned]] is the same write with the
    * object-store-atomic manifest-pointer commit instead of renames. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      sortCols: Seq[String] = Nil, overwrite: Boolean = true,
      limit: Int = DefaultDynamicPartitionLimit,
      truncateSpec: Option[Seq[(String, String)]] = None,
      preClustered: Boolean = false,
      swapGuard: Option[String => Boolean] = None): Seq[String] = {
    val fs = Fs.of(new HPath(path))
    val target = fs.makeQualified(new HPath(path))
    val staging = fs.makeQualified(
      new HPath(target, s".graft_staging_${java.util.UUID.randomUUID()}"))
    var swapping = false
    try {
      (if (preClustered) df else clusterForWrite(df, partitionCols, sortCols))
        .write.mode("append")
        .partitionBy(partitionCols: _*)
        .parquet(staging.toString)

      def leaves(p: HPath, depth: Int): Seq[HPath] =
        if (depth == partitionCols.length) Seq(p)
        else Fs.listDirs(p).filter(_.getName.contains("="))
          .flatMap(leaves(_, depth + 1))
      val staged = leaves(staging, 0)
      require(staged.size <= limit,
        s"dynamic partition count ${staged.size} exceeds limit $limit " +
          s"(cols=${partitionCols.mkString(",")})")

      Fs.mkdirs(target)
      swapping = true
      truncateSpec.foreach { spec =>
        if (spec.isEmpty)
          Fs.listDirs(target).filter(_.getName.contains("="))
            .foreach(Fs.deleteRetried(_))
        else {
          val subtree = spec.foldLeft(target) { case (p, (c, v)) =>
            new HPath(p, partSegment(c, v))
          }
          Fs.deleteRetried(subtree)
          // truncate, don't drop: an empty insert must leave an empty
          // partition behind (reference empty-overwrite semantics)
          Fs.mkdirs(subtree)
        }
      }
      val written = staged.flatMap { srcRaw =>
        val src = fs.makeQualified(srcRaw)
        val rel = src.toString.stripPrefix(staging.toString).stripPrefix("/")
        val dst = rel.split('/').foldLeft(target)(new HPath(_, _))
        if (!swapGuard.forall(_(rel))) None // changed since planning: skip
        else {
          if (overwrite) {
            Fs.deleteRetried(dst)
            Fs.mkdirs(dst.getParent)
            if (!Fs.renameRetried(src, dst))
              sys.error(s"commit failed: $src -> $dst; staged data preserved at $staging")
          } else {
            Fs.mkdirs(dst)
            Fs.of(src).listStatus(src).filter(_.isFile).foreach { f =>
              if (!Fs.renameRetried(f.getPath, new HPath(dst, f.getPath.getName)))
                sys.error(s"commit failed: ${f.getPath} -> $dst; " +
                  s"staged data preserved at $staging")
            }
          }
          Some(rel)
        }
      }
      swapping = false
      written
    } finally if (!swapping) Fs.delete(staging)
  }

  /** Static-partition overwrite with the reference's empty-result edge
    * semantics (`OdpsBatchWrite.scala:54-89`): overwriting a partition with
    * an EMPTY result must still truncate it (and create the partition dir
    * if absent) — Spark's dynamic overwrite would silently leave old data
    * in place because no partition value ever materializes. `spec` is the
    * ordered static partition assignment col→value.
    *
    * Staged commit: the new data lands in a hidden staging directory first;
    * the old partition is only deleted once the staged write has fully
    * succeeded, then the staged directory is renamed into place — no window
    * where a mid-write failure has destroyed the old partition. If the
    * final rename itself fails (after the old partition was cleared), the
    * staging directory is PRESERVED — it holds the only copy — and the
    * error names it for recovery. */
  def overwriteStaticPartition(df: DataFrame, path: String,
      spec: Seq[(String, String)]): Unit = {
    val target = spec.foldLeft(new HPath(path)) {
      case (p, (c, v)) => new HPath(p, partSegment(c, v))
    }
    val staging = new HPath(new HPath(path),
      s".graft_staging_${java.util.UUID.randomUUID()}")
    var swapping = false
    try {
      val dataCols = df.columns.filterNot(spec.map(_._1).contains)
      df.select(dataCols.map(col): _*)
        .write.mode("append").parquet(staging.toString)
      // staged write committed — now swap
      swapping = true
      Fs.deleteRetried(target)
      Fs.mkdirs(target.getParent)
      if (!Fs.renameRetried(staging, target))
        sys.error(s"commit failed: rename $staging -> $target; " +
          s"staged data preserved at $staging")
      swapping = false
    } finally if (!swapping) Fs.delete(staging)
  }

  /** Latest partition value of a partitioned parquet table — `max_pt`
    * (`spark-connector/common/.../udf/MaxPtUDF.java:30-41`). This variant
    * runs a Spark job over the DataFrame projecting ONLY the partition
    * column (whose values come from the file index, so no data files are
    * decoded — but file splits are still scheduled). For a pure
    * directory-listing resolution with no job at all, use [[maxPtListing]]
    * (path-based) or `CatalogFunctions.maxPt` (catalog-based). */
  def maxPt(df: DataFrame, partitionCol: String): String = {
    val row = df.select(col(partitionCol).cast("string")).distinct()
      .agg(max(col(partitionCol))).head()
    if (row.isNullAt(0)) null else row.getString(0)
  }

  /** Latest partition value resolved purely from the `col=value` directory
    * listing — no Spark job, no data scan; the exact MaxPtUDF contract.
    * A nonexistent table path is None (no partitions yet), matching the
    * catalog maxPt's behavior rather than throwing. */
  def maxPtListing(path: String, partitionCol: String): Option[String] = {
    val prefix = s"$partitionCol="
    if (!Fs.exists(new HPath(path))) return None
    val vals = Fs.listDirs(new HPath(path)).map(_.getName)
      .filter(_.startsWith(prefix))
      .map(n => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(n.stripPrefix(prefix)))
    if (vals.isEmpty) None else Some(vals.max)
  }
}
