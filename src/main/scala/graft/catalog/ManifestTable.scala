package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, Literal}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{Fs, ManifestCommit}

/** Catalog table whose storage is a [[graft.sources.ManifestCommit]]
  * manifest-pointer layout: immutable `_gen/g=N` generations plus one
  * `_pointer/pN.txt` whose PUT is the commit. The catalog surface this
  * class adds over the library calls:
  *
  *   - `SELECT ... FROM cat.ns.t` reads the LATEST pointer — the scan's
  *     file list is the pointer's file lines, never a directory
  *     listing, so uncommitted/retired generations and stray files in a
  *     cited leaf are invisible, a cited file that is gone fails the
  *     read, and planning starts no Spark job (the catalog-first
  *     resolution the reference gives every table,
  *     `spark-connector/.../OdpsTableCatalog.scala:80-110`);
  *   - `SELECT ... FROM cat.ns.t VERSION AS OF p` time-travels to
  *     retained pointer `p` ([[GraftCatalog.loadTable(ident,version)]]);
  *   - `SELECT ... FROM cat.ns.t TIMESTAMP AS OF ts` resolves the last
  *     pointer committed at-or-before `ts` by pointer-file mtime;
  *   - `SELECT ... FROM cat.ns.t.history` lists retained pointers
  *     (pointer-file metadata only — a [[LocalScan]], no data read);
  *   - `INSERT INTO` / `INSERT OVERWRITE [PARTITION (...)]` commit via
  *     [[ManifestCommit.writePartitioned]]: generation write + ONE
  *     pointer PUT, atomic on object stores.
  *
  * A pinned snapshot (`pointerId` defined) is immutable: it advertises
  * no write capability and its scan verifies every cited generation
  * still exists (vacuumed history fails loudly, like
  * [[ManifestCommit.readAt]]).
  *
  * The scan itself is the SAME pruned/pushdown/vectorized parquet path
  * as [[GraftTable]] ([[org.apache.spark.sql.graft.GraftScanBuilder]]):
  * the pointer map becomes an explicit `PartitionSpec` (one
  * `PartitionPath` per live (partition, generation) pair), so Catalyst
  * partition-prunes version-pinned reads exactly like current ones. The
  * `InMemoryFileIndex` over those leaves is fed by a [[PointerFileCache]]
  * holding each pair's recorded files, so every leaf is a cache hit and
  * nothing is listed; sizes (and so scan statistics) are the recorded
  * lengths. The file statuses carry no block locations — the
  * object-store stance, where locality does not exist. A v1 pair (no
  * file lines) misses the cache and the index lists that leaf itself. */
class GraftManifestTable(ident: Identifier, dir: HPath, meta: TableMeta,
    spark: SparkSession, pointerId: Option[Long] = None,
    asOfTimestampMicros: Option[Long] = None)
  extends Table with SupportsRead with SupportsWrite with PartitionedCommit {

  import GraftManifestTable._

  override def name(): String = ident.toString +
    pointerId.map(p => s" VERSION AS OF $p").getOrElse("")
  /** Table directory (the manifest root holding `_gen` + `_pointer`). */
  override def location: String = dir.toString
  override def partitionColumnNames: Seq[String] = meta.partitionCols
  override def schema(): StructType = meta.schema
  override def partitioning(): Array[Transform] =
    meta.partitionCols.map(Expressions.identity).toArray
  override def properties(): java.util.Map[String, String] =
    (meta.properties + (CommitModeKey -> "manifest")).asJava

  override def capabilities(): java.util.Set[TableCapability] = {
    // pinned snapshots and external manifest locations are read-only;
    // a live managed manifest table takes the same INSERT surface as
    // GraftTable's partitioned path (PartitionedWriteBuilder → here, the
    // generation+pointer commit)
    if (pointerId.isDefined || asOfTimestampMicros.isDefined || meta.isExternal)
      java.util.Collections.singleton(TableCapability.BATCH_READ)
    else
      Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.OVERWRITE_BY_FILTER,
        TableCapability.OVERWRITE_DYNAMIC).asJava
  }

  private def resolvedPointer: ManifestCommit.Pointer = {
    val path = dir.toString
    (pointerId, asOfTimestampMicros) match {
      case (Some(p), _) =>
        ManifestCommit.snapshot(path, p).getOrElse(
          throw new IllegalStateException(
            s"${ident} has no retained pointer p$p — never committed, " +
              "or vacuumed past the retention window"))
      case (None, Some(micros)) =>
        val p = ManifestCommit.pointerAsOfTime(path, micros / 1000L)
          .getOrElse(throw new IllegalStateException(
            s"$ident has no pointer committed at or before " +
              s"timestamp ${micros / 1000L} ms"))
        ManifestCommit.snapshot(path, p).get
      case (None, None) =>
        ManifestCommit.latestSnapshot(path).getOrElse(
          ManifestCommit.Pointer(-1L, Map.empty, Map.empty))
    }
  }

  /** The declared partition columns, in order. */
  def partitionSchema: StructType = meta.partitionSchema

  /** One typed partition-values row per partition of the resolved
    * pointer — a partition listing read from the pointer, with no
    * directory listed. */
  def pointerPartitions: Seq[InternalRow] = {
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    resolvedPointer.partitions.keys.toSeq
      .map(partitionRow(_, meta.partitionSchema, zone))
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val pointer = resolvedPointer
    val partSchema = meta.partitionSchema
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val fs = Fs.of(dir)
    def leaf(rel: String, g: Long) =
      fs.makeQualified(new HPath(s"$dir/_gen/g=$g/$rel"))
    val leaves: Seq[PartitionPath] = pointer.partitions.toSeq.sortBy(_._1).flatMap {
      case (rel, gens) =>
        val row = partitionRow(rel, partSchema, zone)
        gens.map { g =>
          // a time-travel read across a vacuumed horizon must fail, not
          // silently return the partitions that survived
          if (pointerId.isDefined || asOfTimestampMicros.isDefined)
            require(fs.exists(leaf(rel, g)),
              s"pointer p${pointer.id} of $ident cites vacuumed generation " +
                s"g=$g — raise vacuum keepPointers for deeper time travel")
          PartitionPath(row, leaf(rel, g))
        }
    }
    val recorded = pointer.files.map { case ((rel, g), files) =>
      val dirPath = leaf(rel, g)
      dirPath -> files.map(f => new FileStatus(f.length, false, 0, 0L,
        f.modificationTime, new HPath(dirPath, f.name))).toArray
    }
    val fileIndex = new InMemoryFileIndex(spark,
      leaves.map(_.path), Map.empty[String, String], Some(meta.dataSchema),
      new PointerFileCache(recorded),
      userSpecifiedPartitionSpec = Some(PartitionSpec(partSchema, leaves)))
    new org.apache.spark.sql.graft.GraftScanBuilder(
      spark, fileIndex, meta.schema, meta.dataSchema,
      new CaseInsensitiveStringMap(Map("path" -> dir.toString).asJava),
      () => None)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (pointerId.isDefined || asOfTimestampMicros.isDefined)
      throw new UnsupportedOperationException(
        s"${name()} is an immutable snapshot — write to the live table")
    if (meta.isExternal)
      throw new UnsupportedOperationException(
        s"${name()} is an external table — writes through the catalog " +
          "are rejected; commit to its location with ManifestCommit")
    new PartitionedWriteBuilder(this)
  }

  /** Generation write + ONE pointer PUT — no stats file (pointer tables
    * carry their state in the pointer itself). */
  override def commitPartitioned(data: org.apache.spark.sql.DataFrame,
      overwrite: Boolean, truncateSpec: Option[Seq[(String, String)]]): Unit =
    ManifestCommit.writePartitioned(data, dir.toString, meta.partitionCols,
      overwrite = overwrite, truncateSpec = truncateSpec)
}

object GraftManifestTable {
  /** Table property selecting the manifest-pointer commit protocol
    * (`'graft.commit.mode' = 'manifest'` at CREATE TABLE). */
  val CommitModeKey = "graft.commit.mode"

  /** The recorded files of one pointer, by qualified leaf path, as the
    * file index's listing cache. The entries are immutable facts of that
    * pointer, so nothing is ever stored or invalidated: a leaf missing
    * here (a v1 pair) is listed by the index on every plan, as before. */
  private final class PointerFileCache(leaves: Map[HPath, Array[FileStatus]])
    extends FileStatusCache {
    override def getLeafFiles(path: HPath): Option[Array[FileStatus]] =
      leaves.get(path)
    override def putLeafFiles(path: HPath, files: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }

  /** `col=value/...` rel path → typed partition-values row, the same
    * unescape + cast Spark's own partition discovery applies. */
  private[catalog] def partitionRow(rel: String, partSchema: StructType,
      zone: String): InternalRow = {
    val segs = rel.split("/").toSeq
    require(segs.length == partSchema.length,
      s"partition path '$rel' does not match declared partition columns " +
        partSchema.fieldNames.mkString(","))
    val values = segs.zip(partSchema.fields).map { case (seg, f) =>
      val eq = seg.indexOf('=')
      require(eq > 0 && seg.take(eq) == f.name,
        s"partition path segment '$seg' does not bind column ${f.name}")
      val raw = ExternalCatalogUtils.unescapePathName(seg.drop(eq + 1))
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else Cast(Literal(UTF8String.fromString(raw), StringType),
        f.dataType, Option(zone)).eval(null)
    }
    new GenericInternalRow(values.toArray)
  }
}

/** `cat.ns.t.history` — the commit log of a manifest-pointer table as a
  * read-only metadata table: one row per retained pointer, from
  * pointer-file metadata only (a [[LocalScan]]; planning never touches
  * data files). Columns: pointer_id, committed_at (pointer-file mtime),
  * partitions, generations, is_latest. */
class GraftManifestHistoryTable(ident: Identifier, dir: HPath)
  extends Table with SupportsRead {

  override def name(): String = ident.toString
  override def schema(): StructType = GraftManifestHistoryTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Collections.singleton(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = GraftManifestHistoryTable.Schema
        override def rows(): Array[InternalRow] = {
          val path = dir.toString
          val ids = ManifestCommit.pointerIds(path).sorted
          val latest = if (ids.isEmpty) -1L else ids.max
          ids.map { id =>
            val map = ManifestCommit.pointerAt(path, id).getOrElse(Map.empty)
            val p = new HPath(s"$path/_pointer/p$id.txt")
            val mtimeMicros =
              Fs.of(p).getFileStatus(p).getModificationTime * 1000L
            new GenericInternalRow(Array[Any](id, mtimeMicros,
              map.size.toLong,
              map.values.flatten.toSeq.distinct.size.toLong,
              id == latest)): InternalRow
          }.toArray
        }
        override def description(): String = s"GraftManifestHistory ${ident}"
      }
    }
}

object GraftManifestHistoryTable {
  val Schema: StructType = new StructType()
    .add("pointer_id", LongType, nullable = false)
    .add("committed_at", TimestampType, nullable = false)
    .add("partitions", LongType, nullable = false)
    .add("generations", LongType, nullable = false)
    .add("is_latest", BooleanType, nullable = false)
}
