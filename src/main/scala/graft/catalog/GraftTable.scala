package graft.catalog

import java.util.Collections

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Catalog table backed by a partitioned-parquet directory.
  *
  * Read/write delegate to Spark's `ParquetTable` (built-in DSv2), so the
  * physical plan is stock `FileSourceScanExec`/`FileBatchWrite` with
  * partition pruning, pushdown and vectorization — the reference's whole
  * custom scan stack (`OdpsScan.scala`) collapses into this delegation.
  * On top, this class implements `SupportsPartitionManagement`: partitions
  * are `col=value` directories, created/dropped/listed as catalog objects
  * (`OdpsTableCatalog.scala:402-425`, `OdpsTable.scala:103-135`).
  */
object GraftTable {
  val BucketColsKey = "graft.bucket.cols"
  val BucketCountKey = "graft.bucket.count"
  // range clustering: cols value is "col [ASC|DESC], col2 [ASC|DESC], ..."
  val RangeColsKey = "graft.range.cols"
  val RangeCountKey = "graft.range.count"

  /** Parse a range-cluster column spec into ((col, isDescending))*. */
  def parseRangeCols(spec: String): Seq[(String, Boolean)] =
    spec.split(",").toSeq.map { tok =>
      val parts = tok.trim.split("\\s+")
      require(parts.length <= 2 &&
        (parts.length == 1 || parts(1).equalsIgnoreCase("ASC") ||
          parts(1).equalsIgnoreCase("DESC")),
        s"bad range-cluster column spec: '$tok' (want 'col [ASC|DESC]')")
      (parts(0), parts.length > 1 && parts(1).equalsIgnoreCase("DESC"))
    }

  /** A write that asks Spark for `distribution` over `numPartitions`
    * partitions, each sorted by `ordering`, and otherwise is `d`. */
  private final class ClusteredWrite(d: Write, distribution: Distribution,
      ordering: Array[SortOrder], numPartitions: Int)
    extends Write with RequiresDistributionAndOrdering {
    override def requiredDistribution(): Distribution = distribution
    override def requiredNumPartitions(): Int = numPartitions
    override def requiredOrdering(): Array[SortOrder] = ordering
    override def toBatch: BatchWrite = d.toBatch
    override def toStreaming = d.toStreaming
    override def description(): String = d.description()
  }
}

class GraftTable(ident: Identifier, dir: HPath, meta: TableMeta,
    spark: SparkSession, statsDir: Option[HPath] = None)
  extends Table with SupportsRead with SupportsWrite with SupportsPartitionManagement
  with PartitionedCommit {

  /** Where the stats file lives: the data dir for managed tables, the
    * warehouse metadata dir for external ones (whose data directory the
    * catalog must never write into). */
  private val statsHome: HPath = statsDir.getOrElse(dir)
  def statsLocation: String = statsHome.toString

  private lazy val delegate = ParquetTable(
    ident.toString, spark,
    new CaseInsensitiveStringMap(Map("path" -> dir.toString).asJava),
    Seq(dir.toString), Some(meta.schema), classOf[ParquetFileFormat])

  override def location: String = dir.toString
  override def partitionColumnNames: Seq[String] = meta.partitionCols

  override def name(): String = ident.toString
  override def schema(): StructType = meta.schema
  override def partitioning(): Array[Transform] =
    meta.partitionCols.map(Expressions.identity).toArray
  override def properties(): java.util.Map[String, String] =
    meta.properties.asJava

  override def capabilities(): java.util.Set[TableCapability] = {
    // External tables are read-only through the catalog — the reference
    // rejects writes to EXTERNAL_TABLE (`OdpsWriteBuilder.scala:124-128`);
    // omitting the write capabilities makes analysis reject INSERTs with a
    // clean "does not support append" error.
    if (meta.isExternal) return Set(TableCapability.BATCH_READ).asJava
    // Partitioned tables route writes through the V1 fallback into the
    // staged partitioned writer (real col=value layout) — except dynamic
    // overwrite, which Spark has no V1 fallback exec for and which
    // GraftStrategies plans onto the same commitPartitioned directly.
    // Unpartitioned/bucketed tables stay on DSv2.
    (if (meta.partitionCols.nonEmpty)
      Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC)
    else
      Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.TRUNCATE, TableCapability.OVERWRITE_DYNAMIC)).asJava
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    delegate.newScanBuilder(options) match {
      // same parquet builder, plus commit-collected stats for the planner
      case pb: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder =>
        new org.apache.spark.sql.graft.GraftScanBuilder(
          pb.sparkSession, pb.fileIndex, pb.schema, pb.dataSchema, pb.options,
          () => TableStatistics.read(statsHome).map(ts => (ts.rows, ts.bytes)))
      case other => other
    }

  /** Stats are advisory: the data is already committed when this runs, so
    * a refresh failure (transient FS error, concurrent file removal
    * between listing and footer read) must never surface as a failed
    * write job — Spark would report failure for landed data and a retry
    * would duplicate rows. `touched` scopes the refresh to the committed
    * partitions (see [[TableStatistics.refresh]]). */
  private def refreshStats(touched: Option[TableStatistics.Touched] = None): Unit =
    try TableStatistics.refresh(dir, meta.partitionCols, statsDir, touched)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[graft] stats refresh for ${name()} failed (stats may be stale " +
            s"until the next commit or ANALYZE): $e")
    }

  /** Wrap a DSv2 write so a successful commit refreshes the stats file —
    * the write-commit half of the stats-fed planning loop. */
  private def withStatsRefresh(d: Write): Write = new Write {
    override def description(): String = d.description()
    override def toBatch: BatchWrite = new BatchWrite {
      private val b = d.toBatch
      override def createBatchWriterFactory(info: PhysicalWriteInfo) =
        b.createBatchWriterFactory(info)
      override def useCommitCoordinator(): Boolean = b.useCommitCoordinator()
      override def onDataWriterCommit(m: WriterCommitMessage): Unit =
        b.onDataWriterCommit(m)
      override def commit(msgs: Array[WriterCommitMessage]): Unit = {
        b.commit(msgs)
        refreshStats()
      }
      override def abort(msgs: Array[WriterCommitMessage]): Unit = b.abort(msgs)
    }
    override def toStreaming = d.toStreaming
  }

  /** The staged partitioned writer, then a stats refresh scoped to the
    * committed partitions and to the truncated subtree. */
  override def commitPartitioned(data: org.apache.spark.sql.DataFrame,
      overwrite: Boolean, truncateSpec: Option[Seq[(String, String)]]): Unit = {
    val written = graft.sources.PartitionedWrite.writePartitioned(
      data, dir.toString, meta.partitionCols, overwrite = overwrite,
      truncateSpec = truncateSpec)
    refreshStats(Some(TableStatistics.Touched(written,
      removedPrefix = truncateSpec.map(_.map { case (c, v) =>
        graft.sources.PartitionedWrite.partSegment(c, v)
      }.mkString("/")))))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // belt-and-braces behind the capabilities() gate above
    if (meta.isExternal)
      throw new UnsupportedOperationException(
        s"${name()} is an external table — writes through the catalog are " +
          "rejected; write to its location with an explicit job instead")
    // Partitioned tables write through the V1 fallback into the staged
    // partitioned writer, so rows land in col=value directories and reads
    // get real partition pruning (the DSv2 file write would lay the files
    // flat).
    if (meta.partitionCols.nonEmpty) return new PartitionedWriteBuilder(this)
    val inner = delegate.newWriteBuilder(info)
    // Declarative write distribution/ordering for clustered tables — the
    // DSv2 hook the reference uses for clustered writes
    // (`OdpsWriteBuilder.scala:70-116`): Spark injects the repartition +
    // local sort, no custom exchange needed. A range cluster is an ordered
    // distribution (one global sort in the declared per-column ASC/DESC,
    // which range-partitions the data AND sorts within partitions); a hash
    // cluster is a clustered distribution sorted ascending on its columns.
    def sort(c: String, desc: Boolean) = Expressions.sort(Expressions.column(c),
      if (desc) SortDirection.DESCENDING else SortDirection.ASCENDING)
    val clustering: Option[(Distribution, Array[SortOrder], Int)] =
      rangeSpec.map { case (orders, n) =>
        val sorts = orders.map { case (c, desc) => sort(c, desc) }.toArray
        (Distributions.ordered(sorts), sorts, n)
      }.orElse(bucketSpec.map { case (cols, n) =>
        (Distributions.clustered(cols.map(Expressions.column(_): Expression).toArray),
          cols.map(sort(_, desc = false)).toArray, n)
      })
    new WriteBuilder {
      override def build(): Write = {
        val d = withStatsRefresh(inner.build())
        clustering.fold(d) { case (distribution, ordering, n) =>
          new GraftTable.ClusteredWrite(d, distribution, ordering, n)
        }
      }
    }
  }

  /** (bucketCols, numBuckets) when this table is hash-clustered. */
  private def bucketSpec: Option[(Seq[String], Int)] =
    for {
      cols <- meta.properties.get(GraftTable.BucketColsKey)
      n <- meta.properties.get(GraftTable.BucketCountKey)
    } yield (cols.split(",").toSeq, n.toInt)

  /** ((col, isDescending)*, numPartitions) when this table is
    * RANGE-clustered — the reference's `range` cluster type with
    * per-column ASC/DESC sort (`OdpsTable.scala:46-79`). */
  private def rangeSpec: Option[(Seq[(String, Boolean)], Int)] =
    for {
      cols <- meta.properties.get(GraftTable.RangeColsKey)
      n <- meta.properties.get(GraftTable.RangeCountKey)
    } yield (GraftTable.parseRangeCols(cols), n.toInt)

  // ---- partition management (col=value directories) ----

  override def partitionSchema(): StructType = meta.partitionSchema

  private def partitionDir(identRow: InternalRow): HPath = {
    val ps = partitionSchema()
    (0 until ps.length).foldLeft(dir) { (p, i) =>
      val v = identRow.get(i, ps(i).dataType)
      new HPath(p, graft.sources.PartitionedWrite.partSegment(
        ps(i).name, String.valueOf(v)))
    }
  }

  /** Partition ADD/DROP mutate the data directory, so external tables
    * refuse them like any other write (`OdpsWriteBuilder.scala:124-128`
    * semantics) — DROP PARTITION on an external location would recursively
    * delete data the catalog does not own. */
  private def requireManagedForPartitionDdl(op: String): Unit =
    if (meta.isExternal)
      throw new UnsupportedOperationException(
        s"${name()} is an external table — $op would modify the external " +
          "location; manage partition directories with an explicit job instead")

  override def createPartition(id: InternalRow,
      properties: java.util.Map[String, String]): Unit = {
    requireManagedForPartitionDdl("ADD PARTITION")
    val p = partitionDir(id)
    if (graft.sources.Fs.exists(p))
      throw new org.apache.spark.sql.catalyst.analysis.PartitionsAlreadyExistException(
        name(), id, partitionSchema())
    graft.sources.Fs.mkdirs(p)
  }

  override def dropPartition(id: InternalRow): Boolean = {
    requireManagedForPartitionDdl("DROP PARTITION")
    graft.sources.Fs.delete(partitionDir(id))
  }

  override def replacePartitionMetadata(id: InternalRow,
      properties: java.util.Map[String, String]): Unit = ()

  override def loadPartitionMetadata(id: InternalRow): java.util.Map[String, String] =
    Collections.emptyMap()

  /** Lists partition identifier rows by scanning the directory tree; `names`
    * + `id` form a prefix filter (Spark's contract for SHOW PARTITIONS /
    * partition pruning of the listing). */
  override def listPartitionIdentifiers(names: Array[String],
      id: InternalRow): Array[InternalRow] = {
    val ps = partitionSchema()
    def walk(p: HPath, depth: Int, acc: Seq[String]): Seq[Seq[String]] = {
      if (depth == ps.length) Seq(acc)
      else if (!graft.sources.Fs.isDir(p)) Seq.empty
      else graft.sources.Fs.listDirs(p)
        .filter(_.getName.startsWith(ps(depth).name + "="))
        .flatMap(d => walk(d, depth + 1,
          acc :+ org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(d.getName.substring(ps(depth).name.length + 1))))
    }
    val all = walk(dir, 0, Seq.empty).map { values =>
      InternalRow.fromSeq(values.zipWithIndex.map { case (v, i) =>
        castPartitionValue(v, ps(i).dataType)
      })
    }
    val filtered = all.filter { row =>
      names.zipWithIndex.forall { case (n, i) =>
        val fieldIdx = ps.fieldIndex(n)
        row.get(fieldIdx, ps(fieldIdx).dataType) == id.get(i, ps(fieldIdx).dataType)
      }
    }
    filtered.toArray
  }

  private def castPartitionValue(s: String, dt: org.apache.spark.sql.types.DataType): Any =
    dt match {
      case org.apache.spark.sql.types.StringType => UTF8String.fromString(s)
      case org.apache.spark.sql.types.IntegerType => s.toInt
      case org.apache.spark.sql.types.LongType => s.toLong
      case other => sys.error(s"unsupported partition column type $other")
    }
}
