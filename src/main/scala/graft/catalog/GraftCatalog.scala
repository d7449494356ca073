package graft.catalog

import java.util.Collections

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{Fs, ManifestCommit}

/** A Spark `TableCatalog` over a filesystem metastore: namespaces are
  * directories, tables are directories of partitioned parquet plus a
  * `_graft_meta.json` holding the catalog-owned schema (data + partition
  * columns split, like `OdpsTable`'s dataSchema/partitionSchema —
  * `spark-connector/.../OdpsTable.scala:81-97`). Scan and write delegate to
  * Spark's built-in Parquet DSv2, so partition pruning, filter pushdown and
  * vectorized read are the stock Catalyst paths (SURVEY §3.1 "our engine"
  * note) — the catalog contributes metadata semantics only:
  * create/alter/drop/rename, namespace listing
  * (`OdpsTableCatalog.scala:457-509`), and explicit partition management
  * (`OdpsTableCatalog.scala:402-425`).
  *
  * All file operations go through the Hadoop `FileSystem` API ([[Fs]]), so
  * `root` may live on local disk, HDFS, or an object store.
  *
  * Register with:
  * {{{
  *   spark.sql.catalog.graft      = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.root = /path/to/warehouse
  * }}}
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ViewCatalog {

  private var catalogName: String = _
  private var root: HPath = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = new HPath(Option(options.get("root"))
      .getOrElse(sys.error(s"catalog $name needs option 'root'")))
    Fs.mkdirs(root)
  }

  override def name(): String = catalogName

  private def nsPath(ns: Array[String]): HPath =
    ns.foldLeft(root)(new HPath(_, _))
  private def tablePath(ident: Identifier): HPath =
    new HPath(nsPath(ident.namespace()), ident.name())
  private def metaFile(dir: HPath): HPath = new HPath(dir, "_graft_meta.json")

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] =
    Fs.listDirs(root).map(p => Array(p.getName)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    Fs.isDir(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    if (namespaceExists(namespace)) throw new NamespaceAlreadyExistsException(namespace)
    Fs.mkdirs(nsPath(namespace))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!Fs.isDir(p)) false
    else {
      if (!cascade && !Fs.isEmptyDir(p))
        sys.error(s"namespace ${namespace.mkString(".")} is not empty")
      // cascade removes tables wholesale — drop their cached meta/stats too
      if (cascade) listTables(namespace).foreach(invalidateCached)
      Fs.delete(p)
      true
    }
  }

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Fs.listDirs(nsPath(namespace))
      .filter(p => Fs.exists(metaFile(p)))
      .map(p => Identifier.of(namespace, p.getName)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    Fs.exists(metaFile(tablePath(ident)))

  /** Drop a table's cached meta + stats entries — called by every DDL
    * through this catalog so same-process readers never see their own
    * changes stale ([[MetaCache]] coherence contract). */
  private def invalidateCached(ident: Identifier): Unit = {
    val dir = tablePath(ident)
    MetaCache.meta.invalidate(metaFile(dir).toString)
    MetaCache.stats.invalidate(TableStatistics.statsFile(dir).toString)
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = tablePath(ident)
    // Cached ([[MetaCache.meta]], TTL'd): every query resolution lands
    // here, and the uncached form is an exists+read against the metastore
    // per table per query. DDL through this catalog invalidates; foreign
    // DDL becomes visible within the TTL.
    val meta =
      try MetaCache.meta.get(metaFile(dir).toString) {
        if (!Fs.exists(metaFile(dir))) throw new NoSuchTableException(ident)
        TableMeta.read(metaFile(dir))
      } catch {
        // not a table — maybe a metadata-table suffix on a real table
        // (`cat.ns.t.history`, the Iceberg-style identifier shape)
        case e: NoSuchTableException =>
          metadataTableFor(ident).foreach(t => return t)
          throw e
      }
    // initialize() may have run without an active session; every query
    // path goes through loadTable, so (re-)install the write strategy here
    graft.plans.GraftStrategies.install(SparkSession.active)
    if (meta.isView) new GraftViewTable(ident, meta)
    else {
      // external tables read their data from the recorded location, not
      // the warehouse directory that holds only their metadata — and their
      // stats file homes with the metadata (never inside external data)
      val dataDir = dataDirOf(dir, meta)
      // manifest-pointer tables get the pointer-resolving table: declared
      // by property at CREATE, or detected on an external LOCATION that
      // already carries a committed pointer
      if (isManifestMeta(meta, dataDir))
        new GraftManifestTable(ident, dataDir, meta, SparkSession.active)
      else new GraftTable(ident, dataDir, meta, SparkSession.active,
        statsDir = if (meta.isExternal) Some(dir) else None)
    }
  }

  private def isManifestMeta(meta: TableMeta, dataDir: HPath): Boolean =
    meta.properties.get(GraftManifestTable.CommitModeKey)
      .exists(_.equalsIgnoreCase("manifest")) ||
      (meta.isExternal && ManifestCommit.isManifestTable(dataDir.toString))

  /** `VERSION AS OF <pointer-id>` — catalog-surfaced time travel for
    * manifest-pointer tables ([[GraftManifestTable]]). The version
    * string is the pointer id ([[ManifestCommit.history]] /
    * `cat.ns.t.history` list them). */
  override def loadTable(ident: Identifier, version: String): Table =
    loadTable(ident) match {
      case m: GraftManifestTable =>
        val id = try version.trim.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"VERSION AS OF '$version' on $ident: the version of a " +
              "manifest-pointer table is its numeric pointer id " +
              s"(see ${ident}.history)")
        }
        new GraftManifestTable(ident, new HPath(m.location), metaOf(ident),
          SparkSession.active, pointerId = Some(id))
      case _ => throw new UnsupportedOperationException(
        s"$ident is not a manifest-pointer table — time travel needs " +
          s"'${GraftManifestTable.CommitModeKey}'='manifest'")
    }

  /** `TIMESTAMP AS OF <ts>` — resolve to the newest pointer committed
    * at or before `timestampMicros` (pointer-file mtime). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    loadTable(ident) match {
      case m: GraftManifestTable =>
        new GraftManifestTable(ident, new HPath(m.location), metaOf(ident),
          SparkSession.active, asOfTimestampMicros = Some(timestampMicros))
      case _ => throw new UnsupportedOperationException(
        s"$ident is not a manifest-pointer table — time travel needs " +
          s"'${GraftManifestTable.CommitModeKey}'='manifest'")
    }

  private def metaOf(ident: Identifier): TableMeta =
    TableMeta.read(metaFile(tablePath(ident)))

  /** Resolve `cat.ns.t.history` (parsed by Spark as table name
    * `history` under namespace `ns.t`) to the commit-log metadata table
    * when `ns.t` is a manifest-pointer table. */
  private def metadataTableFor(ident: Identifier): Option[Table] = {
    if (ident.namespace().isEmpty ||
        !ident.name().equalsIgnoreCase("history")) return None
    val parent = Identifier.of(
      ident.namespace().dropRight(1), ident.namespace().last)
    val parentMetaFile = metaFile(tablePath(parent))
    if (!Fs.exists(parentMetaFile)) return None
    val meta = TableMeta.read(parentMetaFile)
    val dataDir = dataDirOf(tablePath(parent), meta)
    if (!meta.isView && isManifestMeta(meta, dataDir))
      Some(new GraftManifestHistoryTable(ident, dataDir))
    else None
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (!namespaceExists(ident.namespace())) throw new NoSuchNamespaceException(ident.namespace())
    // CREATE EXTERNAL TABLE ... LOCATION — Spark passes the reserved
    // "external"/"location" properties; recorded as EXTERNAL_TABLE with the
    // data directory outside the warehouse (`OdpsTable.scala:37-44`).
    val external = Option(properties.get(TableCatalog.PROP_EXTERNAL))
      .exists(_.equalsIgnoreCase("true"))
    val location = Option(properties.get(TableCatalog.PROP_LOCATION))
    require(!external || location.isDefined,
      s"external table $ident needs an explicit LOCATION")
    val externalProps: Map[String, String] =
      if (external) Map(TableMeta.TypeKey -> "EXTERNAL_TABLE",
        TableMeta.ExternalLocationKey -> location.get)
      else Map.empty
    var bucketProps = Map.empty[String, String]
    val partitionCols = partitions.flatMap { t =>
      t.name() match {
        case "identity" => Some(t.references()(0).fieldNames().mkString("."))
        case "bucket" =>
          // bucket(n, cols...) → hash-clustered table (OdpsBucketSpec hash
          // variant, `OdpsTable.scala:46-79`); recorded as properties, the
          // write path enforces distribution+ordering.
          val n = t.arguments().collectFirst {
            case lit: org.apache.spark.sql.connector.expressions.Literal[_] =>
              lit.value().toString.toInt
          }.getOrElse(sys.error("bucket transform needs a bucket count"))
          val cols = t.references().map(_.fieldNames().mkString("."))
          require(bucketProps.isEmpty,
            "bucket(...) and range_cluster(...) cannot be combined — one " +
              "cluster layout per table (a silent merge would discard one)")
          bucketProps = Map(
            GraftTable.BucketColsKey -> cols.mkString(","),
            GraftTable.BucketCountKey -> n.toString)
          None
        case "range_cluster" =>
          // range_cluster(n, cols...) → range-clustered table (the
          // reference's `range` cluster type, `OdpsTable.scala:46-79`).
          // Directions default ASC; per-column DESC via the
          // 'graft.range.cols' table property ("col DESC, col2 ASC").
          val n = t.arguments().collectFirst {
            case lit: org.apache.spark.sql.connector.expressions.Literal[_] =>
              lit.value().toString.toInt
          }.getOrElse(sys.error("range_cluster transform needs a partition count"))
          val cols = t.references().map(_.fieldNames().mkString("."))
          require(bucketProps.isEmpty,
            "bucket(...) and range_cluster(...) cannot be combined — one " +
              "cluster layout per table (a silent merge would discard one)")
          // an explicit 'graft.range.cols' TBLPROPERTY (carrying DESC
          // directions) wins over the transform's ASC default
          val colsProp: Map[String, String] =
            if (properties.containsKey(GraftTable.RangeColsKey)) Map.empty
            else Map(GraftTable.RangeColsKey -> cols.mkString(","))
          bucketProps = colsProp + (GraftTable.RangeCountKey -> n.toString)
          None
        case other => sys.error(s"unsupported partition transform: $other " +
          "(identity, bucket and range_cluster, like the reference's partition/cluster specs)")
      }
    }
    // v1 limitation, enforced rather than silently broken: the partitioned
    // write path (V1 staged partition writer) lays out partition dirs and
    // does NOT apply hash/range cluster distribution — a table advertising
    // both would carry a clustering contract its writes never establish
    require(partitionCols.isEmpty || bucketProps.isEmpty,
      "a table cannot be both partitioned and hash/range-clustered: the " +
        "partitioned write path does not enforce cluster distribution")
    val finalProps =
      properties.asScala.toMap ++ bucketProps ++ externalProps
    // manifest-pointer commit mode: partition-granular pointer entries
    // are the commit unit, so the table must be partitioned, and the
    // generation writer lays out col=value dirs (no cluster distribution)
    if (finalProps.get(GraftManifestTable.CommitModeKey)
        .exists(_.equalsIgnoreCase("manifest"))) {
      require(partitionCols.nonEmpty,
        s"'${GraftManifestTable.CommitModeKey}'='manifest' needs at least " +
          "one identity partition column — the pointer commits per-partition")
      require(bucketProps.isEmpty,
        "manifest commit mode cannot be combined with bucket/range " +
          "clustering: the generation writer does not establish cluster " +
          "distribution")
    }
    // a hand-written range spec (TBLPROPERTIES) must name real columns,
    // and when the range_cluster transform is also given, the SAME
    // columns — otherwise the advertised clustering and the effective
    // write sort silently diverge
    finalProps.get(GraftTable.RangeColsKey).foreach { spec =>
      val parsed = GraftTable.parseRangeCols(spec)
      parsed.foreach { case (c, _) =>
        require(schema.fieldNames.contains(c),
          s"range-cluster column $c is not in the table schema")
      }
      if (properties.containsKey(GraftTable.RangeColsKey) &&
          partitions.exists(_.name() == "range_cluster")) {
        // compare ORDER, not just membership — a reordered TBLPROPERTIES
        // spec would silently sort writes differently from the transform
        // the table advertises
        val fromTransform = partitions.find(_.name() == "range_cluster").get
          .references().map(_.fieldNames().mkString(".")).toSeq
        require(parsed.map(_._1) == fromTransform,
          s"'${GraftTable.RangeColsKey}' names ${parsed.map(_._1)} but " +
            s"range_cluster(...) declares $fromTransform — the columns and " +
            "their order must match")
      }
    }
    val dir = tablePath(ident)
    Fs.mkdirs(dir)
    TableMeta(schema, partitionCols.toSeq, finalProps)
      .write(metaFile(dir))
    invalidateCached(ident)
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tablePath(ident)
    if (!Fs.exists(metaFile(dir))) throw new NoSuchTableException(ident)
    var meta = TableMeta.read(metaFile(dir))
    require(!meta.isView,
      s"$ident is a view — its schema derives from its SQL; use ALTER VIEW")
    changes.foreach {
      case p: TableChange.SetProperty =>
        meta = meta.copy(properties = meta.properties + (p.property() -> p.value()))
      case p: TableChange.RemoveProperty =>
        meta = meta.copy(properties = meta.properties - p.property())
      case a: TableChange.AddColumn =>
        val f = StructField(a.fieldNames().mkString("."), a.dataType(), a.isNullable)
        meta = meta.copy(schema = StructType(meta.schema.fields :+ f))
      case r: TableChange.RenameColumn =>
        val from = r.fieldNames().mkString(".")
        require(!meta.partitionCols.contains(from),
          s"cannot rename partition column $from")
        require(!clusterColsOf(meta).contains(from),
          s"cannot rename cluster column $from — the stored bucket/range " +
            "spec would reference a nonexistent column and every write " +
            "would fail analysis")
        // metadata-only rename over existing parquet (resolved by name)
        // would silently read the renamed column as NULL — require rewrite
        require(!hasDataFiles(dataDirOf(dir, meta)),
          s"RENAME COLUMN requires a table rewrite on non-empty tables")
        meta = meta.copy(schema = StructType(meta.schema.fields.map(f =>
          if (f.name == from) f.copy(name = r.newName()) else f)))
      case d: TableChange.DeleteColumn =>
        val name = d.fieldNames().mkString(".")
        require(!meta.partitionCols.contains(name),
          s"cannot drop partition column $name")
        require(!clusterColsOf(meta).contains(name),
          s"cannot drop cluster column $name — the stored bucket/range " +
            "spec would reference a nonexistent column and every write " +
            "would fail analysis")
        require(meta.schema.fieldNames.contains(name), s"no such column $name")
        // dropping then re-adding over existing files would resurrect data
        require(!hasDataFiles(dataDirOf(dir, meta)),
          s"DROP COLUMN requires a table rewrite on non-empty tables")
        meta = meta.copy(schema =
          StructType(meta.schema.fields.filterNot(_.name == name)))
      case c => throw new UnsupportedOperationException(s"alterTable: $c")
    }
    meta.write(metaFile(dir))
    invalidateCached(ident)
    loadTable(ident)
  }

  /** Columns named by the table's hash/range cluster spec, if any. */
  private def clusterColsOf(meta: TableMeta): Set[String] =
    (meta.properties.get(GraftTable.BucketColsKey).toSeq
      .flatMap(_.split(",").map(_.trim)) ++
      meta.properties.get(GraftTable.RangeColsKey).toSeq
        .flatMap(GraftTable.parseRangeCols(_).map(_._1))).toSet

  /** Where the table's data actually lives (external location or the
    * warehouse directory). */
  private def dataDirOf(dir: HPath, meta: TableMeta): HPath =
    meta.externalLocation.map(new HPath(_)).getOrElse(dir)

  /** Any data under the table dir: partition dirs or bare parquet files. */
  private def hasDataFiles(dir: HPath): Boolean =
    Fs.exists(dir) && Fs.of(dir).listStatus(dir).exists(s =>
      (s.isFile && s.getPath.getName.endsWith(".parquet")) ||
        (s.isDirectory && s.getPath.getName.contains("=")))

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tablePath(ident)
    if (!Fs.exists(metaFile(dir))) false
    else {
      // symmetric with dropView (which refuses tables): a view is not
      // droppable through the table path. A torn/corrupt meta file (crash
      // mid-create) must still be droppable: unreadable meta is treated as
      // a managed table — the warehouse dir is catalog-owned either way,
      // and external data never lives inside it.
      require(!scala.util.Try(TableMeta.read(metaFile(dir)))
          .toOption.exists(_.isView),
        s"$ident is a view — use DROP VIEW")
      // DROP on an external table removes METADATA ONLY — the data at the
      // external location must survive (the reference's external-table
      // drop contract). The warehouse dir of an external table holds only
      // `_graft_meta.json`, so deleting it never touches data.
      Fs.delete(dir)
      invalidateCached(ident)
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    // same view guard as dropTable/alterTable: a view is not renameable
    // through the table path (renameView uses the raw move below)
    require(!scala.util.Try(TableMeta.read(metaFile(tablePath(oldIdent))))
        .toOption.exists(_.isView),
      s"$oldIdent is a view — rename it through the view catalog")
    moveTableDir(oldIdent, newIdent)
  }

  private def moveTableDir(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    // Hadoop rename reports failure as false, not an exception
    if (!Fs.rename(tablePath(oldIdent), tablePath(newIdent)))
      sys.error(s"rename failed: ${tablePath(oldIdent)} -> ${tablePath(newIdent)} " +
        "(does the target namespace exist?)")
    invalidateCached(oldIdent)
    invalidateCached(newIdent)
  }

  // ---- views (DSv2 ViewCatalog; the reference's VIRTUAL_VIEW table type,
  //      `OdpsTable.scala:37-44`) ----

  private def readMetaIfView(ident: Identifier): Option[TableMeta] = {
    val f = metaFile(tablePath(ident))
    // cached like loadTable's read — view resolution (and SHOW VIEWS over
    // a namespace) would otherwise re-LIST+GET per table per call, the
    // exact metastore hotspot MetaCache exists to remove; view DDL goes
    // through invalidateCached, so the coherence contract is the same
    if (!Fs.exists(f)) None
    else Some(MetaCache.meta.get(f.toString)(TableMeta.read(f)))
      .filter(_.isView)
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    Fs.listDirs(nsPath(ns))
      .filter(p => Fs.exists(metaFile(p)))
      .map(p => Identifier.of(ns, p.getName))
      .filter(id => readMetaIfView(id).isDefined).toArray
  }

  override def viewExists(ident: Identifier): Boolean =
    readMetaIfView(ident).isDefined

  override def loadView(ident: Identifier): View =
    readMetaIfView(ident)
      .map(new GraftViewTable(ident, _))
      .getOrElse(throw new NoSuchViewException(ident))

  override def createView(info: ViewInfo): View = {
    val ident = info.ident()
    if (tableExists(ident) || viewExists(ident))
      throw new TableAlreadyExistsException(ident)
    if (!namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(ident.namespace())
    val props = info.properties().asScala.toMap ++ Map(
      TableMeta.TypeKey -> "VIRTUAL_VIEW",
      TableMeta.ViewTextKey -> info.sql(),
      TableMeta.ViewCatalogKey -> info.currentCatalog(),
      TableMeta.ViewNamespaceKey -> info.currentNamespace().mkString("."))
    val dir = tablePath(ident)
    Fs.mkdirs(dir)
    TableMeta(info.schema(), Seq.empty, props).write(metaFile(dir))
    invalidateCached(ident)
    loadView(ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val meta = readMetaIfView(ident)
      .getOrElse(throw new NoSuchViewException(ident))
    val props = changes.foldLeft(meta.properties) {
      case (ps, s: ViewChange.SetProperty) => ps + (s.property() -> s.value())
      case (ps, r: ViewChange.RemoveProperty) => ps - r.property()
      case (_, c) => throw new UnsupportedOperationException(s"alterView: $c")
    }
    meta.copy(properties = props).write(metaFile(tablePath(ident)))
    invalidateCached(ident)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    readMetaIfView(ident) match {
      case Some(_) =>
        Fs.delete(tablePath(ident)); invalidateCached(ident); true
      case None => false
    }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (readMetaIfView(oldIdent).isEmpty) throw new NoSuchViewException(oldIdent)
    moveTableDir(oldIdent, newIdent)
  }
}

/** A stored view, usable both as the DSv2 `View` and as the `Table` that
  * table-path resolution sees. Like the reference, a view is NOT readable
  * by direct table scan (`OdpsScan.scala:152-156` throws
  * `odpsTable is virtual view, not support read`): `newScanBuilder` raises
  * the same guard, and the absence of write capabilities rejects writes at
  * analysis. Resolution happens by planning the stored SQL —
  * [[CatalogFunctions.viewDf]]. */
final class GraftViewTable(ident: Identifier, meta: TableMeta)
  extends Table with SupportsRead with View {

  override def name(): String = ident.toString
  override def schema(): StructType = meta.schema
  override def properties(): java.util.Map[String, String] =
    meta.properties.asJava
  // BATCH_READ is advertised so resolution reaches newScanBuilder, where
  // the explicit virtual-view guard fires (clearer than the generic
  // "does not support batch scan"); no write capability → writes rejected.
  override def capabilities(): java.util.Set[TableCapability] =
    Collections.singleton(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    throw new UnsupportedOperationException(
      s"$name is a virtual view, not readable by table scan — " +
        s"plan its SQL instead (CatalogFunctions.viewDf)")

  override def query(): String = meta.viewText.getOrElse(
    sys.error(s"view $name has no stored SQL"))
  override def currentCatalog(): String =
    meta.properties.getOrElse(TableMeta.ViewCatalogKey, "spark_catalog")
  override def currentNamespace(): Array[String] =
    meta.properties.get(TableMeta.ViewNamespaceKey)
      .map(_.split("\\.").filter(_.nonEmpty)).getOrElse(Array.empty)
  override def queryColumnNames(): Array[String] = meta.schema.fieldNames
  override def columnAliases(): Array[String] = Array.empty
  override def columnComments(): Array[String] = Array.empty
}

/** Catalog-aware scalar helpers. */
object CatalogFunctions {

  private def viewCatalog(spark: SparkSession, name: String): ViewCatalog =
    org.apache.spark.sql.graft.Catalogs.plugin(spark, name)
      .asInstanceOf[ViewCatalog]

  /** CREATE VIEW: plans the SQL once (validating it and capturing the
    * output schema — the reference stores a view's schema with the table
    * meta) and stores it as a VIRTUAL_VIEW catalog object, together with
    * the session's current catalog/namespace so [[viewDf]] can re-resolve
    * unqualified names in the DEFINING context. */
  def createView(spark: SparkSession, catalogName: String,
      namespace: Array[String], name: String, sql: String): Unit = {
    val schema = spark.sql(sql).schema // plan, don't execute
    val (defCat, defNs) = org.apache.spark.sql.graft.Catalogs.currentContext(spark)
    viewCatalog(spark, catalogName).createView(new ViewInfo(
      Identifier.of(namespace, name), sql,
      defCat, defNs, schema,
      schema.fieldNames, Array.empty, Array.empty,
      Collections.emptyMap[String, String]()))
  }

  /** Resolve a stored view by planning its SQL — the read path for
    * VIRTUAL_VIEW objects (direct table scans are guarded off, like the
    * reference's `OdpsScan.scala:152-156`). The SQL is planned in the
    * catalog/namespace where the view was DEFINED (persisted at create
    * time), so unqualified table names resolve as they did for the view's
    * author, not wherever the reader's session currently points. */
  def viewDf(spark: SparkSession, catalogName: String,
      namespace: Array[String], name: String): org.apache.spark.sql.DataFrame = {
    val v = viewCatalog(spark, catalogName)
      .loadView(Identifier.of(namespace, name))
    val df = org.apache.spark.sql.graft.Catalogs.withCurrentContext(
      spark, v.currentCatalog(), v.currentNamespace())(spark.sql(v.query))
    require(df.schema.fieldNames.sameElements(v.schema.fieldNames),
      s"view $name: stored schema ${v.schema.simpleString} no longer matches " +
        s"its SQL (underlying table changed?)")
    df
  }

  private def loadTable(spark: SparkSession, catalogName: String,
      namespace: Array[String], table: String): Table =
    org.apache.spark.sql.graft.Catalogs.plugin(spark, catalogName)
      .asInstanceOf[TableCatalog].loadTable(Identifier.of(namespace, table))

  /** Explicit ANALYZE: recompute and persist a catalog table's row/byte
    * statistics from the committed files (commits refresh automatically;
    * this covers tables written outside the catalog, e.g. external data
    * that changed). Returns the fresh stats. */
  def analyzeTable(spark: SparkSession, catalogName: String,
      namespace: Array[String], table: String): TableStatistics.TableStats =
    loadTable(spark, catalogName, namespace, table) match {
      case gt: GraftTable => TableStatistics.refresh(
        new HPath(gt.location), gt.partitionColumnNames,
        Some(new HPath(gt.statsLocation)))
      case other => sys.error(s"cannot analyze ${other.name()}")
    }

  /** Small-file compaction of a managed catalog table (see
    * [[graft.sources.Maintenance.compactPartitions]]): rewrites only the
    * fragmented partitions, then refreshes the table statistics scoped to
    * exactly those partitions. A manifest-pointer table compacts under its
    * own pointer commit (one new pointer, no stats file). Rejected for
    * hash/range-clustered tables (a hash rewrite would break their
    * bucket-to-file contract — re-insert through their declarative write
    * path instead) and for external tables (the catalog never writes into
    * external data directories). Returns the rewritten partition
    * rel-paths. */
  def compactTable(spark: SparkSession, catalogName: String,
      namespace: Array[String], table: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Seq[String] =
    rewriteLayout(spark, catalogName, namespace, table, "compact",
        "compaction would break its bucket layout") { t =>
      graft.sources.Maintenance.compactPartitions(
        spark, t.location, t.partitionColumnNames, targetFileBytes)
    }

  /** Rewrite a managed table's files Z-order-clustered on `zorderCols`
    * (the `OPTIMIZE … ZORDER BY` maintenance op —
    * [[graft.sources.Maintenance.zorderRewrite]]): files come out tight in
    * every clustering dimension, so min/max skipping serves predicates on
    * any of them. Same eligibility rules as compaction — a hash/range-
    * clustered table's layout is already a contract, and external data is
    * never rewritten. Refreshes stats for the rewritten scope. */
  def zorderTable(spark: SparkSession, catalogName: String,
      namespace: Array[String], table: String, zorderCols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024): Seq[String] =
    rewriteLayout(spark, catalogName, namespace, table, "zorder",
        "its layout is already a contract") { t =>
      val cols = t.columns().map(_.name()).toSet
      zorderCols.foreach(c => require(cols.contains(c),
        s"zorder column $c is not a column of $table"))
      require(zorderCols.forall(c => !t.partitionColumnNames.contains(c)),
        "zorder columns must be data columns, not partition columns")
      graft.sources.Maintenance.zorderRewrite(
        spark, t.location, t.partitionColumnNames, zorderCols, targetFileBytes)
    }

  /** The one eligibility check and stats refresh of a layout rewrite: the
    * table must be a managed, unclustered catalog table; after `rewrite`
    * a [[GraftTable]]'s stats are refreshed scoped to the rewritten
    * partitions (a manifest table keeps no stats file). */
  private def rewriteLayout(spark: SparkSession, catalogName: String,
      namespace: Array[String], table: String, op: String, clustered: String)(
      rewrite: Table with PartitionedCommit => Seq[String]): Seq[String] =
    loadTable(spark, catalogName, namespace, table) match {
      case t: PartitionedCommit =>
        val props = t.properties()
        require(!props.containsKey(GraftTable.BucketColsKey) &&
          !props.containsKey(GraftTable.RangeColsKey),
          s"$table is clustered; $clustered")
        require(!props.containsKey(TableMeta.ExternalLocationKey),
          s"$table is external; the catalog does not rewrite external data")
        val rels = rewrite(t)
        t match {
          case gt: GraftTable if rels.nonEmpty => TableStatistics.refresh(
            new HPath(gt.location), gt.partitionColumnNames,
            Some(new HPath(gt.statsLocation)),
            Some(TableStatistics.Touched(rels.filter(_.nonEmpty))))
          case _ =>
        }
        rels
      case other => sys.error(s"cannot $op ${other.name()}")
    }

  /** Reclaim crashed-commit staging debris under a managed table's
    * directory ([[graft.sources.Maintenance.vacuumStaging]]). */
  def vacuumTable(spark: SparkSession, catalogName: String,
      namespace: Array[String], table: String, ttlMs: Long): Seq[String] =
    loadTable(spark, catalogName, namespace, table) match {
      case gt: GraftTable =>
        graft.sources.Maintenance.vacuumStaging(gt.location, ttlMs)
      case other => sys.error(s"cannot vacuum ${other.name()}")
    }

  /** `max_pt(table)` — the latest partition value of a partitioned catalog
    * table, resolved from the PARTITION LISTING (no data scan), exactly the
    * reference's MaxPtUDF
    * (`spark-connector/common/src/main/java/org/apache/spark/sql/odps/udf/MaxPtUDF.java:30-41`).
    * A manifest-pointer table's partitions come from its latest pointer. */
  def maxPt(spark: SparkSession, catalogName: String, namespace: Array[String],
      table: String): Option[String] =
    loadTable(spark, catalogName, namespace, table) match {
      case m: GraftManifestTable =>
        maxFirstColumn(table, m.partitionSchema, m.pointerPartitions)
      case pm: SupportsPartitionManagement =>
        maxFirstColumn(table, pm.partitionSchema(),
          pm.listPartitionIdentifiers(Array.empty, InternalRow.empty).toSeq)
      case _ => sys.error(s"$table does not support partition management")
    }

  private def maxFirstColumn(table: String, ps: StructType,
      partitions: Seq[InternalRow]): Option[String] = {
    require(ps.nonEmpty, s"$table is not partitioned")
    val dt = ps(0).dataType
    val raw = partitions.map(_.get(0, dt))
    // compare in the PARTITION COLUMN'S type — a string max over
    // numeric partitions returns "9" > "10" and serves stale data
    if (raw.isEmpty) None
    else Some((dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType =>
        raw.maxBy(_.asInstanceOf[Number].longValue())
      case FloatType | DoubleType =>
        raw.maxBy(_.asInstanceOf[Number].doubleValue())
      case _ => raw.maxBy(_.toString)
    }).toString)
  }
}

/** Catalog-owned table metadata: full schema + ordered partition columns —
  * the dataSchema/partitionSchema split is derived (`OdpsTable.scala:97`
  * builds full = data ++ partition; we store full and the partition names).
  * Hand-rolled JSON via Spark's DataType json codec (no extra deps). */
final case class TableMeta(schema: StructType, partitionCols: Seq[String],
    properties: Map[String, String]) {

  def dataSchema: StructType =
    StructType(schema.filterNot(f => partitionCols.contains(f.name)))
  def partitionSchema: StructType =
    StructType(partitionCols.map(c => schema(c)))

  /** MANAGED_TABLE | EXTERNAL_TABLE | VIRTUAL_VIEW — the reference's
    * first-class table-type distinction (`OdpsTable.scala:37-44`). */
  def tableType: String =
    properties.getOrElse(TableMeta.TypeKey, "MANAGED_TABLE")
  def isView: Boolean = tableType == "VIRTUAL_VIEW"
  def isExternal: Boolean = tableType == "EXTERNAL_TABLE"
  /** Stored view SQL (VIRTUAL_VIEW only). */
  def viewText: Option[String] = properties.get(TableMeta.ViewTextKey)
  /** Data directory of an EXTERNAL_TABLE (outside the warehouse). */
  def externalLocation: Option[String] =
    properties.get(TableMeta.ExternalLocationKey)

  def write(file: HPath): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val props = properties.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    val json =
      s"""{"schemaJson": ${q(schema.json)},
         | "partitionCols": [${partitionCols.map(q).mkString(",")}],
         | "properties": $props}""".stripMargin
    Fs.writeString(file, json)
  }
}

object TableMeta {
  val TypeKey = "graft.table.type"
  val ViewTextKey = "graft.view.text"
  val ViewCatalogKey = "graft.view.currentCatalog"
  val ViewNamespaceKey = "graft.view.currentNamespace"
  val ExternalLocationKey = "graft.external.location"

  def read(file: HPath): TableMeta = {
    val json = Fs.readString(file)
    // Minimal JSON extraction (we wrote it; fields are in fixed order).
    def field(name: String): String = {
      val i = json.indexOf("\"" + name + "\"")
      require(i >= 0, s"missing $name in $file")
      json.substring(i)
    }
    def str(tail: String): String = {
      val sb = new StringBuilder
      var i = tail.indexOf(':')
      while (tail(i) != '"') i += 1
      i += 1
      while (tail(i) != '"') {
        if (tail(i) == '\\') { sb.append(tail(i + 1)); i += 2 }
        else { sb.append(tail(i)); i += 1 }
      }
      sb.toString
    }
    val schema = DataType.fromJson(str(field("schemaJson"))).asInstanceOf[StructType]
    val colsRaw = field("partitionCols")
    val cols = "\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(colsRaw.substring(colsRaw.indexOf('['), colsRaw.indexOf(']') + 1))
      .map(m => unescape(m.group(1))).toSeq
    val propsRaw = field("properties")
    val propsBody = propsRaw.substring(propsRaw.indexOf('{'), propsRaw.lastIndexOf('}') + 1)
    val props = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(propsBody)
      .map(m => unescape(m.group(1)) -> unescape(m.group(2))).toMap
    TableMeta(schema, cols, props)
  }

  /** Inverse of the write-side `q()` escaping — without it, stored view
    * SQL containing quotes or backslashes (regex predicates!) would be
    * corrupted on the read round-trip. */
  private def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) { sb.append(s.charAt(i + 1)); i += 2 }
      else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }
}
