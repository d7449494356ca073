package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.write.{SupportsDynamicOverwrite, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, EqualNullSafe, EqualTo, Filter, InsertableRelation}

/** A catalog table whose INSERTs commit through a staged partitioned
  * writer: [[GraftTable]] (rename swap, [[graft.sources.PartitionedWrite]])
  * and [[GraftManifestTable]] (generation + one pointer PUT,
  * [[graft.sources.ManifestCommit]]). Both the V1 insert of
  * [[PartitionedWriteBuilder]] and the planner's dynamic-overwrite exec
  * ([[graft.plans.GraftStrategies]]) end in [[commitPartitioned]], so the
  * two table kinds map Spark's write modes onto a commit the same way. */
trait PartitionedCommit {
  /** Table directory. */
  def location: String
  /** Ordered partition column names. */
  def partitionColumnNames: Seq[String]

  /** Commit `data` with the `overwrite` / `truncateSpec` semantics of
    * [[graft.sources.PartitionedWrite.writePartitioned]]: no overwrite =
    * append; overwrite with no spec = replace the partitions `data`
    * touches; `Some(Nil)` = replace the whole table; `Some(prefix)` =
    * replace that partition subtree. */
  def commitPartitioned(data: DataFrame, overwrite: Boolean,
      truncateSpec: Option[Seq[(String, String)]]): Unit
}

/** The write builder of every [[PartitionedCommit]] table: Spark's append,
  * static `INSERT OVERWRITE`, `PARTITION (...)`-prefix overwrite and
  * dynamic overwrite, mapped onto one [[PartitionedCommit.commitPartitioned]]
  * through the V1 fallback — `OdpsBatchWrite`'s overwrite-session
  * semantics. */
final class PartitionedWriteBuilder(table: PartitionedCommit)
  extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {

  // None = plain append; Some(Nil) = full-table overwrite (static INSERT
  // OVERWRITE); Some(spec) = static partition-subtree overwrite; dynamic =
  // replace only the written partitions (session partitionOverwriteMode=
  // dynamic at plan time)
  private var truncateSpec: Option[Seq[(String, String)]] = None
  private var dynamic = false

  // satisfies V2Writes; the actual dynamic plan is the exec that
  // GraftStrategies plans onto the same commit
  override def overwriteDynamicPartitions(): WriteBuilder = { dynamic = true; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    val dynamicMode = SparkSession.active.conf
      .get("spark.sql.sources.partitionOverwriteMode", "static")
      .equalsIgnoreCase("dynamic")
    filters match {
      case Array(_: AlwaysTrue) | Array() if dynamicMode => dynamic = true
      case Array(_: AlwaysTrue) | Array() => truncateSpec = Some(Nil)
      case fs =>
        val eqs = fs.map {
          case EqualTo(attr, v) => attr -> String.valueOf(v)
          case EqualNullSafe(attr, v) => attr -> String.valueOf(v)
          case other => sys.error(s"unsupported overwrite filter $other " +
            "(static partition specs only)")
        }.toMap
        // partition spec must be a leading prefix of the partition cols
        val cols = table.partitionColumnNames
        val prefix = cols.takeWhile(eqs.contains)
        require(prefix.size == eqs.size,
          s"overwrite spec $eqs must be a leading prefix of " +
            s"partition columns ${cols.mkString(",")}")
        truncateSpec = Some(prefix.map(c => c -> eqs(c)))
    }
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, ow: Boolean): Unit =
        table.commitPartitioned(data,
          overwrite = dynamic || truncateSpec.isDefined || ow,
          truncateSpec = truncateSpec.orElse(if (ow && !dynamic) Some(Nil) else None))
    }
  }
}
