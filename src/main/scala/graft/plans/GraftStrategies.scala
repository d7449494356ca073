package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, OverwritePartitionsDynamic}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.catalog.PartitionedCommit

/** Planner strategy for the one write shape Spark cannot route through the
  * V1 fallback: dynamic partition overwrite (`INSERT OVERWRITE` with
  * `partitionOverwriteMode=dynamic`) — there is no
  * `OverwritePartitionsDynamicExecV1`, so without this strategy a
  * partitioned catalog table would need a full custom DSv2 BatchWrite.
  * Instead the logical `OverwritePartitionsDynamic` over any
  * [[PartitionedCommit]] table (a plain [[graft.catalog.GraftTable]] or a
  * manifest-pointer [[graft.catalog.GraftManifestTable]]) is planned onto
  * one exec, [[GraftDynamicOverwriteExec]], which hands the query to the
  * table's own commit with replace-touched-partitions semantics.
  * This is the reference's `OdpsExtensions` strategy-injection pattern
  * (`spark-connector/.../extension/OdpsExtensions.scala:89-149`). */
class GraftStrategies(spark: SparkSession) extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case o: OverwritePartitionsDynamic => o.table match {
      case r: DataSourceV2Relation => r.table match {
        case t: PartitionedCommit => GraftDynamicOverwriteExec(t, o.query, spark) :: Nil
        case _ => Nil
      }
      case _ => Nil
    }
    case _ => Nil
  }
}

object GraftStrategies {
  /** Idempotently attach to a live session (runtime equivalent of
    * configuring GraftExtensions at session build). */
  def install(spark: SparkSession): Unit = {
    val es = spark.experimental.extraStrategies
    if (!es.exists(_.isInstanceOf[GraftStrategies]))
      spark.experimental.extraStrategies = es :+ new GraftStrategies(spark)
  }
}

/** Eagerly-executed command node: materializes the aligned insert query
  * (analysis has already resolved it to the table's column order and
  * names) and commits it as a dynamic partition overwrite. */
case class GraftDynamicOverwriteExec(table: PartitionedCommit, query: LogicalPlan,
    spark: SparkSession) extends LeafExecNode {

  override def output: Seq[Attribute] = Nil

  // Commands normally execute exactly once via executeCollect, but a plan
  // that hits both executeCollect and doExecute must not double-write; the
  // lazy val is the once-guard (thread-safe, one evaluation per instance).
  @transient private lazy val ranOnce: Unit = table.commitPartitioned(
    org.apache.spark.sql.graft.Catalogs.ofRows(spark, query),
    overwrite = true, truncateSpec = None)

  override def executeCollect(): Array[InternalRow] = { ranOnce; Array.empty }

  protected override def doExecute(): RDD[InternalRow] = {
    ranOnce
    sparkContext.emptyRDD
  }
}
