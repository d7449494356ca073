package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import org.apache.spark.sql.graft.NativeFunctions

/** Session extensions: inject the native expressions as SQL functions —
  * the registration pattern of the reference's `OdpsExtensions`
  * (`spark-connector/.../extension/OdpsExtensions.scala:190-194`), minus
  * the write-rule machinery Spark's file sources already cover.
  *
  * Use: `.config("spark.sql.extensions", "graft.GraftExtensions")`, or call
  * [[org.apache.spark.sql.graft.NativeFunctions.register]] on a live
  * session; both install [[org.apache.spark.sql.graft.NativeFunctions.sqlFunctions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    NativeFunctions.sqlFunctions.foreach { case (name, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(NativeFunctions.getClass.getName, name), build))
    }
}
