package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf: String = "/root/testdata/sf0.001"

  /** Run `f` with the given session confs set, restoring each key's
    * previous value (or unset state) afterwards. */
  def withConf[A](kvs: (String, String)*)(f: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}

object SparkTestBase {
  // One JVM-wide session for all suites.
  lazy val session: SparkSession = GraftSession.local()
}
