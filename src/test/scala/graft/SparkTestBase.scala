package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every suite shares the JVM's one session from [[Session.get]] on
  * `local[4]`: the library's confs and [[graft.plans.GraftExtensions]],
  * whichever suite asks first, so every spec runs under the extension and
  * the whole suite doubles as the no-regression witness for its rule. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Session.get("local[4]")

  def sf0001 = "/root/testdata/sf0.001"
}
