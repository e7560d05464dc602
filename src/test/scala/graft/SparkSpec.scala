package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites (one JVM-wide session): the
  * GraftSession config Bench and Verify run, at 8 cores so test
  * partition counts do not depend on the box.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build(8)

  def sf(s: String = "0.001"): String = s"/root/testdata/sf$s"
}
