package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; suites run
  * in one forked JVM under `Test / fork := true`).
  */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession(4)
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = SparkSpec.sf
}
