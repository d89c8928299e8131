package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs: the engine's own builder at 4
  * cores, so tests run under the confs the engine ships and get
  * `GraftExtensions` the way every session does (service loading).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession =
    Sessions.localBuilder("4").appName("graft-test").getOrCreate()
}
