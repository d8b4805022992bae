package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites: the engine's own
  * ([[GraftSession]]), so the suite tests the session that ships. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.start()

  val sf: String = "/root/testdata/sf0.001"
}
