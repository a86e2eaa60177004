package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM, one session, built by the
  * engine's own factory so the specs run under the measured config. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Graft.localSession(4)

  val sf0001 = "/root/testdata/sf0.001"
}
