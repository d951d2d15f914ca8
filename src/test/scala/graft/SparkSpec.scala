package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — sbt
  * forks a single test JVM, and scalatest suites run sequentially in it).
  * A fixed width of 4, so partition-dependent assertions do not depend on
  * the host's cores.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.create(4)
}
