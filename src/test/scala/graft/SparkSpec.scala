package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Shared local session for all suites (one JVM-wide session keeps the suite
  * fast; tests use tiny literal DataFrames with analytic golden values, the
  * same strategy as the reference's unit tests — SURVEY §5).
  */
object SparkSpec {
  lazy val spark: SparkSession =
    // prefix-sum order-key contract guard ON in tests (off in prod plans)
    GraftSession.local(2, "spark.graft.prefixsum.keyguard" -> "true")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
