package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session, scalatest default
  * sequential suites within a JVM). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Sessions.builder("local[4]", 4)
      .appName("graft-test")
      .getOrCreate()
    // WARN, as Sessions.start sets it: Spark's INFO stream would bury the
    // test results under ~10^6 log lines per run.
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
}
