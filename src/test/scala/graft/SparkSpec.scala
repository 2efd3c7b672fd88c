package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite, from the factory the mains use. */
trait SparkSpec extends AnyFunSuite {
  // pin the JVM default zone too: java.sql.Timestamp.valueOf interprets
  // its literal in the JVM zone, so fixture timestamps (and the expected
  // render strings) would shift on a non-UTC machine even though the
  // Spark session zone is UTC
  java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))

  lazy val spark: SparkSession = LocalSpark.session(cpus = "4")

  val sf0: String = "/root/testdata/sf0.001"
}
