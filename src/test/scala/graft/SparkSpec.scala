package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, sbt Test/fork): the
  * same engine every main runs, extensions installed from the start. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession(cpus = 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf001 = "/root/testdata/sf0.001"
}
