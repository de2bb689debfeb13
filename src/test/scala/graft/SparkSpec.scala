package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session, built
  * by [[graft.Session]] exactly as Verify and Bench build theirs, so the
  * whole suite doubles as an integration test of the shipped session;
  * specs run on the sf0.001 fixtures so the suite stays fast). */
object SparkSpec {
  lazy val spark: SparkSession = Session.build(4)
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir
}
