package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs, built by [[GraftSession]]. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(4)
}
