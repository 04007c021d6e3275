package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one JVM-wide SparkSession from
  * [[Tuning.localSession]], with small shuffle partitions for local test
  * speed. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  val sf = "/root/testdata/sf0.001"

  def q(name: String) = SparkEntry.queries(name)(spark, sf)
}

object SparkSpec {
  /** Built once per JVM rather than once per suite: a repeated build
    * would only re-apply static confs Spark ignores (and warns about). */
  lazy val session: SparkSession = Tuning.localSession(4, Some(8))
}
