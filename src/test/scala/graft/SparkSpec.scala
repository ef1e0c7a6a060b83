package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite fast; tests only read /root/testdata and temp dirs). */
object SparkSpec {
  // 4 cpus whatever SPARK_GRAFT_CPUS says: spec figures assume 4
  // shuffle partitions
  lazy val spark: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf001 = "/root/testdata/sf0.001"
}

abstract class SparkFunSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf001: String = SparkSpec.sf001
}
