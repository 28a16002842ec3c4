package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * startup dominates otherwise), built by the same
  * [[SessionTuning.local]] the mains ship. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession =
    SessionTuning.local(4).appName("graft-test").getOrCreate()
}
