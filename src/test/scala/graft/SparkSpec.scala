package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  // the library's standard session config — format("raquet") fails fast
  // without it (metadata-row exclusion lives in an analyzer rule)
  lazy val session: SparkSession = SessionDefaults.session("graft-test")
}
