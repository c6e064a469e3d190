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
  lazy val session: SparkSession = {
    // a spark.* system property is a SparkConf default that create()
    // leaves alone
    System.setProperty("spark.sql.warehouse.dir",
      s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
    val s = GraftSession.create("local[4]", 4, "graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
