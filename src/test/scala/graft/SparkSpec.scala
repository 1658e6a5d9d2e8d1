package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  // Delta against GraftSession: temp warehouse; no extension, so specs hit the ensureRegistered fallback.
  lazy val session: SparkSession = GraftSession.local(4, Map(
    "spark.sql.warehouse.dir" -> java.nio.file.Files.createTempDirectory("graft-wh").toString,
    "spark.sql.extensions" -> ""))
}
