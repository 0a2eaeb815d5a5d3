package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val Sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    val s = GraftSession.builder(cores = "4").appName("graft-test")
      .config("spark.sql.warehouse.dir", wh)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A child session whose pins are reliable checkpoints. The
    * checkpoint dir is set once per SparkContext, by the first reliable
    * pin, so every spec shares this one. */
  def reliableSession(): SparkSession = {
    val s = session.newSession()
    s.conf.set("spark.graft.checkpoint.reliable", "true")
    s.conf.set("spark.graft.checkpoint.dir", checkpointDir)
    s
  }

  private lazy val checkpointDir =
    java.nio.file.Files.createTempDirectory("graft-checkpoints").toString
}
