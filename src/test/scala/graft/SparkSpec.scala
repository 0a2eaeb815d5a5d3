package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val Sf: String = "/root/testdata/sf0.001"

  /** The number of Spark jobs `body` starts on this thread, counted by a
    * listener that filters on a job group of its own, so jobs of other
    * threads are not counted. */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
          if (g == group) jobs.incrementAndGet()
          else if (g == s"$group-marker") marker.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      // Listener events arrive in order: once the marker job is seen,
      // every job of `body` has been counted.
      sc.setJobGroup(s"$group-marker", "marker")
      try spark.range(1).collect() finally sc.clearJobGroup()
      assert(marker.await(30, TimeUnit.SECONDS), "listener never saw the marker job")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
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
