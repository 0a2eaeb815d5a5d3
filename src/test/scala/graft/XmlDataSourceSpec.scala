package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.XmlRecordSource

class XmlDataSourceSpec extends SparkSpec {

  private def writeXml(dir: File, name: String, records: Seq[Seq[(String, String)]]): Unit =
    Files.writeString(new File(dir, name).toPath,
      XmlRecordSource.renderXml("player", records.iterator))

  test("DSv2 graft-xml: schema inference, multi-file read, short name") {
    val dir = Files.createTempDirectory("xmlds").toFile
    writeXml(dir, "a.xml", Seq(
      Seq("fideid" -> "1", "name" -> "Alice", "rating" -> "2700"),
      Seq("fideid" -> "2", "name" -> "Bob", "rating" -> "2650")))
    writeXml(dir, "b.xml", Seq(
      Seq("fideid" -> "3", "name" -> "Carol", "rating" -> "2710")))
    val df = spark.read.format("graft-xml")
      .option("recordTag", "player")
      .load(dir.getAbsolutePath + "/*.xml")
    assert(df.columns.toSeq === Seq("fideid", "name", "rating"))
    assert(df.count() === 3)
    assert(df.where(col("name") === "Carol").select("fideid").head.getString(0) === "3")
    // files become partitions: 2 files -> 2 partitions
    assert(df.rdd.getNumPartitions === 2)
  }

  test("DSv2 graft-xml: column pruning reaches the scan") {
    val dir = Files.createTempDirectory("xmlds2").toFile
    writeXml(dir, "a.xml", Seq(Seq("fideid" -> "1", "name" -> "Alice", "rating" -> "2700")))
    val df = spark.read.format("graft-xml").option("recordTag", "player")
      .load(dir.getAbsolutePath + "/*.xml")
      .select("rating")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("cols=rating"), s"pruning not pushed:\n$scan")
    assert(df.head.getString(0) === "2700")
  }

  test("DSv2 graft-xml: record-level filter pushdown reaches the scan and filters correctly") {
    val dir = Files.createTempDirectory("xmlds3").toFile
    writeXml(dir, "a.xml", Seq(
      Seq("fideid" -> "1", "name" -> "Alice", "country" -> "USA"),
      Seq("fideid" -> "2", "name" -> "Bob", "country" -> "GER"),
      Seq("fideid" -> "3", "name" -> "Carol", "country" -> "USA"),
      Seq("fideid" -> "4", "name" -> "NoFed")))
    val base = spark.read.format("graft-xml").option("recordTag", "player")
      .load(dir.getAbsolutePath + "/*.xml")
    val usa = base.where(col("country") === "USA")
    val scan = usa.queryExecution.executedPlan.toString
    assert(scan.contains("EqualTo(country,USA)"), s"filter not pushed:\n$scan")
    assert(usa.select("fideid").collect().map(_.getString(0)).sorted.toSeq === Seq("1", "3"))
    // In / IsNull / IsNotNull are also pushable and must stay correct
    assert(base.where(col("country").isin("USA", "GER")).count() === 3)
    assert(base.where(col("country").isNull).select("fideid").head.getString(0) === "4")
    assert(base.where(col("country").isNotNull).count() === 3)
    // unsupported predicates (e.g. startsWith) still work via residual evaluation
    assert(base.where(col("name").startsWith("Al")).count() === 1)
  }

  test("DSv2 graft-xml: a filesystem set only on the session lists, infers and reads") {
    val dir = Files.createTempDirectory("xmlds4").toFile
    writeXml(dir, "a.xml", Seq(
      Seq("fideid" -> "1", "name" -> "Alice"), Seq("fideid" -> "2", "name" -> "Bob")))
    val session = spark.newSession()
    session.conf.set("fs.graftlocal.impl", classOf[GraftLocalFs].getName)
    // Uncached, so the reader cannot pick up the instance the listing made.
    session.conf.set("fs.graftlocal.impl.disable.cache", "true")
    org.apache.spark.sql.SparkSession.setActiveSession(session)
    try {
      val df = session.read.format("graft-xml").option("recordTag", "player")
        .load(s"graftlocal://${dir.getAbsolutePath}/*.xml")
      assert(df.columns.toSeq === Seq("fideid", "name"))
      assert(df.select("fideid").collect().map(_.getString(0)).sorted.toSeq === Seq("1", "2"))
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
  }
}

/** The local filesystem under the made-up scheme `graftlocal`, which no
  * Hadoop conf names unless a session sets `fs.graftlocal.impl`. */
class GraftLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftlocal:///")
  override def getScheme: String = "graftlocal"
}
