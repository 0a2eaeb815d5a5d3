package graft

import java.io.{File, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}
import java.nio.file.Files

import graft.sources.{TableLoader, XmlRecordSource, ZipSource}
import graft.sinks.PartitionedWriter
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("XML render -> parse round-trips records including escapes") {
    val rows = Seq(
      Seq("id" -> "1", "name" -> "a<b&c>d"),
      Seq("id" -> "2", "name" -> "plain"))
    val xml = XmlRecordSource.renderXml("rec", rows.iterator)
    val parsed = XmlRecordSource.parseRecords(xml, "rec").toSeq
    assert(parsed === Seq(Map("id" -> "1", "name" -> "a<b&c>d"), Map("id" -> "2", "name" -> "plain")))
  }

  test("XML distributed read parses partition-local documents") {
    val docs = Seq(
      XmlRecordSource.renderXml("r", Iterator(Seq("k" -> "1", "v" -> "x"))),
      XmlRecordSource.renderXml("r", Iterator(Seq("k" -> "2", "v" -> "y")))).toDS()
    val df = XmlRecordSource.read(docs, "r", Seq("k", "v"))
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSet === Set("1" -> "x", "2" -> "y"))
  }

  test("ZipSource reads entries from zip archives via binaryFile") {
    val dir = Files.createTempDirectory("graftzip").toFile
    val f = new File(dir, "a.zip")
    val zout = new ZipOutputStream(new FileOutputStream(f))
    zout.putNextEntry(new ZipEntry("inner.txt"))
    zout.write("hello zip".getBytes)
    zout.closeEntry(); zout.close()
    val entries = ZipSource.entries(spark, dir.getAbsolutePath)
    val got = entries.select("entry", "content").collect()
      .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1)))).toSet
    assert(got === Set(("inner.txt", "hello zip")))
  }

  test("PartitionedWriter writes per-partition dirs and honors skip-if-exists") {
    val out = Files.createTempDirectory("graftlake").toFile.getAbsolutePath + "/t"
    val df = Seq((1, "2024", "01"), (2, "2024", "02")).toDF("v", "y", "m")
    assert(PartitionedWriter.write(df, out, Seq("y", "m")))
    assert(new File(s"$out/y=2024/m=01").exists())
    // skip mode: existing target -> no write, returns false
    assert(!PartitionedWriter.write(df, out, Seq("y", "m"), overwritePartitions = false))
    // dynamic overwrite of a single partition leaves others in place
    val df2 = Seq((3, "2024", "02")).toDF("v", "y", "m")
    assert(PartitionedWriter.write(df2, out, Seq("y", "m")))
    val back = spark.read.parquet(out)
    assert(back.where(col("m") === "01").count() === 1)
  }

  /** Write one row as a bare parquet file (no Spark schema in the footer,
    * so inference reads the parquet types alone) with the given message
    * type; `fill` sets the row's fields. */
  private def writeParquet(path: String, messageType: String)(fill: SimpleGroup => Unit): Unit = {
    val mt = MessageTypeParser.parseMessageType(messageType)
    val w = ExampleParquetWriter.builder(new Path(path)).withType(mt)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val g = new SimpleGroup(mt)
    fill(g)
    try w.write(g) finally w.close()
  }

  test("TableLoader's pinned schema equals the inferred one for every table") {
    for (dir <- Seq(Sf, s"${new File(Sf).getParent}/sf0.01"); t <- TableLoader.tables) {
      val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
      // StructField equality covers names, types, nullability and metadata.
      assert(TableLoader.load(spark, dir, t).schema === inferred, s"$dir/$t")
    }
  }

  test("a file rewritten at the same path with another schema is re-inferred") {
    val dir = Files.createTempDirectory("graftschema").toFile.getAbsolutePath
    val file = s"$dir/region.parquet"
    writeParquet(file, "message t { required int64 a; }")(_.add("a", 1L))
    assert(TableLoader.load(spark, dir, "region").schema.fieldNames.toSeq === Seq("a"))
    val fs = new Path(file).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = fs.getFileStatus(new Path(file)).getModificationTime
    writeParquet(file, "message t { required int64 a; required binary b (UTF8); }") { g =>
      g.add("a", 2L); g.add("b", "x")
    }
    fs.setTimes(new Path(file), before + 5000L, -1L)
    val reread = TableLoader.load(spark, dir, "region")
    assert(reread.schema.fieldNames.toSeq === Seq("a", "b"))
    assert(reread.collect().map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((2L, "x")))
  }

  test("flipping spark.sql.parquet.binaryAsString changes the loaded schema") {
    val dir = Files.createTempDirectory("graftbinary").toFile.getAbsolutePath
    writeParquet(s"$dir/region.parquet", "message t { required int64 a; optional binary p; }") { g =>
      g.add("a", 1L); g.add("p", Binary.fromString("x"))
    }
    val key = "spark.sql.parquet.binaryAsString"
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(TableLoader.load(spark, dir, "region").schema("p").dataType === BinaryType)
      spark.conf.set(key, "true")
      assert(TableLoader.load(spark, dir, "region").schema("p").dataType === StringType)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a second load of one table runs no Spark job") {
    // A fresh copy of a table, so the first load is a cache miss whatever
    // ran before in this JVM: it must run the footer job the listener has
    // to see, and the second load must run none.
    val dir = Files.createTempDirectory("graftbind").toFile.getAbsolutePath
    Files.copy(new File(s"$Sf/orders.parquet").toPath, new File(s"$dir/orders.parquet").toPath)
    assert(jobsOf(TableLoader.load(spark, dir, "orders")) >= 1)
    assert(jobsOf(TableLoader.load(spark, dir, "orders")) === 0)
  }
}
