package graft

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.pipeline.RatingsPipeline
import graft.sources.XmlRecordSource

class RatingsPipelineSpec extends SparkSpec {

  private def writeRatingsZip(dir: File, name: String, players: Seq[Map[String, String]]): Unit = {
    val xml = XmlRecordSource.renderXml("player",
      players.iterator.map(_.toSeq))
    val z = new ZipOutputStream(new FileOutputStream(new File(dir, name)))
    z.putNextEntry(new ZipEntry(name.replace(".zip", ".xml")))
    z.write(xml.getBytes("UTF-8"))
    z.closeEntry(); z.close()
  }

  private def player(id: Int, nameStr: String, fed: String, sex: String, rating: Int,
                     birthday: Int): Map[String, String] = Map(
    "fideid" -> id.toString, "name" -> nameStr, "country" -> fed, "sex" -> sex,
    "title" -> "GM", "rating" -> rating.toString, "games" -> "10", "k" -> "20",
    "birthday" -> birthday.toString)

  test("end-to-end: zip XML -> conform -> validate -> lake -> leaderboard") {
    val zipDir = Files.createTempDirectory("ratingszips").toFile
    val lake = Files.createTempDirectory("ratingslake").toFile.getAbsolutePath + "/ratings"
    writeRatingsZip(zipDir, "jan24.zip", Seq(
      player(1, "Alice", "USA", "F", 2700, 1990),
      player(2, "Bob", "GER", "M", 2650, 1985),
      player(3, "Carol", "USA", "F", 2710, 1995),
      player(3, "Carol-Dup", "USA", "F", 2711, 1995), // unique violation
      player(4, "Dora", "XXXX", "F", 2500, 1850)      // regex + range violations
    ))
    val report = RatingsPipeline.ingestPeriod(spark, zipDir.getAbsolutePath + "/*.zip",
      lake, 2024, 1)
    val rep = report.collect().map(r => (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(rep(("unique", "fide_id")) === 2L)
    assert(rep(("regex", "fide_federation")) === 1L)
    assert(rep(("range", "birth_year")) === 1L)
    assert(rep(("range", "period_month")) === 0L)

    val lakeDf = spark.read.parquet(lake)
    assert(lakeDf.count() === 5)
    assert(lakeDf.columns.contains("foa_title")) // add-missing column
    assert(lakeDf.where(col("sex") === 0).count() === 4) // F -> 0 code-map

    val lb = RatingsPipeline.leaderboard(spark, lake, 2024, 1, k = 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(lb.toSeq.contains(("USA", 1, 3L))) // Carol (2710) tops USA
    assert(lb.count(_._1 == "USA") === 2)
  }

  test("ingestPeriod lands equal lakes and reports from a zipped and an XML drop") {
    val players = Seq(
      player(1, "Alice", "USA", "F", 2700, 1990),
      player(2, "Bob", "GER", "M", 2650, 0),
      player(2, "Bob-Dup", "GERM", "M", 2651, 1850))
    val zipDir = Files.createTempDirectory("ratingszips3").toFile
    writeRatingsZip(zipDir, "mar24.zip", players)
    val xmlDir = Files.createTempDirectory("ratingsxml").toFile
    Files.writeString(new File(xmlDir, "mar24.xml").toPath,
      XmlRecordSource.renderXml("player", players.iterator.map(_.toSeq)))
    val Seq((zipLake, zipReport), (xmlLake, xmlReport)) =
      Seq(zipDir.getAbsolutePath + "/*.zip", xmlDir.getAbsolutePath + "/*.xml").map { glob =>
        val lake = Files.createTempDirectory("ratingslake3").toFile.getAbsolutePath + "/ratings"
        lake -> RatingsPipeline.ingestPeriod(spark, glob, lake, 2024, 3).collect().toSet
      }
    assert(zipReport === xmlReport)
    assert(zipReport.map(r => (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap ===
      Map(("unique", "fide_id") -> 2L, ("not_null", "rating") -> 0L,
        ("regex", "fide_federation") -> 1L, ("range", "birth_year") -> 1L,
        ("range", "period_month") -> 0L))
    val zipRows = spark.read.parquet(zipLake).collect().toSet
    assert(zipRows.size === 3)
    assert(zipRows === spark.read.parquet(xmlLake).collect().toSet)
    assert(new File(xmlLake + "/period_year=2024/period_month=3").exists())
  }

  test("birth_year 0 conforms to null, not a range violation") {
    val zipDir = Files.createTempDirectory("ratingszips4").toFile
    val lake = Files.createTempDirectory("ratingslake4").toFile.getAbsolutePath + "/ratings"
    writeRatingsZip(zipDir, "apr24.zip", Seq(
      player(1, "Alice", "USA", "F", 2700, 1990),
      player(2, "Unknown", "GER", "M", 2500, 0))) // FIDE unknown-birth-year sentinel
    val report = RatingsPipeline.ingestPeriod(spark, zipDir.getAbsolutePath + "/*.zip",
      lake, 2024, 4)
    val rep = report.collect().map(r => (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(rep(("range", "birth_year")) === 0L) // 0 is unknown, not year 0
    val lakeDf = spark.read.parquet(lake)
    assert(lakeDf.where(col("fide_id") === 2 && col("birth_year").isNull).count() === 1)
  }

  test("retry runs until success and surfaces the last error after exhaustion") {
    import graft.pipeline.TaskRunner
    var calls = 0
    val slept = collection.mutable.ArrayBuffer.empty[Long]
    val out = TaskRunner.retry(attempts = 3, backoffMs = 100, sleep = slept.+=(_)) { () =>
      calls += 1
      if (calls < 3) sys.error(s"flaky $calls")
      "ok"
    }
    assert(out === "ok" && calls === 3)
    assert(slept.toSeq === Seq(100L, 200L)) // exponential backoff
    val ex = intercept[RuntimeException] {
      TaskRunner.retry(attempts = 2, backoffMs = 1, sleep = _ => ())(() => sys.error("always"))
    }
    assert(ex.getMessage === "always")
  }

  test("ingestPeriodCached skips unchanged input and re-runs on changed input") {
    import graft.pipeline.TaskRunner
    val zipDir = Files.createTempDirectory("ratingszips5").toFile
    val lake = Files.createTempDirectory("ratingslake5").toFile.getAbsolutePath + "/ratings"
    val cache = Files.createTempDirectory("ratingscache5").toFile.getAbsolutePath
    val glob = zipDir.getAbsolutePath + "/*.zip"
    writeRatingsZip(zipDir, "may24.zip", Seq(player(1, "Alice", "USA", "F", 2700, 1990)))
    val first = RatingsPipeline.ingestPeriodCached(spark, glob, lake, 2024, 5, cache)
    assert(first.isDefined, "first run must ingest")
    assert(spark.read.parquet(lake).count() === 1)
    val second = RatingsPipeline.ingestPeriodCached(spark, glob, lake, 2024, 5, cache)
    assert(second.isEmpty, "unchanged input must be memoized")
    // a new archive changes the listing fingerprint -> re-ingest
    writeRatingsZip(zipDir, "may24b.zip", Seq(player(2, "Bob", "GER", "M", 2650, 1985)))
    assert(TaskRunner.inputFingerprint(spark, glob) !==
      TaskRunner.inputFingerprint(spark, zipDir.getAbsolutePath + "/may24.zip"))
    val third = RatingsPipeline.ingestPeriodCached(spark, glob, lake, 2024, 5, cache)
    assert(third.isDefined, "changed input must re-run")
    assert(spark.read.parquet(lake).count() === 2)
  }

  test("memoize withholds the marker when the input changed under the body") {
    import graft.pipeline.TaskRunner
    val cache = Files.createTempDirectory("memocache").toFile.getAbsolutePath
    var runs = 0
    // revalidate disagrees with the pre-fingerprint -> no marker written
    assert(TaskRunner.memoize(spark, cache, "t", "fp0", () => "fp1") { runs += 1 })
    assert(runs === 1)
    // next call must run again (input changed mid-body, nothing recorded)
    assert(TaskRunner.memoize(spark, cache, "t", "fp0", () => "fp0") { runs += 1 })
    assert(runs === 2)
    // now the marker stuck -> third call skips
    assert(!TaskRunner.memoize(spark, cache, "t", "fp0", () => "fp0") { runs += 1 })
    assert(runs === 2)
  }

  test("missingPeriods plans the backfill via anti join") {
    val zipDir = Files.createTempDirectory("ratingszips2").toFile
    val lake = Files.createTempDirectory("ratingslake2").toFile.getAbsolutePath + "/ratings"
    writeRatingsZip(zipDir, "feb24.zip", Seq(player(1, "Alice", "USA", "F", 2700, 1990)))
    RatingsPipeline.ingestPeriod(spark, zipDir.getAbsolutePath + "/*.zip", lake, 2024, 2)
    val missing = RatingsPipeline.missingPeriods(spark, lake, 2024, 1, 2024, 4)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(missing === Seq((2024, 1), (2024, 3), (2024, 4)))
  }

  private def ingestFeb24(tag: String): String = {
    val zipDir = Files.createTempDirectory(s"ratingszips$tag").toFile
    val lake = Files.createTempDirectory(s"ratingslake$tag").toFile.getAbsolutePath + "/ratings"
    writeRatingsZip(zipDir, "feb24.zip", Seq(
      player(1, "Alice", "USA", "F", 2700, 1990),
      player(2, "Bob", "GER", "M", 2650, 1985),
      player(2, "Bob-Dup", "GER", "M", 2651, 0)))
    RatingsPipeline.ingestPeriod(spark, zipDir.getAbsolutePath + "/*.zip", lake, 2024, 2)
    lake
  }

  test("the ingest report parses its drop once and its digest runs at most 3 jobs") {
    val zipDir = Files.createTempDirectory("ratingszips6").toFile
    val lake = Files.createTempDirectory("ratingslake6").toFile.getAbsolutePath + "/ratings"
    writeRatingsZip(zipDir, "jun24.zip", Seq(
      player(1, "Alice", "USA", "F", 2700, 1990),
      player(1, "Alice-Dup", "USA", "F", 2701, 1990)))
    val report = RatingsPipeline.ingestPeriod(spark, zipDir.getAbsolutePath + "/*.zip",
      lake, 2024, 6)
    assert(jobsOf(QueryRun.digest(report)) <= 3)
    report.collect()
    val leaves = new AdaptiveSparkPlanHelper {}.collectLeaves(report.queryExecution.executedPlan)
    assert(leaves.size === 1 && leaves.head.nodeName.startsWith("BatchScan graft-xml"),
      leaves.mkString("\n"))
  }

  test("lakeSchema is the lake's inferred schema, and lake reads build with no job") {
    val lake = ingestFeb24("7")
    assert(RatingsPipeline.lakeSchema(spark) === spark.read.parquet(lake).schema)
    assert(jobsOf(RatingsPipeline.leaderboard(spark, lake, 2024, 2, 10)) === 0)
    assert(jobsOf(RatingsPipeline.missingPeriods(spark, lake, 2024, 1, 2024, 4)) === 0)
    assert(RatingsPipeline.leaderboard(spark, lake, 2024, 2, 10).count() === 3)
  }

  test("a one-archive drop is one partition: its report and the missing periods need no exchange") {
    val zipDir = Files.createTempDirectory("ratingszips10").toFile
    val lake = Files.createTempDirectory("ratingslake10").toFile.getAbsolutePath + "/ratings"
    writeRatingsZip(zipDir, "may24.zip", Seq(
      player(1, "Alice", "USA", "F", 2700, 1990),
      player(1, "Alice-Dup", "USA", "F", 2701, 1990),
      player(2, "Bob", "GERM", "M", 2650, 1850)))
    val report = RatingsPipeline.ingestPeriod(spark, zipDir.getAbsolutePath + "/*.zip",
      lake, 2024, 5)
    val helper = new AdaptiveSparkPlanHelper {}
    def exchanges(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      helper.collect(df.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e.nodeName
      }
    }
    assert(exchanges(report).isEmpty)
    assert(jobsOf(QueryRun.digest(report)) === 1)
    val rep = report.collect().map(r => (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(rep === Map(("unique", "fide_id") -> 2L, ("not_null", "rating") -> 0L,
      ("regex", "fide_federation") -> 1L, ("range", "birth_year") -> 1L,
      ("range", "period_month") -> 0L))
    // only the lake's period list is shuffled (and broadcast): the sort
    // and the anti join stay in the one partition of the wanted months
    val missing = RatingsPipeline.missingPeriods(spark, lake, 2024, 3, 2024, 7)
    assert(exchanges(missing).sorted === Seq("BroadcastExchange", "Exchange"))
    assert(missing.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ===
      Seq((2024, 3), (2024, 4), (2024, 6), (2024, 7)))
  }

  test("missingPeriods lists every period for a lake path that does not exist") {
    val lake = Files.createTempDirectory("ratingslake8").toFile.getAbsolutePath + "/none"
    val missing = RatingsPipeline.missingPeriods(spark, lake, 2023, 11, 2024, 2)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(missing === Seq((2023, 11), (2023, 12), (2024, 1), (2024, 2)))
  }

  test("missingPeriods raises on a lake it cannot read") {
    val lake = Files.createTempDirectory("ratingslake9").toFile
    val part = new File(lake, "period_year=2024/period_month=2")
    assert(part.mkdirs())
    Files.writeString(new File(part, "part-0.parquet").toPath, "not a parquet file")
    intercept[org.apache.spark.SparkException] {
      RatingsPipeline.missingPeriods(spark, lake.getAbsolutePath, 2024, 1, 2024, 4).collect()
    }
  }
}
