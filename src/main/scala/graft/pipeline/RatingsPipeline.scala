package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.operators.{Conform, ConformSpec, Validate, Windows}
import graft.sinks.PartitionedWriter
import graft.sources.xmlds.XmlDataSource

/** End-to-end re-expression of the reference's ingest flow
  * (`ingest_web_to_gcs.py:180-200`, `ingest_single_month_web_to_gcs`):
  * zipped XML ratings files -> distributed parse -> schema conformance
  * (rename/cast/code-map/add-missing, ingest_web_to_gcs.py:100-135) ->
  * declarative validation (chess_ratings_data_model.py:9-31) ->
  * idempotent period-partitioned parquet lake -> leaderboard analytics.
  *
  * Differences from the reference are all scale-driven: the zip/XML
  * work happens per file on executors, through the `graft-xml` source
  * (no driver download/pandas funnel), validation returns a violations
  * report instead of a driver-side assert, and idempotency is dynamic
  * partition overwrite instead of list-blobs-then-skip (no O(objects)
  * driver listing). The drop is read with its string schema declared
  * and lake reads declare [[lakeSchema]], so neither runs a
  * schema-inference job.
  */
object RatingsPipeline {

  /** The reference's rating-record schema after preprocessing. */
  val RatingFields: Seq[String] =
    Seq("fide_id", "player_name", "fide_federation", "sex", "title", "rating",
      "game_count", "k", "birth_year")

  val ConformRatings: ConformSpec = ConformSpec(
    renames = Map("fideid" -> "fide_id", "name" -> "player_name",
      "country" -> "fide_federation", "games" -> "game_count",
      "birthday" -> "birth_year"),
    casts = Map("fideid" -> "long", "rating" -> "int", "games" -> "int",
      "k" -> "int", "birthday" -> "int"),
    codeMaps = Map("sex" -> Map("F" -> 0, "M" -> 1)),
    addMissing = Seq("foa_title" -> "string"),
    // birth_year 0 (common in FIDE drops) means unknown, not year 0:
    // null it before the cast so it is neither counted as a Range
    // violation nor used in age math (reference preprocess semantics).
    nullIf = Map("birthday" -> "0"))

  /** The string fields `ingestPeriod` reads from each `<player>` record. */
  private val SourceSchema: StructType = StructType(
    Seq("fideid", "name", "country", "sex", "title", "rating", "games", "k", "birthday")
      .map(StructField(_, StringType)))

  private def conform(raw: DataFrame, periodYear: Int, periodMonth: Int): DataFrame =
    Conform(raw, ConformRatings.copy(enrich = Seq(
      "period_year" -> lit(periodYear), "period_month" -> lit(periodMonth))))

  /** The schema of the lake `ingestPeriod` writes, as the parquet reader
    * would infer it: `ConformRatings` over the parsed string fields, the
    * period partition columns last, every field nullable. It comes from
    * analyzing `Conform` over an empty frame, so it runs no job. The
    * JVM-wide schema cache (`TableLoader.schemaOf`) cannot serve the
    * lake: it is keyed on the file listing, which each period's write
    * changes. */
  def lakeSchema(spark: SparkSession): StructType = {
    val raw = spark.createDataFrame(java.util.Collections.emptyList[Row](), SourceSchema)
    StructType(conform(raw, 0, 0).schema.map(_.copy(nullable = true)))
  }

  val RatingRules: Seq[Validate.Rule] = Seq(
    Validate.Unique("fide_id"),
    Validate.NotNull("rating"),
    Validate.Regex("fide_federation", "(?i)^[A-Z]{3}$"),
    Validate.Range("birth_year", 1900, 2026),
    Validate.Range("period_month", 1, 12))

  /** Ingest one period's ratings drop into the lake: every file the glob
    * names, each a zip archive of XML files or a plain XML file, read
    * through `graft-xml`. Returns the validation report.
    * `overwrite=false` reproduces the reference's skip-if-exists; `true`
    * is an idempotent partition backfill. */
  def ingestPeriod(spark: SparkSession, zipGlob: String, lakePath: String,
                   periodYear: Int, periodMonth: Int,
                   overwrite: Boolean = true): DataFrame = {
    val raw = spark.read.format("graft-xml").schema(SourceSchema)
      .option("recordTag", "player").load(zipGlob)
    // graft-xml reads each file in one partition, so a drop of one file
    // is declared one partition. `coalesce(1)` of a single partition
    // moves no data, but the planner then knows the records are in one
    // place, so the report's keyed and global aggregates run in the
    // parse task with no exchange.
    val oneFile = XmlDataSource.files(spark.sessionState.newHadoopConf(), zipGlob).length == 1
    val conformed = conform(if (oneFile) raw.coalesce(1) else raw, periodYear, periodMonth)
    val report = Validate.report("ratings", conformed, RatingRules)
    PartitionedWriter.write(conformed, lakePath, Seq("period_year", "period_month"),
      overwritePartitions = overwrite)
    report
  }

  /** `ingestPeriod` with the reference's task semantics layered on:
    * the source listing + ingest is retried with backoff (flaky object
    * stores), and the whole period is memoized on an input fingerprint
    * (file paths/sizes/mtimes) so re-running a backfill skips periods
    * whose source archives have not changed. Returns Some(report) when
    * the ingest actually ran, None when memoization skipped it. */
  def ingestPeriodCached(spark: SparkSession, zipGlob: String, lakePath: String,
                         periodYear: Int, periodMonth: Int, cacheDir: String,
                         attempts: Int = 3): Option[DataFrame] = {
    val fp = TaskRunner.retry(attempts)(() => TaskRunner.inputFingerprint(spark, zipGlob))
    var report: Option[DataFrame] = None
    TaskRunner.memoize(spark, cacheDir, s"ingest_${periodYear}_$periodMonth", fp,
      revalidate = () => TaskRunner.inputFingerprint(spark, zipGlob)) {
      report = Some(TaskRunner.retry(attempts)(() =>
        ingestPeriod(spark, zipGlob, lakePath, periodYear, periodMonth)))
    }
    report
  }

  /** Leaderboard over the lake: top-k players by rating per federation
    * for one period (the analytics the ratings lake serves). Uses the
    * native whole-operator top-k (graft.plans.TopKPerGroup) — the
    * exchange carries at most k players per federation per input
    * partition, not the whole period. */
  def leaderboard(spark: SparkSession, lakePath: String, periodYear: Int,
                  periodMonth: Int, k: Int): DataFrame =
    Windows.topKPerGroupNative(
      spark.read.schema(lakeSchema(spark)).parquet(lakePath)
        .where(col("period_year") === periodYear && col("period_month") === periodMonth),
      k, Seq(col("fide_federation")), Seq(col("rating").desc, col("fide_id")))
      .select(col("fide_federation"), col("rnk"), col("fide_id"),
        col("player_name"), col("rating"))

  /** Backfill planning (dates.py `get_date_range` analog, distributed):
    * all (year, month) periods in [start, end] minus the periods already
    * present in the lake — the driver-side existence loop
    * (ingest_web_to_gcs.py:228-232) becomes one anti join. A lake path
    * that does not exist yet holds no period; a lake that cannot be read
    * raises rather than planning a full backfill. */
  def missingPeriods(spark: SparkSession, lakePath: String,
                     startYear: Int, startMonth: Int,
                     endYear: Int, endMonth: Int): DataFrame = {
    // One row in one partition: when the lake's period list broadcasts,
    // the anti join keeps that one partition, so neither the sort nor an
    // aggregate over the result needs an exchange.
    val wanted = spark.range(0, 1, 1, 1).select(explode(sequence(
      make_date(lit(startYear), lit(startMonth), lit(1)),
      make_date(lit(endYear), lit(endMonth), lit(1)),
      expr("interval 1 month"))).as("m"))
      .select(year(col("m")).as("period_year"), month(col("m")).as("period_month"))
    val lake = new Path(lakePath)
    val missing =
      if (!lake.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(lake)) wanted
      else wanted.join(spark.read.schema(lakeSchema(spark)).parquet(lakePath)
        .select("period_year", "period_month").distinct(),
        Seq("period_year", "period_month"), "left_anti")
    missing.orderBy(col("period_year"), col("period_month"))
  }
}
