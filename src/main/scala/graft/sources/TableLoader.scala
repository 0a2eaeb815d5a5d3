package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Table registry for the test lake: one parquet file per table under a
  * scale-factor directory. Reads stay lazy so Catalyst pushes projection
  * and predicates into the parquet scan (verify with
  * `.explain("formatted")`: `PushedFilters` / narrow `ReadSchema`).
  *
  * Binding is the cost at this size: a bare `read.parquet` runs one Spark
  * job to infer the schema from the footers, every time. So every parquet
  * read whose schema is inferred goes through [[schemaOf]], which infers
  * once and caches the result JVM-wide, keyed on
  *  - the qualified path;
  *  - the file's (length, mtime), or for a directory the (path, length,
  *    mtime) of every leaf file, from a Hadoop stat or listing (no job);
  *  - the session's values of the confs that change what inference
  *    returns (`inferenceConfs`; `normalizeEventTs` branches on the
  *    inferred `ts` type, which `nanosAsLong` decides).
  * A rewritten, added or removed file changes the key, so the cache never
  * serves a stale schema; the one rewrite it cannot see is one that keeps
  * both the length and the mtime of every file. A schema is cached only
  * if the listing is the same before and after inference, so a file
  * replaced while it is read is not cached under its old stat. The map
  * holds strings and longs only, never a session.
  */
object TableLoader {
  val tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The session confs parquet schema inference reads. */
  private val inferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  private case class SchemaKey(path: String, files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  private val MaxSchemas = 256
  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  private def keyOf(spark: SparkSession, path: String): SchemaKey = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val q = fs.makeQualified(p)
    val st = fs.getFileStatus(q)
    val leaves =
      if (!st.isDirectory) Seq(st)
      else {
        val it = fs.listFiles(q, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
      }
    SchemaKey(q.toString, leaves.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted,
      inferenceConfs.map(spark.conf.getOption))
  }

  /** The parquet schema of `path` (a file or a directory), as a bare
    * `spark.read.parquet(path).schema` infers it, inferred once per key
    * (see above). */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val key = keyOf(spark, path)
    val cached = schemas.get(key)
    if (cached != null) cached
    else {
      val inferred = spark.read.parquet(path).schema
      if (keyOf(spark, path) == key) {
        if (schemas.size >= MaxSchemas) schemas.clear()
        schemas.put(key, inferred)
      }
      inferred
    }
  }

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    require(tables.contains(table), s"unknown table: $table")
    val path = s"$sfDir/$table.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** Events table with `ts` normalized to a proper TIMESTAMP and
    * `ts_us` (epoch micros BIGINT) — THE one events entry point for
    * queries, streaming fixtures, and specs alike. */
  def loadEvents(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventTs(load(spark, sfDir, "events"))

  /** Adapt to either physical `ts` layout the testdata has shipped:
    * raw epoch-nanos BIGINT (parquet TIMESTAMP(NANOS) surfaced via
    * `spark.sql.legacy.parquet.nanosAsLong`) or a real
    * TIMESTAMP(MICROS) column. Integer `div 1000` truncation matches
    * DuckDB's epoch_us exactly, so oracle hashes are identical on both
    * layouts. Consumers must go through here rather than hardcoding one
    * representation — a testdata regeneration flipped the layout once
    * and broke every spec that had inlined the conversion. */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts_us", expr("ts div 1000"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case _ => raw.withColumn("ts_us", unix_micros(col("ts")))
    }

  /** Register every table as a temp view so operators can mix SQL and
    * DataFrame code against the same names the DuckDB oracle uses. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    tables.foreach(t => load(spark, sfDir, t).createOrReplaceTempView(t))
}
