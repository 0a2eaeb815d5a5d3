package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Partitioned, idempotent parquet lake writer — the Spark re-expression
  * of the reference's per-period GCS layout + skip-if-exists logic
  * (/root/reference/prefect/flows/ingest_web_to_gcs.py:158-186):
  * `partitionBy(period...)` replaces the filename-encoded period, and
  * dynamic partition overwrite replaces the list-blobs existence check —
  * a backfill rewrites only the periods it actually produced, which is
  * the idempotency a 100 TB lake needs (no full-table overwrite, no
  * driver-side listing of millions of objects).
  */
object PartitionedWriter {

  /** True if the target (or a specific partition path) already exists. */
  def exists(df: DataFrame, path: String): Boolean = {
    val hadoopConf = df.sparkSession.sparkContext.hadoopConfiguration
    val p = new Path(path)
    p.getFileSystem(hadoopConf).exists(p)
  }

  /** The overwrite mode of every write, fixed so no caller can pick
    * "static". SAFETY INVARIANT: a read-back-and-overwrite merge
    * ([[UpsertWriter]]) lazily READS the path it OVERWRITES. That is
    * safe only under dynamic partition overwrite, which deletes the
    * replaced partitions at job COMMIT, after the read completed. A
    * per-write option, not a session conf, so unrelated writes keep
    * the session default. */
  private val OverwriteMode = "dynamic"

  /** Write partitioned parquet; `overwritePartitions = false` skips the
    * write entirely when the target exists (reference skip semantics),
    * `true` uses dynamic partition overwrite (idempotent backfill). */
  def write(df: DataFrame, path: String, partitionCols: Seq[String],
            overwritePartitions: Boolean = true): Boolean = {
    if (!overwritePartitions && exists(df, path)) return false
    df.write
      .option("partitionOverwriteMode", OverwriteMode)
      // zstd over the default snappy: ~20-30% smaller files at similar
      // scan speed — at 100 TB the bytes on disk and over the wire are
      // the bill, and parquet scan is rarely decompress-bound.
      .option("compression", "zstd")
      .partitionBy(partitionCols: _*)
      .mode(if (overwritePartitions) "overwrite" else "errorifexists")
      .parquet(path)
    true
  }
}
