package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Record-level MERGE (upsert) into a partitioned parquet lake without a
  * table format: new records replace existing records with the same key;
  * unmatched existing records survive; only the partitions the incoming
  * batch touches are read back and rewritten (dynamic partition
  * overwrite) — untouched history is never scanned or rewritten, which
  * is what bounds the cost at 100 TB (cost ∝ touched partitions, not
  * table size).
  *
  * This is the "corrected monthly drop" story of the reference lake: a
  * re-issued ratings file for one period merges over that period only.
  *
  * Conflict resolution inside one batch and against existing rows is
  * last-writer-wins by `versionCol` (ties break toward the incoming
  * batch), evaluated with one window per touched partition set — a
  * shuffle keyed on the record key, partial to the touched partitions.
  *
  * Caveat (shared by all partition-scoped merges): a key that MOVES to
  * a different partition leaves its old copy behind unless the old
  * partition is also in the batch — keys must be stable within their
  * partition column (true for (fide_id, period) lakes).
  */
object UpsertWriter {

  /** Merge `updates` into the lake at `path`.
    * @param keyCols     record identity within the table
    * @param partitionCols lake partition layout (must be columns of both
    *                    sides); only partitions present in `updates` are
    *                    read back and rewritten
    * @param versionCol  monotonically comparable recency column
    * @return number of partitions rewritten */
  def upsert(updates: DataFrame, path: String, keyCols: Seq[String],
             partitionCols: Seq[String], versionCol: String): Long = {
    val spark = updates.sparkSession
    val touched = updates.select(partitionCols.map(col): _*).distinct()
    val touchedCount = touched.count()
    val existing: Option[DataFrame] =
      if (PartitionedWriter.exists(updates, path))
        Some(spark.read.parquet(path)
          // partition pruning: only the touched partitions are scanned
          .join(broadcast(touched), partitionCols, "left_semi"))
      else None
    val incoming = updates.withColumn("_src", lit(1))
    val merged = existing match {
      case Some(ex) => ex.select(incoming.columns.filter(_ != "_src").toIndexedSeq.map(col): _*)
        .withColumn("_src", lit(0)).unionByName(incoming)
      case None => incoming
    }
    // last-writer-wins per key: highest version, incoming batch on ties
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col("_src").desc)
    val winners = merged.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn", "_src")
    // `winners` reads `path` while the write overwrites it: safe
    // because PartitionedWriter always overwrites dynamically (see its
    // OverwriteMode).
    PartitionedWriter.write(winners, path, partitionCols)
    touchedCount
  }
}
